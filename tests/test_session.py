"""Session set-up and table loading: the shuffle width, the conf errors that
must surface, the generated-code cache and the parquet schema memo."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException, IllegalArgumentException

from projet_etl_a_rien_spark import session
from projet_etl_a_rien_spark.catalog import load_table


_GROUPS = itertools.count()


def _jobs_of(spark, fn) -> int:
    """Run ``fn`` under its own job group; the number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"test-session-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_a_table_starts_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3]}), tmp_path / "t.parquet")
    # the first load infers the schema from the footer: one job
    assert _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t")) >= 1
    assert _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t")) == 0
    # each call still returns its own lazy frame over the file
    a, b = load_table(spark, str(tmp_path), "t"), load_table(spark, str(tmp_path), "t")
    assert a is not b
    assert sorted(r.k for r in a.join(b, "k").collect()) == [1, 2, 3]


def _write_file(spark, path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def _write_directory(spark, path: str, table: pa.Table) -> None:
    spark.createDataFrame(table.to_pandas()).write.mode("overwrite").parquet(path)


@pytest.mark.parametrize("write", [_write_file, _write_directory])
def test_table_rewritten_in_place_is_inferred_again(spark, tmp_path, write):
    path = str(tmp_path / "t.parquet")
    write(spark, path, pa.table({"k": [1, 2]}))
    assert load_table(spark, str(tmp_path), "t").dtypes == [("k", "bigint")]
    write(spark, path, pa.table({"name": ["x"], "v": [0.5]}))
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("name", "string"), ("v", "double")]
    assert [tuple(r) for r in df.collect()] == [("x", 0.5)]


def test_missing_table_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException) as e:
        load_table(spark, str(tmp_path), "absent")
    assert e.value.getCondition() == "PATH_NOT_FOUND"


def test_shuffle_width_follows_default_parallelism(spark, sf_dir):
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    load_table(spark, sf_dir, "region")
    want = max(spark.sparkContext.defaultParallelism, 4)
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(want)


def test_bad_runtime_conf_value_surfaces(spark, monkeypatch):
    monkeypatch.setitem(session.RUNTIME_CONFS, "spark.sql.adaptive.enabled", "sometimes")
    with pytest.raises(IllegalArgumentException):
        session.apply_runtime_confs(spark)


def test_static_conf_is_left_to_the_builder(spark, monkeypatch):
    key = "spark.sql.codegen.cache.maxEntries"
    monkeypatch.setitem(session.RUNTIME_CONFS, key, "7")
    session.apply_runtime_confs(spark)
    assert spark.conf.get(key) == str(session.CODEGEN_CACHE_ENTRIES)


def test_warm_rerun_compiles_no_code(spark, sf_dir):
    from projet_etl_a_rien_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    q1 = REGISTRY["tpch_q1_pricing_summary"]
    q1.fn(spark, sf_dir).collect()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    q1.fn(spark, sf_dir).collect()
    assert metrics.METRIC_COMPILATION_TIME().getCount() == before
