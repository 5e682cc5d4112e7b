"""Session set-up and table loading: the shuffle width, the conf errors that
must surface, the generated-code cache, the parquet schema memo, input
sizing, which only ``catalog.py`` does, and the per-query profile, which
only ``observability.py`` reads Spark's counters for."""

from __future__ import annotations

import ast
import itertools
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException, IllegalArgumentException
from pyspark.sql import functions as F

from projet_etl_a_rien_spark import session
from projet_etl_a_rien_spark.catalog import (
    load_table,
    row_bound,
    table_row_bound,
    widen_input,
)


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
    from projet_etl_a_rien_spark.queries import REGISTRY

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    q1 = REGISTRY["tpch_q1_pricing_summary"]
    q1.fn(spark, sf_dir).collect()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    q1.fn(spark, sf_dir).collect()
    assert metrics.METRIC_COMPILATION_TIME().getCount() == before


# ---------------------------------------------------------------------------
# Input sizing: catalog.row_bound / table_row_bound / widen_input
# ---------------------------------------------------------------------------


def _table_of(spark, tmp_path, n: int):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": list(range(n)), "v": [str(i) for i in range(n)]}), path)
    return spark.read.parquet(path)


def test_row_bound_answers_from_footers_with_no_job(spark, tmp_path):
    df = _table_of(spark, tmp_path, 50)
    got = []
    assert _jobs_of(spark, lambda: got.append(row_bound(df.where("k < 5")))) == 0
    assert _jobs_of(spark, lambda: got.append(row_bound(df, probe_cap=10))) == 0
    # the footer count is the input cardinality, never capped
    assert got == [50, 50]


_EXPANDING = {
    "join": lambda df: df.alias("a").join(df.alias("b"), "k"),
    "explode": lambda df: df.select(F.explode(F.array("v", "v")).alias("v")),
    "union": lambda df: df.union(df),
}


@pytest.mark.parametrize("kind", sorted(_EXPANDING))
def test_row_bound_probes_expanding_plans_once(spark, tmp_path, monkeypatch, kind):
    frame = _EXPANDING[kind](_table_of(spark, tmp_path, 50))
    n, cap = frame.count(), 60
    counts = []
    count = type(frame).count

    def _counting(self):
        counts.append(self)
        return count(self)

    monkeypatch.setattr(type(frame), "count", _counting)
    assert row_bound(frame, cap) == min(n, cap + 1)
    assert len(counts) == 1


@pytest.mark.parametrize("kind", sorted(_EXPANDING))
def test_row_bound_without_cap_is_none_and_runs_no_job(spark, tmp_path, kind):
    frame = _EXPANDING[kind](_table_of(spark, tmp_path, 50))
    got = []
    assert _jobs_of(spark, lambda: got.append(row_bound(frame))) == 0
    assert got == [None]


def test_table_row_bound_missing_is_none_and_empty_is_zero(spark, tmp_path):
    assert table_row_bound(spark, str(tmp_path), "absent") is None
    pq.write_table(pa.table({"k": pa.array([], pa.int64())}), tmp_path / "empty.parquet")
    assert table_row_bound(spark, str(tmp_path), "empty") == 0


@pytest.mark.parametrize(
    "project",
    [
        lambda df: df.select("k", (F.col("k") * 2).alias("id")),
        lambda df: df.select(F.col("k").alias("id"), F.explode(F.array("v", "v")).alias("s")),
    ],
    ids=["projection", "explode"],
)
def test_widen_input_sizes_a_projection_like_its_source(spark, tmp_path, project):
    """A narrow projection has its source's partitions, so measuring it
    widens exactly as measuring the source did."""
    df = _table_of(spark, tmp_path, 40)
    proj = project(df)
    cores = spark.sparkContext.defaultParallelism
    by_source = proj if df.rdd.getNumPartitions() >= cores else proj.repartition(cores, "id")
    assert widen_input(proj, "id").rdd.getNumPartitions() == by_source.rdd.getNumPartitions()


PKG = Path(__file__).resolve().parent.parent / "projet_etl_a_rien_spark"
SIZING_CALLS = {"inputFiles", "getNumPartitions"}
BROADCAST_CONF = "spark.sql.autoBroadcastJoinThreshold"


def _sizing_sites(tree):
    """(line, what) for every input-sizing construct in a module's AST.
    A conf literal passed to a ``.config(...)`` call (the session
    builder) sets the threshold rather than reading it."""
    builder_args = {
        id(a)
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "config"
        for a in n.args
    }
    for n in ast.walk(tree):
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
            inner = n.func.value
            if (
                n.func.attr == "count"
                and isinstance(inner, ast.Call)
                and isinstance(inner.func, ast.Attribute)
                and inner.func.attr == "limit"
            ):
                yield n.lineno, "limit(...).count()"
            if n.func.attr in SIZING_CALLS:
                yield n.lineno, n.func.attr
        elif isinstance(n, ast.Import):
            if any(a.name.startswith("pyarrow.parquet") for a in n.names):
                yield n.lineno, "import pyarrow.parquet"
        elif isinstance(n, ast.ImportFrom):
            mod = n.module or ""
            if mod.startswith("pyarrow.parquet") or (
                mod == "pyarrow" and any(a.name == "parquet" for a in n.names)
            ):
                yield n.lineno, "import pyarrow.parquet"
            if mod.endswith("catalog") and any(a.name.startswith("_") for a in n.names):
                yield n.lineno, "private catalog import"
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and BROADCAST_CONF in n.value
            and id(n) not in builder_args
        ):
            yield n.lineno, BROADCAST_CONF


def test_only_catalog_sizes_inputs():
    """Footer counts, bounded ``limit(k).count()`` probes, partition counts
    and the broadcast threshold are read in catalog.py alone, so one policy
    sizes every input."""
    offenders = [
        (str(p.relative_to(PKG)), line, what)
        for p in sorted(PKG.rglob("*.py"))
        if p.relative_to(PKG) != Path("catalog.py")
        for line, what in _sizing_sites(ast.parse(p.read_text()))
    ]
    assert not offenders, offenders
    # the guard sees what it is meant to catch
    probe = "edges.limit(10).count()\nimport pyarrow.parquet as pq\ndf.rdd.getNumPartitions()\n"
    assert len(list(_sizing_sites(ast.parse(probe)))) == 3


# ---------------------------------------------------------------------------
# Per-query profile: observability.profile
# ---------------------------------------------------------------------------


def _job_groups_from(spark, first_id: int) -> dict[int, str | None]:
    """{job id: job group} of every job with id >= ``first_id``, read from
    the status store after the listener bus has delivered every event."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    out = {}
    for k in range(jobs.size()):
        j = jobs.apply(k)
        if j.jobId() < first_id:
            break
        g = j.jobGroup()
        out[j.jobId()] = g.get() if g.isDefined() else None
    return out


def test_profile_splits_jobs_and_wall_time(spark, sf_dir):
    from projet_etl_a_rien_spark.observability import profile

    p = profile(spark, "parts_kcore", sf_dir)
    assert p["build_jobs"] >= 1 and p["action_jobs"] >= 1, p
    assert p["jobs"] == p["build_jobs"] + p["action_jobs"], p
    assert 0 <= p["driver_gap_s"] <= p["wall_s"], p
    assert 0 <= p["build_s"] <= p["wall_s"], p
    assert p["stages"] >= 1 and p["tasks"] >= p["stages"] and p["max_task_width"] >= 1, p
    assert p["stream_batches"] == 0, p


def test_profile_labels_its_jobs_and_restores_the_callers_group(spark, sf_dir):
    from projet_etl_a_rien_spark.observability import profile

    sc = spark.sparkContext
    first = max(_job_groups_from(spark, 0), default=-1) + 1
    sc.setJobGroup("caller", "the caller's own work")
    try:
        p = profile(spark, "tpch_q6_forecast_revenue", sf_dir)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        assert sc.getLocalProperty("spark.job.description") == "the caller's own work"
    finally:
        sc._jsc.clearJobGroup()
    groups = _job_groups_from(spark, first)
    assert groups and set(groups.values()) == {"tpch_q6_forecast_revenue"}, groups
    assert p["jobs"] == len(groups), (p, groups)


def test_profile_counts_stream_micro_batches_and_their_jobs(spark, sf_dir):
    """A stream's micro-batches run under the stream's own job group;
    the profile still counts them, and its recorder sees the batches."""
    from projet_etl_a_rien_spark.observability import profile

    first = max(_job_groups_from(spark, 0), default=-1) + 1
    p = profile(spark, "streaming_hourly_windows", sf_dir)
    groups = _job_groups_from(spark, first)
    assert p["stream_batches"] >= 1, p
    assert set(groups.values()) - {"streaming_hourly_windows"}, groups
    assert p["jobs"] == len(groups), (p, groups)


@pytest.mark.parametrize(
    "name", ["doc_fim_transform", "events_zorder_values", "doc_quality_score"]
)
def test_projection_entries_write_no_shuffle_bytes(spark, sf_dir, name):
    """Pure per-row projections: a shuffle byte means an exchange crept in."""
    from projet_etl_a_rien_spark.observability import profile

    p = profile(spark, name, sf_dir)
    assert p["stages"] >= 1 and p["shuffle_write_mb"] == 0, p


COUNTER_READERS = re.compile(r"statusStore|statusTracker|uiWebUrl|/api/v1/")


def test_only_observability_reads_spark_counters():
    """Job and stage counters are read in observability.py alone, so every
    tool measures a query the same way (``perfbench/`` keeps its own copy)."""
    root = PKG.parent
    files = [*PKG.rglob("*.py"), *(root / "tools").glob("*.py"), root / "bench.py"]
    offenders = [
        (str(p.relative_to(root)), n + 1, m.group())
        for p in sorted(files)
        if p != PKG / "observability.py"
        for n, line in enumerate(p.read_text().splitlines())
        for m in COUNTER_READERS.finditer(line)
    ]
    assert not offenders, offenders
    assert len(COUNTER_READERS.findall("sc.statusTracker(); f'{ui}/api/v1/x'")) == 2


def test_learn_merges_auto_runs_only_the_vocabulary_fetch(spark, sf_dir):
    """On the auto path the one bounded fetch of the vocabulary both
    decides the engine and feeds the driver loop: no other action runs."""
    from projet_etl_a_rien_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents").limit(200).localCheckpoint()
    fetch = _jobs_of(
        spark,
        lambda: bpe.word_symbol_table(docs)
        .select("cnt", "syms")
        .limit(bpe.DRIVER_LEARN_MAX_ROWS + 1)
        .collect(),
    )
    assert _jobs_of(spark, lambda: bpe.learn_bpe_merges(docs, num_merges=8)) == fetch
