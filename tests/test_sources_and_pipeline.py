"""Source/sink wrappers + end-to-end reference pipeline tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from projet_etl_a_rien_spark.fixtures import airports_messages, airports_messages_numeric
from projet_etl_a_rien_spark.observability import observed_edge
from projet_etl_a_rien_spark.pipelines import (
    airports_batch_pipeline,
    airports_permissive_pipeline,
)
from projet_etl_a_rien_spark.sources import files, jdbc, kafka
from projet_etl_a_rien_spark.streaming.windows import (
    replay_events_stream,
    run_bounded,
    run_console,
    streaming_global_count,
)


def test_file_roundtrip_partitioned(spark, sf_dir, tmp_path):
    d = files.scan(spark, f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs")
    files.write(d, out, partition_by=["lang"], max_records_per_file=100)
    back = files.scan(spark, out)
    assert back.count() == d.count()
    # partition pruning: only one lang directory is listed
    one = back.where("lang = 'en'")
    assert "PartitionFilters: [isnotnull(lang" in one._jdf.queryExecution().toString() or one.count() > 0


def test_csv_json_orc_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    for fmt in ("csv", "json", "orc"):
        path = str(tmp_path / fmt)
        files.write(df, path, fmt=fmt, header="true")
        back = files.scan(spark, path, fmt=fmt, schema="id long, s string", header="true")
        assert sorted((r.id, r.s) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_kafka_wrappers_fail_fast(spark):
    with pytest.raises(RuntimeError, match="Kafka data source"):
        kafka.kafka_source(spark, "localhost:9092", "airports")


def test_to_kafka_records_contract(spark):
    df = spark.createDataFrame([(7, "x")], "id long, name string")
    rec = kafka.to_kafka_records(df, "id").collect()[0]
    assert rec.key == "7"
    assert rec.value == '{"id":7,"name":"x"}'


def test_airports_batch_pipeline_end_to_end(spark, sf_dir, tmp_path):
    msgs = airports_messages(spark, sf_dir)
    res = airports_batch_pipeline(spark, msgs, str(tmp_path / "airports"))
    assert res.raw_count == 150
    assert 0 < res.clean_count < res.raw_count  # dirty rows dropped
    assert res.verified_count == res.clean_count  # read-your-writes
    stats = res.stats.collect()[0]
    assert stats.total_records == res.clean_count


def test_airports_batch_pipeline_empty_guard(spark, tmp_path):
    empty = spark.createDataFrame([], "key string, value string")
    res = airports_batch_pipeline(spark, empty, str(tmp_path / "none"))
    assert res.raw_count == 0 and res.verified_count == 0


def test_batch_pipeline_stats_are_computed_under_the_cache(spark, sf_dir, tmp_path):
    """The returned stats are materialized before the cleaned rows are
    unpersisted: an action on them reads the one-row result and never
    re-parses the messages."""
    msgs = airports_messages(spark, sf_dir)
    res = airports_batch_pipeline(spark, msgs, str(tmp_path / "sink"))
    plan = res.stats._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "from_json" not in plan and "jsontostructs" not in plan, plan
    assert res.stats.collect()[0].total_records == res.clean_count


def test_streaming_replay_global_count(spark, sf_dir):
    out = run_bounded(streaming_global_count(replay_events_stream(spark, sf_dir)))
    assert out.collect()[0].n_events == 1000


def test_airports_permissive_pipeline_keeps_unclean_rows(spark, sf_dir, tmp_path):
    msgs = airports_messages_numeric(spark, sf_dir)
    res = airports_permissive_pipeline(spark, msgs, str(tmp_path / "permissive"))
    # variant B writes EVERY parsed row — silent nulls included, nothing dropped
    assert res.clean_count == res.raw_count
    assert res.verified_count == res.raw_count
    back = res.readback
    assert back.where("lat IS NULL").count() > 0  # the silent nulls survived
    assert set(back.columns) == {"id", "name", "icao", "lat", "lon"}


def test_jdbc_partition_bounds_validated(spark):
    with pytest.raises(ValueError, match="lower_bound"):
        jdbc.jdbc_source(
            spark, "jdbc:postgresql://x/db", "t", "u", "p", partition_column="id"
        )


def test_observed_edge_metrics(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], "id long, s string")
    instrumented, obs = observed_edge(df, "test_edge")
    assert instrumented.count() == 2
    m = obs.get
    assert m["rows"] == 2 and m["null_s"] == 1 and m["null_id"] == 0


def test_console_sink_bounded_run(spark, sf_dir):
    q = run_console(streaming_global_count(replay_events_stream(spark, sf_dir)))
    q.awaitTermination()
    assert not q.isActive


def test_latest_by_key_deterministic_tiebreak(spark):
    from projet_etl_a_rien_spark.operators.compaction import latest_by_key

    df = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (1, 20, 102), (2, 5, 103)],
        "user_id int, ts int, event_id int",
    )
    got = {
        (r.user_id, r.ts, r.event_id)
        for r in latest_by_key(df, ["user_id"], "ts", ["event_id"]).collect()
    }
    # ts tie (20) resolves to the larger event_id — total, deterministic
    assert got == {(1, 20, 102), (2, 5, 103)}


def test_compact_files_bounds_file_count(spark, sf_dir, tmp_path):
    import glob

    from projet_etl_a_rien_spark.operators.compaction import compact_files

    src, out = str(tmp_path / "many"), str(tmp_path / "few")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(16).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*")) == 16
    compact_files(spark, src, out, target_files=2)
    assert len(glob.glob(f"{out}/part-*")) == 2
    assert spark.read.parquet(out).count() == ev.count()


def test_schema_evolution_merge_read(spark, sf_dir, tmp_path):
    """Lakehouse schema evolution: files written before a column existed
    must read back null-extended when merged with newer files — the
    contract that lets a 100 TB table gain columns without rewriting
    history."""
    path = str(tmp_path / "evolving")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v1 = o.select("o_orderkey", "o_totalprice").limit(50)
    v1.write.parquet(path + "/v=1")
    v2 = (
        o.select("o_orderkey", "o_totalprice")
        .withColumn("discount_pct", F.lit(5.0))
        .limit(30)
    )
    v2.write.parquet(path + "/v=2")

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) >= {"o_orderkey", "o_totalprice", "discount_pct"}
    assert merged.count() == 80
    # old files surface the new column as null; new files carry values
    assert merged.where(F.col("discount_pct").isNull()).count() == 50
    assert merged.where(F.col("discount_pct") == 5.0).count() == 30
