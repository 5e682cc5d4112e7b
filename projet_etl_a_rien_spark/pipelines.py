"""End-to-end pipeline compositions — the reference's jobs as functions.

``airports_batch_pipeline`` is the whole of
``/root/reference/spark_airports_final.py`` (variant A) re-expressed as
one composable function: messages → parse → clean → stats → persist →
read-back verify. Differences from the reference, by design (SURVEY.md
§4.2):

- the cleaned lineage is **persisted once** before the multi-action
  fan-out — the reference recomputes the full Kafka scan→parse→clean for
  every one of its 6+ actions;
- the batch pipeline's stats are **computed under the cache**: the
  one-row aggregate is checkpointed while the cleaned rows are still
  persisted, so the caller's action on ``stats`` reads one row instead of
  re-parsing every message after the unpersist. That aggregate is also
  the first action on the persisted rows and its ``total_records`` is
  the clean count (ref :62), so no separate ``count()`` scans them. The
  permissive pipeline keeps its stats lazy: its registered caller reads
  only the read-back, and an eager aggregate there would be a wasted job;
- the sink is pluggable (parquet here, `sources.jdbc` in production) and
  the verify step re-reads through the sink's own scan — the reference's
  only correctness mechanism (read-your-writes via Postgres, §5.2) —
  preserved;
- the ``count > 0`` guard (ref :29) stays: result-dependent driver-side
  orchestration is part of the observed contract.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.airports import (
    AIRPORT_SCHEMA_PERMISSIVE,
    airport_stats,
    clean_coords,
    parse_json_messages,
)


@dataclass
class PipelineResult:
    raw_count: int
    clean_count: int
    stats: DataFrame
    verified_count: int
    readback: Optional[DataFrame] = None  # the sink's own scan (verify leg)


def airports_batch_pipeline(
    spark: SparkSession, messages: DataFrame, sink_path: str
) -> PipelineResult:
    """Run the full reference batch job against any (key,value) message set."""
    raw_count = messages.count()  # guard action (ref :26-29)
    if raw_count == 0:
        return PipelineResult(0, 0, airport_stats(clean_coords(parse_json_messages(messages))), 0)

    clean = clean_coords(parse_json_messages(messages))
    # one materialization for the stats + sink fan-out (ref recomputes)
    clean.persist()
    try:
        stats = airport_stats(clean).localCheckpoint(eager=True)  # (ref :67-74)
        clean_count = stats.first()["total_records"]  # (ref :62)
        clean.write.mode("overwrite").parquet(sink_path)  # (ref :77-86, K1)
        # read-your-writes verification through an independent scan (ref :91-101)
        readback = spark.read.parquet(sink_path)
        verified_count = readback.count()
    finally:
        clean.unpersist()
    return PipelineResult(raw_count, clean_count, stats, verified_count, readback)


def airports_permissive_pipeline(
    spark: SparkSession, messages: DataFrame, sink_path: str
) -> PipelineResult:
    """Variant-B full pipeline: typed-at-parse, NO cleaning step.

    The reference's second batch job
    (``/root/reference/spark-jars/spark_airports_final.py:75-84``) writes
    the *unclean* parsed rows to the sink — malformed coordinates become
    silent field-level nulls in ``from_json`` and pass straight through
    (SURVEY.md §2.11, documented permissive mode). Stats use variant-B's
    ``icao`` distinct key over the raw ``lat``/``lon`` columns, and the
    read-back verify leg (ref ``:86-98``) is preserved.
    """
    raw_count = messages.count()  # guard action (ref :31-34)
    parsed = parse_json_messages(messages, schema=AIRPORT_SCHEMA_PERMISSIVE)
    if raw_count == 0:
        empty_stats = airport_stats(
            parsed, distinct_key="icao", lat_col="lat", lon_col="lon"
        )
        return PipelineResult(0, 0, empty_stats, 0)

    parsed.persist()
    try:
        parsed_count = parsed.count()
        stats = airport_stats(
            parsed, distinct_key="icao", lat_col="lat", lon_col="lon"
        )
        parsed.write.mode("overwrite").parquet(sink_path)  # unclean rows (ref :75-84)
        readback = spark.read.parquet(sink_path)
        verified_count = readback.count()
    finally:
        parsed.unpersist()
    return PipelineResult(raw_count, parsed_count, stats, verified_count, readback)
