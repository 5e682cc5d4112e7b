"""SparkSession construction tuned for this engine.

The reference builds its session with explicit jar classpaths and (variant B
only) AQE enablement (``spark_airports_final.py:7-13``,
``spark-jars/spark_airports_final.py:14``). Here session setup is one
function with scale-aware defaults:

- AQE on (runtime coalescing, skew-join splitting) — the 100 TB design point
  assumes stats are wrong at plan time.
- Arrow on — any unavoidable Python stage moves via Arrow batches.
- shuffle partitions derived in one place, :func:`apply_runtime_confs`, as
  ``max(defaultParallelism, 4)``: the session's own core count, not Spark's
  default of 200 (which means 200 streaming state stores per aggregation).
  On a cluster ``defaultParallelism`` is the executors' total cores and AQE
  coalescing absorbs the difference to the ~2-3x rule of thumb.
- a generated-code cache large enough to hold every class a full
  ``bench.py`` run compiles (:data:`CODEGEN_CACHE_ENTRIES`), so a warm
  re-run of a query reuses its compiled classes.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Runtime (non-static) SQL confs every query of this engine relies on.
# Applied defensively per-query too (apply_runtime_confs) because the
# driver harness owns its own SparkSession.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized parquet
    # reader rejects; read as long then convert (catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Pin wall-clock semantics so timestamp_ntz conversions and the DuckDB
    # oracle (naive timestamps) agree regardless of machine TZ.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: partition coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
}

# Entries of Spark's generated-code cache (static conf
# ``spark.sql.codegen.cache.maxEntries``, Spark default 100). Spark keys the
# cache by generated source text and evicts least-recently-used, so a
# workload that compiles more distinct classes than the cache holds misses
# on every class each time it re-runs: one warm tpch_sf0.1 benchmark pass
# compiles up to 144 classes, against 100 slots.
# A full ``bench.py`` run at sf0.1 (48 lines, both sweeps and the solo
# re-times; measured with an unbounded cache on 4 cores) compiles 1,169
# distinct classes; 2048 holds that with headroom. A session its caller
# built without get_spark (``__spark_entry__`` callers pass their own)
# keeps Spark's 100: the conf is static, fixed when the JVM's first
# session starts.
CODEGEN_CACHE_ENTRIES = 2048


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set the runtime confs this engine needs on an existing session.

    The shuffle width is ``max(defaultParallelism, 4)``. A conf the
    session refuses as static is skipped (the builder path sets it);
    any other error, such as an invalid value, is raised."""
    width = max(spark.sparkContext.defaultParallelism, 4)
    confs = {**RUNTIME_CONFS, "spark.sql.shuffle.partitions": str(width)}
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            if e.getCondition() != "CANNOT_MODIFY_STATIC_CONFIG":
                raise
    return spark


def get_spark(
    app_name: str = "projet-etl-a-rien-spark",
    master: str | None = None,
    driver_memory: str = "8g",
    ui: bool = False,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster pass ``master=None`` via spark-submit and let the
    submitter own master/memory; every other conf below is cluster-safe.
    """
    if master is None:
        master = f"local[{int(os.environ.get('SPARK_GRAFT_CPUS', '32'))}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return apply_runtime_confs(spark)
