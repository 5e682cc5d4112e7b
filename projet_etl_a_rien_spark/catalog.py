"""Table access for the driver-generated parquet fixtures (TESTDATA.md).

One loader, schema-normalizing at the edge, so every operator downstream
sees stable types at any scale factor:

- ``events.ts`` is parquet TIMESTAMP(NANOS) → read as long (nanosAsLong)
  and truncated to microseconds as ``timestamp_ntz``, matching what a
  microsecond-native engine (e.g. the DuckDB oracle) sees.
- everything else passes through untouched — parquet column pruning and
  filter pushdown stay fully effective because this is a plain
  ``spark.read.parquet`` with a projection, no UDFs, no materialization.

At the 100 TB design point this module is where partition discovery /
bucketed-table metadata would live; the loader deliberately returns lazy
DataFrames so Catalyst sees the full lineage from scan to sink.

Schema memo: inferring a parquet table's schema runs one footer-reading
Spark job per ``spark.read.parquet``. The inferred schema is memoized per
table path, keyed on the file's stat (size and mtime; for a directory
table, the size and mtime of every file under it) and on the session confs
that change inference (:data:`_INFERENCE_CONFS`, ``nanosAsLong`` among
them). A later load of an unchanged file reads with that schema and starts
no job. Only the schema is kept: every call still returns a fresh lazy
DataFrame over the file, so no data or attribute IDs are shared across
calls. A path that cannot be stat-ed locally (missing, or on a remote
filesystem) is read without the memo, so a missing table still raises
Spark's own ``PATH_NOT_FOUND``.

Input sizing: this module is the one place that decides how big an input
is, so every size-driven choice (sketch gate tiers, the triangle sampling
tier, hub certificates, driver-vs-distributed engines, explicit
broadcasts, input widening) reads the same numbers under the same policy:

- :func:`row_bound` — an upper bound on a frame's rows from its parquet
  footers (no job), else one bounded ``limit(cap + 1).count()`` probe when
  the caller gives a cap, else None;
- :func:`table_row_bound` — a fixture table's footer count, None when the
  table is absent;
- :func:`broadcast_threshold` — the session's broadcast limit in bytes;
- :func:`widen_input` — repartition an input narrower than the cores.
"""

from __future__ import annotations

import os
import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Event-time columns whose parquet physical type has CHANGED between
# driver rounds (TIMESTAMP(NANOS) in r1/r2 → TIMESTAMP(MICROS) in r3).
# Under the session's nanosAsLong conf a NANOS column surfaces as bigint;
# MICROS surfaces as timestamp_ntz directly — normalize either to µs ntz
# so every downstream operator sees one stable type at any data vintage.
_EVENT_TIME_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# Session confs under which parquet schema inference can yield a different
# schema for the same file; part of the schema memo's key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# table path -> (stat key, inference confs, inferred schema)
_SCHEMAS: dict[str, tuple] = {}


def _stat_key(path: str) -> tuple:
    """Size and mtime of a file; of every file under a directory."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_size, st.st_mtime_ns)
    listing = []
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            fst = os.stat(p)
            listing.append((os.path.relpath(p, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(listing))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the first
    read of an unchanged file (see the module docstring)."""
    try:
        stat = _stat_key(path)
    except OSError:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[:2] == (stat, confs):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stat, confs, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``, normalized."""
    apply_runtime_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for col in _EVENT_TIME_COLS.get(name, ()):
        if dtypes.get(col) == "bigint":
            # ns → µs: integer division (exact; values are positive so this
            # is floor, identical to a ns→µs cast in µs-native engines).
            df = df.withColumn(
                col,
                F.timestamp_micros(F.expr(f"{col} div 1000")).cast("timestamp_ntz"),
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    use = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register fixture tables as temp views so any SQL front end
    (``spark.sql``, thrift server, a notebook) can query the catalog by
    name — views stay LAZY (plain scans + the normalizing projection), so
    pushdown and pruning behave exactly as through ``load_table``."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)


# A plan node that can yield more rows than its input files hold. Matched
# at node-head position only (after the tree-drawing prefix), so a relation
# or column merely named ``Joined`` or ``MyUnion`` stays footer-countable;
# ``\w*`` admits suffixed heads such as LateralJoin and AsOfJoin.
_EXPANDING_NODE = re.compile(r"(?m)^[\s:+\-!*(]*\w*(Join|Generate|Expand|Union)\b")


def _footer_rows(df: DataFrame) -> int | None:
    """Sum of ``num_rows`` over the parquet footers of the plan's input
    files: no Spark job, no scan. None when the plan is not file-backed
    (streaming batches, in-memory or checkpointed frames), an input is
    not local parquet, or the plan can expand rows.

    The footer count is the input-file cardinality, an upper bound when
    the frame only filters or projects. Joins, explode/posexplode
    (Generate), Expand and Union can yield more rows than their files
    hold, so for them the count would under-size the frame, the
    dangerous direction for a sizing policy. Union is in the list
    because ``inputFiles()`` deduplicates paths: ``df.union(df)`` has
    twice the rows of its one file. Footers are read in a thread pool
    (metadata I/O releases the GIL)."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        if _EXPANDING_NODE.search(plan):
            return None
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None

    paths = []
    for uri in files:
        path = uri[5:] if uri.startswith("file:") else uri
        if "://" in path or not path.endswith(".parquet"):
            return None
        paths.append(path)

    def _num_rows(p: str) -> int:
        return pq.ParquetFile(p).metadata.num_rows

    try:
        if len(paths) == 1:
            return _num_rows(paths[0])
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(32, len(paths))) as ex:
            return sum(ex.map(_num_rows, paths))
    except Exception:
        return None


def row_bound(df: DataFrame, probe_cap: int | None = None) -> int | None:
    """An upper bound on ``df``'s row count, or None.

    Footers first (:func:`_footer_rows`: zero jobs, reaches any scale).
    When they cannot answer and ``probe_cap`` is given, ONE bounded probe
    ``df.limit(probe_cap + 1).count()`` returns ``min(n, probe_cap + 1)``:
    it reads at most one row past the cap, so a result above the cap
    proves only ``n > probe_cap``. With no cap the answer is None. The
    footer read never raises; the probe is the frame's own action."""
    n = _footer_rows(df)
    if n is None and probe_cap is not None:
        n = df.limit(probe_cap + 1).count()
    return n


def table_row_bound(spark: SparkSession, sf_dir: str, name: str) -> int | None:
    """Footer row count of fixture table ``name`` (no job); None when the
    table is absent, so a caller falls back to measuring instead of
    failing on a table it only uses for sizing."""
    try:
        return row_bound(load_table(spark, sf_dir, name))
    except AnalysisException:
        return None


def broadcast_threshold(spark: SparkSession) -> int:
    """The session's autoBroadcastJoinThreshold in bytes, for joins whose
    small side is materialized (checkpointed) and so carries no plan-time
    size: the explicit broadcast hint then applies the byte rule the
    planner would. Parsed by Spark's own ``JavaUtils.byteStringAsBytes``,
    the parser the planner applies to this conf (Spark rejects an
    unparseable value when it is set). -1 (disabled), or any failure to
    read the value, gives 0: no explicit broadcast."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        util = spark.sparkContext._jvm.org.apache.spark.network.util
        return max(int(util.JavaUtils.byteStringAsBytes(raw)), 0)
    except Exception:
        return 0


def widen_input(df: DataFrame, *cols: str) -> DataFrame:
    """Round-robin (or, given ``cols``, hash-) repartition ``df`` to the
    session's core count IFF it is narrower. A single-file fixture
    otherwise runs heavy per-row map work (shingle hashing, tokenizing,
    quantizing, JSON parse) on one core before the first shuffle, and
    AQE's byte-based coalescing keeps byte-light downstream shuffles at
    that width too. At production widths (input at least cores-wide)
    ``df`` is returned untouched, so no shuffle is ever added there.
    Results are partitioning-independent; only the task layout
    changes."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    return df.repartition(cores, *cols)
