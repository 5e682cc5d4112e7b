"""Named query registry: the engine's operator surface as runnable queries.

Each entry pairs a Spark implementation (``(spark, sf_dir) -> DataFrame``)
with an equivalent ANSI-SQL oracle the driver runs on DuckDB over the same
parquet tables. The two are kept adjacent in one ``Q`` declaration so they
cannot drift silently; ``__spark_entry__.py`` re-exports this registry.

This module holds the registry core (``Q``, ``REGISTRY``, ``register``)
and the four ``airports_*`` reference-pipeline entries. Every other entry
lives in one module per operator family, mirroring ``operators/``:
``queries_relational`` (TPC-H, warehouse SQL, event-log analytics),
``queries_curation`` (text and curation), ``queries_tokenizer``,
``queries_dedup`` (dedup and similarity), ``queries_web``,
``queries_multimodal``, ``queries_graph``, ``queries_sketches`` and
``queries_streaming``. They are imported at the end of this module, so
importing it yields the complete registry.

Cross-engine parity rules used throughout (see functions/exactmath.py):
- monetary aggregates in exact integer cents; final ``/100.0[/n]`` written
  with identical left-associative shape on both sides;
- oracle SUMs over integers wrapped ``CAST(... AS BIGINT)`` (DuckDB widens
  to HUGEINT otherwise, Spark stays bigint);
- every computed column aliased identically on both sides (the driver
  sorts columns by name before hashing);
- LIMIT/top-k always carries a total tie-break ordering;
- timestamps stay microsecond ``timestamp_ntz`` ↔ naive TIMESTAMP.

Operator provenance: generalizes the reference's observed operator classes
(SURVEY.md §2.10) — projection/cast/conditional (spark_airports_final.py:
31-64), global agg (ibid:67-74) → keyed groupBy/rollup/window/join/set-op
analytics over the TPC-H-ish fixtures; JSON ops (ibid:44-46, NiFi
tp.xml:543-559) → events.props extraction.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from .fixtures import (
    AIRPORTS_MESSAGES_NUMERIC_ORACLE_CTE,
    AIRPORTS_MESSAGES_ORACLE_CTE,
    airports_messages,
    airports_messages_numeric,
)
from .operators.airports import (
    AIRPORT_SCHEMA_PERMISSIVE,
    airport_stats,
    clean_coords,
    parse_json_messages,
)


@dataclass(frozen=True)
class Q:
    """One registry entry: Spark impl + DuckDB oracle (None → rows-only)."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""


REGISTRY: dict[str, Q] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    if name in REGISTRY:
        raise ValueError(f"query {name!r} is already registered")

    def deco(fn):
        REGISTRY[name] = Q(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# --------------------------------------------------------------------------
# Reference-parity pipeline (SURVEY.md §2.1-2.6, variant A semantics)
# --------------------------------------------------------------------------

_AIRPORTS_CLEAN_ORACLE_BODY = """
clean AS (
    SELECT id, name, icao,
           TRY_CAST(NULLIF(lat, '') AS DOUBLE) AS latitude,
           TRY_CAST(NULLIF(lon, '') AS DOUBLE) AS longitude
    FROM airports_msgs
)
"""


@register(
    "airports_clean",
    f"""
WITH {AIRPORTS_MESSAGES_ORACLE_CTE}, {_AIRPORTS_CLEAN_ORACLE_BODY}
SELECT id, name, icao, latitude, longitude
FROM clean
WHERE latitude IS NOT NULL AND longitude IS NOT NULL
""",
    doc="Kafka-wire JSON parse + variant-A clean (ref spark_airports_final.py:31-64); row-level parity.",
)
def q_airports_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = airports_messages(spark, sf_dir)
    return clean_coords(parse_json_messages(msgs))


@register(
    "airports_flagship",
    f"""
WITH {AIRPORTS_MESSAGES_ORACLE_CTE}, {_AIRPORTS_CLEAN_ORACLE_BODY}
SELECT COUNT(*) AS total_records,
       COUNT(DISTINCT id) AS unique_airports,
       CAST(SUM(CAST(ROUND(latitude * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(latitude) AS avg_latitude,
       CAST(SUM(CAST(ROUND(longitude * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(longitude) AS avg_longitude,
       MIN(latitude) AS min_latitude,
       MAX(latitude) AS max_latitude
FROM clean
WHERE latitude IS NOT NULL AND longitude IS NOT NULL
""",
    doc="Flagship 6-agg global stats after clean (ref spark_airports_final.py:67-74).",
)
def q_airports_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return airport_stats(q_airports_clean(spark, sf_dir))


@register(
    "airports_stats_permissive",
    f"""
WITH {AIRPORTS_MESSAGES_NUMERIC_ORACLE_CTE}
SELECT COUNT(*) AS total_records,
       COUNT(DISTINCT icao) AS unique_airports,
       CAST(SUM(CAST(ROUND(lat * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(lat) AS avg_latitude,
       CAST(SUM(CAST(ROUND(lon * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(lon) AS avg_longitude,
       MIN(lat) AS min_latitude,
       MAX(lat) AS max_latitude
FROM airports_msgs_num
""",
    doc="Variant-B permissive mode: typed-at-parse, silent field-level nulls pass through, distinct on icao (ref spark-jars/spark_airports_final.py:40-62).",
)
def q_airports_stats_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = airports_messages_numeric(spark, sf_dir)
    parsed = parse_json_messages(msgs, schema=AIRPORT_SCHEMA_PERMISSIVE)
    return airport_stats(
        parsed, distinct_key="icao", lat_col="lat", lon_col="lon"
    )


@register(
    "airports_permissive_roundtrip",
    f"""
WITH {AIRPORTS_MESSAGES_NUMERIC_ORACLE_CTE}
SELECT id, name, icao, lat, lon FROM airports_msgs_num
""",
    doc="Variant-B FULL pipeline parity: unclean typed-at-parse rows written "
    "to the sink and read back through its own scan (ref spark-jars/"
    "spark_airports_final.py:75-98) — row-level check that silent "
    "field-level nulls survive the write/read roundtrip untouched.",
)
def q_airports_permissive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from .pipelines import airports_permissive_pipeline

    msgs = airports_messages_numeric(spark, sf_dir)
    # per-run sink dir: a fixed shared path collides across concurrent
    # sessions (one run's overwrite races another's readback); the
    # readback is materialized before cleanup
    root = tempfile.mkdtemp(prefix="permissive_")
    try:
        sink = os.path.join(root, "sink")
        return airports_permissive_pipeline(
            spark, msgs, sink
        ).readback.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _load_extensions() -> None:
    """Import every domain registration module (idempotent). Each one
    imports ``register`` from here, so this runs once, at the end of this
    module, after ``register`` exists."""
    from . import (  # noqa: F401
        queries_curation,
        queries_dedup,
        queries_graph,
        queries_multimodal,
        queries_relational,
        queries_sketches,
        queries_streaming,
        queries_tokenizer,
        queries_web,
    )


_load_extensions()
