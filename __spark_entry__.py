"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``projet_etl_a_rien_spark``; this module is the
thin re-export the driver imports, plus the order the driver samples
the registry in (a harness concern, read from this directory's
CORRECTNESS_r*.json ledger).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from projet_etl_a_rien_spark.queries import REGISTRY

SF0001_DIR = "/root/testdata/sf0.001"

# The driver verifies the first ~50 names of queries() per round, so the
# order is the verification sampling order: least driver evidence first
# (see _ordered_names). Names here jump the queue because their
# computation changed after their last green CORRECTNESS row.
_DRIVER_PRIORITY: list[str] = [
    "postings_erasure_index",
    # the six co-purchase entries (part-table degree certificate)
    "parts_triangle_counts",
    "parts_triangle_counts_auto",
    "parts_triangle_estimate",
    "parts_triangle_estimate_p10",
    "parts_kcore",
    "parts_copurchase_bfs_3hop",
    # length/positional prefix filters in dedup.jaccard_prefix_pairs
    "jaccard_prefix_pairs",
    "minhash_lsh_quality",
]

# (filename, mtime) fingerprint → parsed ledger: the driver calls
# queries()/oracle_sql() repeatedly, and any new or edited artifact
# changes the fingerprint and re-parses.
_EVIDENCE_CACHE: tuple[tuple, dict[str, int]] | None = None


def _correctness_evidence() -> dict[str, int]:
    """name → freshest round with a GREEN driver CORRECTNESS row, read
    from the CORRECTNESS_r*.json files the driver commits beside this
    module. Rows must be fully green to count — a mismatch keeps the
    name at its previous evidence level, so it re-sorts toward the front
    of the window. An artifact that cannot be read or parsed raises."""
    global _EVIDENCE_CACHE
    root = os.path.dirname(os.path.abspath(__file__))
    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    fingerprint = tuple((f, os.path.getmtime(f)) for f in files)
    if _EVIDENCE_CACHE is not None and _EVIDENCE_CACHE[0] == fingerprint:
        return _EVIDENCE_CACHE[1]
    ledger: dict[str, int] = {}
    for f in files:
        m = re.search(r"CORRECTNESS_r(\d+)", os.path.basename(f))
        if not m:
            continue
        rnd = int(m.group(1))
        with open(f) as fh:
            data = json.load(fh)
        for name, v in data.items():
            if not isinstance(v, dict):
                continue
            green = bool(v.get("rows_match")) and bool(
                v.get("schema_match")
            ) and bool(v.get("hash_match", True))
            if green:
                ledger[name] = max(ledger.get(name, 0), rnd)
    _EVIDENCE_CACHE = (fingerprint, ledger)
    return ledger


def _ordered_names() -> list[str]:
    """_DRIVER_PRIORITY first, then registry names by accumulated driver
    evidence, least first: names with no green row in any recorded round
    (new additions), then oldest-evidence rounds ascending, ties by name
    — so however many queries the driver's ~50-query budget covers, it
    verifies the least-evidenced ones first."""
    pri = [n for n in _DRIVER_PRIORITY if n in REGISTRY]
    seen = set(pri)
    ledger = _correctness_evidence()
    rest = sorted(
        (n for n in REGISTRY if n not in seen), key=lambda n: (ledger.get(n, 0), n)
    )
    return pri + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's signature computation (spark_airports_final.py:19-74):
    JSON message parse → variant-A clean → 6-aggregate global stats.
    """
    return REGISTRY["airports_flagship"].fn(spark, SF0001_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query (where expressible)."""
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
