"""Paths, the data fingerprint and the result hash shared by the benchmark's
scripts."""

from __future__ import annotations

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.1")
GOLDEN = os.path.join(HERE, "golden.json")


def require_repo() -> None:
    """Put the repo on the import path; exit 2 if the engine is not there."""
    if not os.path.isdir(os.path.join(ROOT, "projet_etl_a_rien_spark")):
        print(
            f"perfbench: no projet_etl_a_rien_spark package under {ROOT}; "
            "run from the root of a repo checkout",
            file=sys.stderr,
        )
        raise SystemExit(2)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def data_fingerprint(tables) -> dict[str, str]:
    """sha256 of each table file, so golden hashes name the data they hold for."""
    out = {}
    for t in tables:
        with open(os.path.join(SF_DIR, f"{t}.parquet"), "rb") as f:
            out[t] = hashlib.sha256(f.read()).hexdigest()
    return out


def result_digest(pdf) -> dict:
    """Row count, sorted columns and ``tools/driver_mimic``'s canonical value hash."""
    from tools.driver_mimic import canon, value_hash

    c = canon(pdf)
    return {"rows": len(c), "columns": list(c.columns), "hash": value_hash(c)}
