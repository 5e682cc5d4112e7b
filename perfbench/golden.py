"""Write ``golden.json``: each check's expected result digest, computed from
the registry's DuckDB ``oracle_sql`` over the benchmark's sf0.1 tables —
from the oracles, never from the engine under test.

The oracles take minutes at sf0.1, so the digests are computed once and
stored; each benchmark run compares the engine's results against them
outside its timed passes. Re-run after changing the data or an item:

    python3 perfbench/golden.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    common.require_repo()
    import duckdb

    from projet_etl_a_rien_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    con = duckdb.connect()
    for t in workloads.TABLES:
        path = os.path.join(common.SF_DIR, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    items = [i for w in workloads.WORKLOADS.values() for i in w] + workloads.CUT
    names = sorted({c for i in items for c in workloads.checks_of(i)})
    checks = {}
    for name in names:
        t0 = time.perf_counter()
        checks[name] = common.result_digest(con.sql(REGISTRY[name].oracle).df())
        print(f"{time.perf_counter() - t0:8.2f}s {name} {checks[name]['rows']} rows", flush=True)
    out = {
        "scale": "sf0.1",
        "data": common.data_fingerprint(workloads.TABLES),
        "duckdb": duckdb.__version__,
        "checks": checks,
    }
    with open(common.GOLDEN, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
