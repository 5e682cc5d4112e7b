"""Check the items the time budget cut from the workloads (``workloads.CUT``):
run each once on the engine, outside any timing, and compare its result with
its oracle digest in ``golden.json``, as a benchmark run checks the timed
items. Writes ``perfbench/cut_items.json``; exits 1 if any item is not
hash-exact.

    python3 perfbench/check_cut.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    common.require_repo()
    with open(common.GOLDEN) as f:
        golden = json.load(f)
    work = os.path.join(os.getcwd(), ".perfbench", f"cut-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = run.pin_environment(work)
    from projet_etl_a_rien_spark.queries import _load_extensions
    from projet_etl_a_rien_spark.session import get_spark

    _load_extensions()
    spark = get_spark("perfbench-cut")
    items = {}
    try:
        for item in workloads.CUT:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            problems = run.verify_item(spark, item, common.SF_DIR, os.path.join(work, "sinks"), golden)
            items[item] = {"hash_exact": not problems, "problems": problems, "engine_s": time.perf_counter() - t0}
            print(f"{item}: {'; '.join(problems) or 'hash-exact'} ({items[item]['engine_s']:.1f}s)", flush=True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(common.HERE, "cut_items.json"), "w") as f:
        json.dump({"cores": cores, "golden_duckdb": golden["duckdb"], "items": items}, f, indent=1)
        f.write("\n")
    return 0 if all(r["hash_exact"] for r in items.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
