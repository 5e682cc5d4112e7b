"""Fresh-session solo re-timing for the scale-bench protocol.

SCALE_NOTES §38 / the bench solo rule: any query whose recorded growth
ratio drifts >1.3x vs the prior artifact must be re-timed SOLO — fresh
session, min of 3 — before the drift is believed. This tool is that
pass, runnable standalone after a recorded sweep:

    python tools/solo_remeasure.py name1 name2 ...            # sf0.1
    python tools/solo_remeasure.py --dirs sf0.1,sf1 name ...  # both

Prints one JSON line {"metric": "solo_remeasure", "dirs": {...},
"queries": {name: {dir: sec}}}. Each (query, dir) is the minimum of 3
noop-sink executions with the cache cleared between runs; the session
is created fresh per invocation (run the tool alone on the box).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projet_etl_a_rien_spark.queries import REGISTRY
from projet_etl_a_rien_spark.session import get_spark

DIR_ALIASES = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scalebench",
        "sf1",
    ),
}


def main() -> None:
    args = sys.argv[1:]
    dirs = ["sf0.1"]
    if args and args[0] == "--dirs":
        dirs = args[1].split(",")
        args = args[2:]
    names = [a for a in args if a in REGISTRY]
    missing = [a for a in args if a not in REGISTRY]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        sys.exit(2)
    spark = get_spark("solo-remeasure")
    spark.range(1000).selectExpr("sum(id)").collect()  # warm
    out: dict[str, dict[str, float]] = {}
    for name in names:
        out[name] = {}
        for d in dirs:
            sf_dir = DIR_ALIASES.get(d, d)
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
                spark.catalog.clearCache()
            out[name][d] = round(best, 4)
            print(f"  {name} @ {d}: {out[name][d]}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "solo_remeasure",
                "dirs": {d: DIR_ALIASES.get(d, d) for d in dirs},
                "queries": out,
                "methodology": "fresh session, per-(query, dir) min of 3"
                " noop-sink executions, cache cleared between runs",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
