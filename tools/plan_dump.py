"""Normalized physical-plan dump for cross-commit adjudication.

The drift-adjudication protocol (SCALE_NOTES §60) starts with a plan
diff: a query whose solo re-measure drifted vs a prior round either
changed its executed plan (a regression to find) or didn't (the drift
is environmental and an interleaved A/B re-time settles it). This tool
prints the ``executedPlan().toString()`` for each named registry query
with the run-varying tokens masked — expression ids (``#123``),
``plan_id=N``, AQE's ``isFinalPlan`` flip, shuffle/exchange ids and
file-listing byte counts — so the SAME logical plan from two different
checkouts (git worktree at an old HEAD vs current) diffs byte-equal:

    python tools/plan_dump.py /root/testdata/sf0.1 name... > /tmp/head.txt
    (cd .worktrees/r12 && python tools/plan_dump.py /root/testdata/sf0.1 name...) > /tmp/r12.txt
    diff /tmp/head.txt /tmp/r12.txt

The plan is taken BEFORE execution (no AQE re-plan) — the comparison
target is the compile-time physical strategy; runtime re-plans depend
on observed sizes, which the A/B re-time covers instead.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projet_etl_a_rien_spark.queries import REGISTRY
from projet_etl_a_rien_spark.session import get_spark


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"\[id=#?\w+\]", "[id=N]", plan)
    plan = re.sub(r"isFinalPlan=\w+", "isFinalPlan=X", plan)
    plan = re.sub(r"Statistics\([^)]*\)", "Statistics(X)", plan)
    plan = re.sub(r"\b\d+(\.\d+)?\s*(B|KiB|MiB|GiB)\b", "SZ", plan)
    # temp/scratch paths vary per checkout; keep only basenames
    plan = re.sub(r"file:[^\s,\]\)]*/", "file:.../", plan)
    return plan


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)
    spark = get_spark("plan-dump")
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        print(f"===== {name} =====")
        print(normalize(plan))
    spark.stop()


if __name__ == "__main__":
    main()
