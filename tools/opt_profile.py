"""Round-14 optimization profiler: per-query noop-sink timing + plan capture.

For each named registry query (default: the bench HEADLINE+PIPELINES set):

- times the full plan (build + noop-sink materialization) ``--runs`` times
  on one warmed session, reporting min/all;
- writes ``df.explain("formatted")`` to ``plans/$OPT_PLANS_ROUND/<name>_<tag>.txt``
  (round dir from $OPT_PLANS_ROUND, default r15; tag = --tag, default
  "before") so plan claims in OPTIMIZATION_r{N}.md are judge-checkable;
- prints a one-line plan-shape summary: #Exchange, join strategies,
  Python-eval nodes, and whether the scan shows PushedFilters.

Usage:
    python tools/opt_profile.py [--tag before|after] [--runs 2] [name...]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projet_etl_a_rien_spark.queries import REGISTRY


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def shape(plan: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", plan))
    joins = sorted(
        set(
            re.findall(
                r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)\b",
                plan,
            )
        )
    )
    py = sorted(
        set(re.findall(r"\b(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas)\b", plan))
    )
    pushed = "PushedFilters: [" in plan and not re.search(
        r"PushedFilters: \[\]", plan
    )
    return (
        f"Exchange={n_ex} joins={','.join(joins) or '-'} "
        f"py={','.join(py) or '-'} pushed_filters={pushed}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-time", action="store_true", help="plan capture only")
    args = ap.parse_args()

    names = args.names
    if not names:
        import bench

        names = bench.HEADLINE + bench.PIPELINES
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    from projet_etl_a_rien_spark.session import get_spark

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", os.environ.get("OPT_PLANS_ROUND", "r15"))
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("opt-profile")
    spark.range(1_000).selectExpr("sum(id)").collect()  # warm
    spark.read.parquet(f"{args.sf_dir}/region.parquet").count()

    for name in names:
        q = REGISTRY[name]
        df = q.fn(spark, args.sf_dir)
        plan = _formatted_plan(df)
        with open(os.path.join(out_dir, f"{name}_{args.tag}.txt"), "w") as f:
            f.write(plan)
        times = []
        if not args.no_time:
            for _ in range(args.runs):
                t0 = time.perf_counter()
                spark.sparkContext.setJobDescription(f"opt: {name}")
                q.fn(spark, args.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                times.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
        ts = " ".join(f"{t:.2f}" for t in times)
        best = f"{min(times):7.3f}" if times else "   -   "
        print(f"{best} [{ts}] {name}  {shape(plan)}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
