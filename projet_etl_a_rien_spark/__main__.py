"""Command-line entry point — the spark-submit surface of the engine.

The reference is operated as submitted scripts (``spark-submit
spark_airports_final.py``, ``spark_kafka_direct.py``); this module is
the equivalent front door for every registered query:

    python -m projet_etl_a_rien_spark list
    python -m projet_etl_a_rien_spark run <query> [--sf-dir DIR] [--limit N]
    python -m projet_etl_a_rien_spark sql "SELECT ..." [--sf-dir DIR]
    python -m projet_etl_a_rien_spark explain <query> [--sf-dir DIR]
    python -m projet_etl_a_rien_spark profile <query...> [--sf-dir DIR]

``run`` executes one registry entry and shows the result (R1 parity —
the reference's jobs end in ``.show()``); ``sql`` registers the fixture
tables as temp views and runs ad-hoc SQL against them; ``explain``
prints the formatted physical plan, the thing to read before running
anything at scale; ``profile`` runs each query three times in one fresh
session and prints one JSON line per query with the fastest run's
:func:`observability.profile` record, flagged ``serial`` when it takes
over a second yet no stage ran wider than two tasks (byte-based AQE
coalescing can leave a compute-heavy stage on one task).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="projet_etl_a_rien_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered query names")

    run_p = sub.add_parser("run", help="run one registered query and show it")
    run_p.add_argument("query")
    run_p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    run_p.add_argument("--limit", type=int, default=20)

    sql_p = sub.add_parser("sql", help="ad-hoc SQL over the fixture views")
    sql_p.add_argument("statement")
    sql_p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sql_p.add_argument("--limit", type=int, default=20)

    exp_p = sub.add_parser("explain", help="formatted physical plan of a query")
    exp_p.add_argument("query")
    exp_p.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    prof_p = sub.add_parser("profile", help="where each query spends its time")
    prof_p.add_argument("query", nargs="+")
    prof_p.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    args = parser.parse_args(argv)

    from .queries import REGISTRY

    if args.cmd == "list":
        try:
            for name in REGISTRY:
                print(name)
            from .queries_streaming import _have_protobuf

            if not _have_protobuf():
                # keep the count honest across environments: one query
                # is gated on the protobuf runtime and is NOT in this
                # environment's registry (see README)
                print(
                    f"# {len(REGISTRY)} queries registered; +1 gated "
                    "query (streaming_tws_user_type_totals) requires "
                    "the protobuf package, absent here",
                    file=sys.stderr,
                )
        except BrokenPipeError:  # `| head` closed the pipe; not an error
            sys.stderr.close()
        return 0

    query = getattr(args, "query", [])
    unknown = [n for n in (query if isinstance(query, list) else [query]) if n not in REGISTRY]
    if unknown:
        print(f"unknown query {unknown[0]!r}; see `list`", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    from .session import get_spark

    # only stop a session this invocation created: an in-process caller
    # (tests, a notebook importing main) may already own the active
    # session, and get_spark's getOrCreate would hand us that one
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(f"cli-{args.cmd}")
    try:
        if args.cmd == "run":
            df = REGISTRY[args.query].fn(spark, args.sf_dir)
            df.show(args.limit, truncate=False)
        elif args.cmd == "sql":
            from .catalog import register_views

            register_views(spark, args.sf_dir)
            spark.sql(args.statement).show(args.limit, truncate=False)
        elif args.cmd == "explain":
            REGISTRY[args.query].fn(spark, args.sf_dir).explain("formatted")
        elif args.cmd == "profile":
            from .observability import profile

            for name in args.query:
                runs = [profile(spark, name, args.sf_dir) for _ in range(3)]
                best = min(runs, key=lambda p: p["wall_s"])
                serial = best["wall_s"] > 1 and 0 < best["max_task_width"] <= 2
                print(json.dumps({"query": name, **best, "serial": serial}), flush=True)
        return 0
    finally:
        if not preexisting:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
