"""Closed-loop benchmark of the engine at sf0.1, one workload per run.

    python3 perfbench/run.py --workload tpch_sf0.1 --seed 1 --seconds 20 --trace 0

Run shape: one process, one SparkSession on ``local[N]`` with N pinned
through ``SPARK_GRAFT_CPUS`` to at most 4 and at most the usable cores;
one client, each item starting when the previous one has finished.

1. Set-up: import the registry, ``session.get_spark``, then one warm-up
   pass that also checks every item's result against the oracle-derived
   digests in ``golden.json`` (outside the timed passes).
2. Timed passes: each item is timed as its build (``REGISTRY[name].fn``
   or the batch pipeline) plus a ``noop`` write; ``clearCache`` runs
   between items. The seed permutes the item order of every pass. The
   number of passes is ``--seconds`` over the workload's
   ``workloads.SECONDS_PER_TIMED_PASS``, at least one.
3. With ``--trace 1`` the timed phase is instead one traced pass, in the
   same place as an untraced run's first timed pass; the per-layer
   metrics come from it. Its wall time is reported as ``trace.pass_s``:
   the tracing overhead is that minus ``pass_s`` of the untraced runs
   (``steadiness.py`` reports it).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
traced). Everything the run writes stays under ``.perfbench/`` in the
current checkout; the run's scratch directory is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import workloads  # noqa: E402

MAX_CORES = 4

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "ok_frac": "frac",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str) -> int:
    """Pin cores and send every scratch write of the run under ``work``."""
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # -XX:-UsePerfData: no /tmp/hsperfdata_* from the launcher or the driver JVM
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{jvm_opts}" '
        f'--conf "spark.sql.warehouse.dir={os.path.join(work, "warehouse")}" pyspark-shell'
    )
    return cores


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, all cores."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mib(spark) -> tuple[float, float]:
    """Peak resident set of this Python driver and of its JVM, in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kib = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kib = int(line.split()[1])
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, jvm_kib / 1024


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def verify_item(spark, item, sf_dir, sink_root, golden) -> list[str]:
    """Build the item, collect its checked results and compare them with the
    golden digests; returns the problems found (empty = correct). An item
    that raises is a failed item."""
    try:
        built = workloads.build(spark, item, sf_dir, sink_root)
        checked = {check: common.result_digest(df.toPandas()) for check, df in built.checked.items()}
    except Exception as e:
        traceback.print_exc(file=sys.stderr)
        return [f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"]
    problems = []
    for check, got in checked.items():
        want = golden["checks"][check]
        if got != want:
            diff = [k for k in ("rows", "columns", "hash") if got[k] != want[k]]
            problems.append(f"{check}: {', '.join(diff)} differ (rows {got['rows']} vs {want['rows']})")
    if item == workloads.PIPELINE and built.verified_count != built.clean_count:
        problems.append(f"read-back {built.verified_count} rows != clean {built.clean_count}")
    return problems


class Run:
    """One benchmark run: the session, the item order and what was measured."""

    def __init__(self, spark, items, seed, sf_dir, work, tracer):
        self.spark = spark
        self.items = items
        self.rng = random.Random(seed)
        self.sf_dir = sf_dir
        self.sink_root = os.path.join(work, "sinks")
        self.tracer = tracer
        self.bad: set[str] = set()
        self.attempted = 0
        self.failed = 0
        self.item_times: dict[str, list[float]] = defaultdict(list)
        self.item_trace: list[dict] = []
        self.layer: dict[str, float] = defaultdict(float)
        self._exec = 0

    def order(self) -> list[str]:
        items = list(self.items)
        self.rng.shuffle(items)
        return items

    def verify_pass(self, golden) -> None:
        for item in self.order():
            self.spark.catalog.clearCache()
            self.attempted += 1
            t0 = time.perf_counter()
            problems = verify_item(self.spark, item, self.sf_dir, self.sink_root, golden)
            if problems:
                self.bad.add(item)
                self.failed += 1
                print(f"FAILED {item}: {'; '.join(problems)}", file=sys.stderr, flush=True)
            print(f"verified {item} in {time.perf_counter() - t0:.2f}s: {'FAILED' if problems else 'ok'}", flush=True)

    def timed_pass(self, traced: bool = False) -> float:
        t_pass = time.perf_counter()
        for item in self.order():
            self.spark.catalog.clearCache()
            self.attempted += 1
            ok = item not in self.bad
            t0 = time.perf_counter()
            try:
                if traced:
                    self._traced_item(item)
                else:
                    workloads.action(workloads.build(self.spark, item, self.sf_dir, self.sink_root))
            except Exception:
                ok = False
                traceback.print_exc(file=sys.stderr)
                print(f"FAILED {item}", file=sys.stderr, flush=True)
            if not traced:
                self.item_times[item].append(time.perf_counter() - t0)
            self.failed += not ok
        return time.perf_counter() - t_pass

    def _traced_item(self, item: str) -> None:
        from tracing import job_stats

        sc = self.spark.sparkContext
        self._exec += 1
        # a job group of its own labels the execution's jobs in the status store
        sc.setJobGroup(f"perfbench-{os.getpid()}-{self._exec}-{item}", item)
        t0, t0_ms = time.perf_counter(), time.time() * 1e3
        try:
            built = workloads.build(self.spark, item, self.sf_dir, self.sink_root)
            t_build, build_ms = time.perf_counter(), time.time() * 1e3
            workloads.action(built)
            t1, t1_ms = time.perf_counter(), time.time() * 1e3
        finally:
            sc.setJobGroup("perfbench-untraced", "")
        stats = job_stats(self.spark, t0_ms, build_ms, t1_ms)
        rec = {"item": item, "wall_s": t1 - t0, "build_s": t_build - t0, "action_s": t1 - t_build, **stats}
        self.item_trace.append(rec)
        for k, v in rec.items():
            if k != "item":
                self.layer[k] += v
        if item == workloads.PIPELINE:
            self.layer["sink_mb"] += sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(built.sink_path) for f in fs
            ) / 2**20
            self.layer["verified_frac"] = built.verified_count / built.clean_count if built.clean_count else 0.0


def end_to_end(run: Run, setup_s: float, pass_times) -> dict:
    medians = [statistics.median(run.item_times[i]) for i in run.items]
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(pass_times),
        "query_geomean_s": math.exp(statistics.fmean(math.log(m) for m in medians)),
        "ok_frac": (run.attempted - run.failed) / run.attempted,
    }


def per_layer(run: Run, tracer, get_spark_s: float, traced_s: float, progress) -> dict:
    lay = run.layer
    py_mb, jvm_mb = peak_rss_mib(run.spark)
    durations = [p["duration_ms"] for p in progress if p["duration_ms"] is not None]
    values = {
        "session.get_spark_s": (get_spark_s, "s"),
        "catalog.load_table_calls": (tracer.layer_calls["catalog.load_table"], "count"),
        "catalog.load_table_s": (tracer.layer_s["catalog.load_table"], "s"),
        "queries.build_s": (lay["build_s"], "s"),
        "queries.action_s": (lay["action_s"], "s"),
        "operators.build_jobs": (lay["build_jobs"], "count"),
        "queries.action_jobs": (lay["action_jobs"], "count"),
        "operators.graph_s": (tracer.layer_s["operators.graph"], "s"),
        "operators.dedup_s": (tracer.layer_s["operators.dedup"], "s"),
        "exec.jobs": (lay["jobs"], "count"),
        "exec.stages": (lay["stages"], "count"),
        "exec.tasks": (lay["tasks"], "count"),
        "exec.job_busy_s": (lay["job_busy_s"], "s"),
        "exec.driver_gap_s": (lay["driver_gap_s"], "s"),
        "exec.executor_run_s": (lay["executor_run_s"], "s"),
        "exec.executor_cpu_s": (lay["executor_cpu_s"], "s"),
        "exec.shuffle_read_mb": (lay["shuffle_read_mb"], "MiB"),
        "exec.shuffle_write_mb": (lay["shuffle_write_mb"], "MiB"),
        "exec.spill_mb": (lay["spill_mb"], "MiB"),
        "exec.gc_s": (lay["gc_s"], "s"),
        "pipelines.airports_batch_pipeline_s": (tracer.layer_s["pipelines.airports_batch_pipeline"], "s"),
        "pipelines.sink_mb": (lay["sink_mb"], "MiB"),
        "pipelines.verified_frac": (lay["verified_frac"], "frac"),
        "streaming.batches": (len(progress), "count"),
        "streaming.batch_p50_ms": (statistics.median(durations) if durations else 0.0, "ms"),
        "streaming.input_rows": (sum(p["num_input_rows"] for p in progress), "count"),
        "memory.peak_rss_mb": (py_mb + jvm_mb, "MiB"),
        "memory.python_peak_mb": (py_mb, "MiB"),
        "memory.jvm_peak_mb": (jvm_mb, "MiB"),
        "trace.pass_s": (traced_s, "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    common.require_repo()
    with open(common.GOLDEN) as f:
        golden = json.load(f)
    if common.data_fingerprint(workloads.TABLES) != golden["data"]:
        print("perfbench: data files differ from those golden.json was made from", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = pin_environment(work)
    spark = None
    try:
        import duckdb
        import pyspark

        from projet_etl_a_rien_spark.queries import _load_extensions
        from projet_etl_a_rien_spark.session import get_spark

        _load_extensions()
        from tracing import Tracer, drain_listener_bus

        tracer = Tracer()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t0
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "nproc": os.cpu_count(),
            "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "duckdb": duckdb.__version__,
            "python": sys.version.split()[0],
            "golden_duckdb": golden["duckdb"],
        }
        print("env " + json.dumps(env), flush=True)

        run = Run(spark, workloads.WORKLOADS[args.workload], args.seed, common.SF_DIR, work, tracer)
        run.verify_pass(golden)
        setup_s = time.perf_counter() - T_START

        if args.trace:
            from projet_etl_a_rien_spark.observability import BatchProgressRecorder

            tracer.install()
            recorder = BatchProgressRecorder().attach(spark)
            traced_s = run.timed_pass(traced=True)
            drain_listener_bus(spark)
            recorder.detach(spark)
            tracer.uninstall()
            metrics = per_layer(run, tracer, get_spark_s, traced_s, recorder.progress)
            for rec in run.item_trace:
                print("item " + json.dumps({k: round(v, 4) if isinstance(v, float) else v for k, v in rec.items()}))
            trace_dir = os.path.join(os.getcwd(), ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump(
                    {"env": env, "spans": tracer.spans, "items": run.item_trace, "streaming": recorder.progress},
                    f,
                )
        else:
            steal0 = cpu_steal_s()
            n_passes = max(1, int(args.seconds // workloads.SECONDS_PER_TIMED_PASS[args.workload]))
            pass_times = [run.timed_pass() for _ in range(n_passes)]
            values = end_to_end(run, setup_s, pass_times)
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
            print(f"passes {len(pass_times)} " + " ".join(f"{t:.3f}" for t in pass_times)
                  + f" steal_s {cpu_steal_s() - steal0:.2f}", flush=True)
            print("item_s " + json.dumps({i: [round(t, 4) for t in run.item_times[i]] for i in run.items}), flush=True)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
