"""Per-layer tracing for the benchmark's traced run, measured from outside
the engine.

Two sources:

- spans: wrappers installed around public functions of the engine's
  modules (``catalog.load_table``, the ``operators.graph`` and ``dedup``
  functions, ``pipelines.airports_batch_pipeline``). They exist only
  between ``install`` and ``uninstall``. Only the outermost call of a
  layer is timed, so a layer function calling another of the same layer
  is not counted twice. Spans stay in memory and are written out when
  the run ends.
- Spark counters: read from the application status store for the jobs of
  one item execution. Every execution runs under its own job group, so
  counts never accumulate across executions.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "projet_etl_a_rien_spark"

# layer name -> (module, the functions that form it; None = every public one)
LAYERS = {
    "catalog.load_table": (f"{PACKAGE}.catalog", {"load_table"}),
    "operators.graph": (f"{PACKAGE}.operators.graph", None),
    "operators.dedup": (f"{PACKAGE}.operators.dedup", None),
    "pipelines.airports_batch_pipeline": (f"{PACKAGE}.pipelines", {"airports_batch_pipeline"}),
}


class Tracer:
    """Spans and per-layer counters for one run, recorded while installed."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.layer_s: dict[str, float] = defaultdict(float)
        self.layer_calls: dict[str, int] = defaultdict(int)
        self._depth: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None, "name": name, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._depth[layer]:
                return fn(*args, **kwargs)
            self._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                with self.span(layer, fn=fn.__name__):
                    return fn(*args, **kwargs)
            finally:
                self.layer_s[layer] += time.perf_counter() - t0
                self.layer_calls[layer] += 1
                self._depth[layer] -= 1

        return wrapper

    def install(self) -> None:
        """Replace each layer function wherever the package holds a reference
        to it: its own module and every module that imported it by name."""
        wrappers = {}
        for layer, (modname, only) in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, fn in vars(mod).items():
                if not inspect.isfunction(fn) or fn.__module__ != modname or name.startswith("_"):
                    continue
                if only is None or name in only:
                    wrappers[id(fn)] = self._wrap(layer, fn)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PACKAGE):
                continue
            for name, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None:
                    self._patched.append((mod, name, val))
                    setattr(mod, name, w)

    def uninstall(self) -> None:
        for mod, name, val in reversed(self._patched):
            setattr(mod, name, val)
        self._patched.clear()


def _union_ms(intervals, lo, hi) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def drain_listener_bus(spark) -> None:
    """Wait until every listener has handled every event posted so far.

    The status store and streaming listeners are fed asynchronously by the
    listener bus. A job's start and end events are posted before the
    action that ran it returns, so after this the store holds every job of
    the finished item, and a stream's listener has every progress event.
    """
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_stats(spark, t0_ms: float, build_end_ms: float, t1_ms: float) -> dict:
    """Spark counters for the jobs one item execution ran, split at
    ``build_end_ms`` into build and action jobs.

    The item's jobs are all jobs submitted since ``t0_ms``: with one
    client nothing else runs. That includes streaming micro-batches, which
    run under the stream's own job group rather than the item's.
    """
    drain_listener_bus(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm, gw = spark._jvm, sc._gateway
    listed = store.jobsList(None)  # newest first
    jobs = []
    for k in range(listed.size()):
        j = listed.apply(k)
        if not j.submissionTime().isDefined() or j.submissionTime().get().getTime() < t0_ms:
            break
        jobs.append(j)
    out = defaultdict(float)
    intervals, stage_ids = [], set()
    for j in jobs:
        sub = j.submissionTime().get().getTime()
        end = j.completionTime().get().getTime() if j.completionTime().isDefined() else t1_ms
        intervals.append((sub, end))
        out["build_jobs" if sub <= build_end_ms else "action_jobs"] += 1
        seq = j.stageIds()
        stage_ids.update(seq.apply(i) for i in range(seq.size()))
    empty, no_q = jvm.java.util.ArrayList(), gw.new_array(jvm.double, 0)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, empty, False, no_q)
        for k in range(attempts.size()):
            s = attempts.apply(k)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["spill_mb"] += s.diskBytesSpilled() / 2**20
            out["gc_s"] += s.jvmGcTime() / 1e3
    out["jobs"] = len(jobs)
    busy = _union_ms(intervals, t0_ms, t1_ms)
    out["job_busy_s"] = busy / 1e3
    out["driver_gap_s"] = (t1_ms - t0_ms - busy) / 1e3
    return dict(out)
