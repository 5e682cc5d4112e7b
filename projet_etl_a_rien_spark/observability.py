"""Edge observability — the engine's answer to NiFi's LogAttribute hops.

The reference flow logs flowfile attributes on every success/failure edge
(four LogAttribute processors, ``/root/reference/nifi_data/tp.xml:430,
1067,1206,1973``). In a declarative Spark engine the equivalent is NOT a
row-at-a-time logger (that would force a Python hot path); it is

1. ``observe()`` metrics — named aggregates attached to the plan and
   collected as a side effect of whatever action runs, zero extra passes;
2. a driver-side log line when the edge is wired, recording the edge name
   and schema (the "attributes" NiFi would print).

``observed_edge`` returns the instrumented DataFrame plus the
``Observation`` handle whose ``.get`` yields the metrics after any action
— usable on every ingest edge (Kafka/JDBC/HTTP/file) without touching
the data path.

Per query, ``profile`` answers "where did this execution spend its
time?" from Spark's own status store: jobs split into build and action,
stages, task width, executor time, shuffle and spill bytes, driver time
between jobs, and streaming micro-batches. It is the package's one
reader of Spark's job and stage counters.
"""

from __future__ import annotations

import logging
import math
import time
from collections import defaultdict

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

logger = logging.getLogger("projet_etl_a_rien_spark.edges")


def observed_edge(df: DataFrame, edge_name: str) -> tuple[DataFrame, Observation]:
    """Instrument an ingest/egress edge with passive row/null metrics.

    Metrics ride along with the next action on the returned DataFrame
    (no extra job): total rows and per-column null counts — the two
    things the reference's LogAttribute hops made visible.
    """
    obs = Observation(edge_name)
    metrics = [F.count(F.lit(1)).alias("rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}") for c in df.columns
    ]
    logger.info("edge %s wired: schema=%s", edge_name, df.schema.simpleString())
    return df.observe(obs, *metrics), obs


class BatchProgressRecorder:
    """Streaming-side observability: a ``StreamingQueryListener`` that
    records per-micro-batch progress (rows in, processing duration,
    stateful-operator rows) — what the reference's LogAttribute hops
    showed for NiFi flowfiles, as structured records instead of log
    lines. Attach before starting queries; ``.progress`` accumulates one
    dict per finished batch, the feed for lag/throughput alerting in a
    production pipeline."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        recorder = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                recorder.progress.append(
                    {
                        "query": p.name,
                        "batch_id": p.batchId,
                        "num_input_rows": p.numInputRows,
                        "duration_ms": (p.durationMs or {}).get("triggerExecution"),
                    }
                )

            def onQueryTerminated(self, event):
                pass

            def onQueryIdle(self, event):
                pass

        self.progress: list[dict] = []
        self._listener = _L()

    def attach(self, spark) -> "BatchProgressRecorder":
        spark.streams.addListener(self._listener)
        return self

    def detach(self, spark) -> None:
        spark.streams.removeListener(self._listener)


# The record ``profile`` returns, in this order.
_FIELDS = (
    "wall_s", "build_s", "jobs", "build_jobs", "action_jobs", "stages", "tasks",
    "max_task_width", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "executor_run_s", "executor_cpu_s", "gc_s", "driver_gap_s", "stream_batches",
)

# The local properties ``SparkContext.setJobGroup`` sets on the calling thread.
_JOB_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _union_ms(intervals, lo, hi) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _job_stats(spark, t0_ms: float, build_end_ms: float, t1_ms: float) -> dict:
    """Counters of every job submitted since ``t0_ms``, split at
    ``build_end_ms`` into build and action jobs. Submission time, not job
    group, selects the jobs, so streaming micro-batches (which run under
    their stream's own group) and pool-thread jobs count too."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    listed = store.jobsList(None)  # newest first
    jobs = []
    for k in range(listed.size()):
        j = listed.apply(k)
        if not j.submissionTime().isDefined() or j.submissionTime().get().getTime() < t0_ms:
            break
        jobs.append(j)
    out = defaultdict(int)
    intervals, stage_ids = [], set()
    for j in jobs:
        sub = j.submissionTime().get().getTime()
        end = j.completionTime().get().getTime() if j.completionTime().isDefined() else t1_ms
        intervals.append((sub, end))
        out["build_jobs" if sub <= build_end_ms else "action_jobs"] += 1
        seq = j.stageIds()
        stage_ids.update(seq.apply(i) for i in range(seq.size()))
    empty, no_q = spark._jvm.java.util.ArrayList(), sc._gateway.new_array(spark._jvm.double, 0)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, empty, False, no_q)
        for k in range(attempts.size()):
            s = attempts.apply(k)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["max_task_width"] = max(out["max_task_width"], s.numTasks())
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["spill_mb"] += s.diskBytesSpilled() / 2**20
            out["gc_s"] += s.jvmGcTime() / 1e3
    out["jobs"] = len(jobs)
    out["driver_gap_s"] = (t1_ms - t0_ms - _union_ms(intervals, t0_ms, t1_ms)) / 1e3
    return out


def profile(spark, name: str, sf_dir: str) -> dict:
    """Run ``REGISTRY[name]`` once, built and then written to the noop
    sink, and return where the execution spent its time.

    The jobs run under job group ``name``; the caller's job group is
    restored afterwards. The build and the write are timed (``build_s``,
    ``wall_s``), then the cache is cleared, so the next execution
    re-runs the whole plan. The record also holds ``jobs`` (=
    ``build_jobs`` + ``action_jobs``, split at the end of the build),
    ``stages``, ``tasks``, ``max_task_width``, ``shuffle_read_mb``,
    ``shuffle_write_mb`` and ``spill_mb`` (MiB), ``executor_run_s``,
    ``executor_cpu_s``, ``gc_s``, ``driver_gap_s`` (wall time during
    which no job ran) and ``stream_batches`` (micro-batches of any
    stream the execution ran). For a minimum over runs, take ``min``
    over calls."""
    from .queries import REGISTRY

    sc = spark.sparkContext
    caller = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_KEYS}
    recorder = BatchProgressRecorder().attach(spark)
    sc.setJobGroup(name, name)
    # Spark stamps jobs in whole milliseconds: start on one, so a job
    # submitted within the first millisecond is not taken for an older one
    t0_ms = math.floor(time.time() * 1e3)
    try:
        df = REGISTRY[name].fn(spark, sf_dir)
        build_ms = time.time() * 1e3
        df.write.format("noop").mode("overwrite").save()
        t1_ms = time.time() * 1e3
    finally:
        for k, v in caller.items():
            sc.setLocalProperty(k, v)
        spark.catalog.clearCache()
        # the status store and the recorder are fed asynchronously by the
        # listener bus; once it is empty they hold every event posted so far
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        recorder.detach(spark)
    out = _job_stats(spark, t0_ms, build_ms, t1_ms)
    out.update(
        wall_s=(t1_ms - t0_ms) / 1e3,
        build_s=(build_ms - t0_ms) / 1e3,
        stream_batches=len(recorder.progress),
    )
    return {k: round(out[k], 6) if isinstance(out[k], float) else out[k] for k in _FIELDS}
