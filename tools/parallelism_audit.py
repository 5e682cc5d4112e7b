"""Task-parallelism audit: find compute-serialized stages.

Round 5 found two headline operators (the kNN candidate join, the
edit-distance join) running their quadratic pair stages on ONE task:
AQE's partition coalescing is BYTE-based, so a join that is heavy in
compute but small in bytes gets lumped into a single task and leaves
31 of 32 cores idle. Plan-shape tests can't see this — the plan is
correct; the TASK LAYOUT is not.

This tool executes queries under a job group, then walks the completed
jobs' stages via the status tracker and reports wall time, stage count,
and the maximum per-stage task width. A query that takes >1 s of wall
time with max width <= 2 is flagged SERIAL — either accept it with a
reason (driver-side iteration, single-row result) or fix it with a
compute-split salt / explicit keyed repartition (see SCALE_NOTES r5,
similarity.ann_knn_join(compute_splits), strings.edit_distance_pairs
(compute_splits)).

Usage: python tools/parallelism_audit.py [--all | name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projet_etl_a_rien_spark.queries import REGISTRY
from projet_etl_a_rien_spark.session import get_spark

WALL_FLAG_SEC = 1.0
WIDTH_FLAG = 2


def main() -> int:
    import bench

    if "--all" in sys.argv[1:]:
        names = sorted(REGISTRY)
    elif sys.argv[1:]:
        names = [n for n in sys.argv[1:] if n in REGISTRY]
    else:
        names = [n for n in bench.HEADLINE + bench.PIPELINES if n in REGISTRY]

    spark = get_spark("parallelism-audit")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    flagged = []
    print(f"{'query':42s} {'wall_s':>7s} {'stages':>6s} {'max_width':>9s}")
    for name in names:
        # warm once so codegen/compile constants don't mask task layout
        REGISTRY[name].fn(spark, "/root/testdata/sf0.1").write.format(
            "noop"
        ).mode("overwrite").save()
        spark.catalog.clearCache()
        sc.setJobGroup(name, name, interruptOnCancel=False)
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, "/root/testdata/sf0.1").write.format(
            "noop"
        ).mode("overwrite").save()
        wall = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(name):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        widths = []
        for sid in stage_ids:
            si = tracker.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                widths.append(si.numTasks)
        max_w = max(widths) if widths else 0
        serial = wall > WALL_FLAG_SEC and 0 < max_w <= WIDTH_FLAG
        if serial:
            flagged.append(name)
        print(
            f"{name:42s} {wall:7.2f} {len(widths):6d} {max_w:9d}"
            f"{'  << SERIAL' if serial else ''}"
        )
        spark.catalog.clearCache()
    print(
        f"\n{len(flagged)} flagged: {flagged}" if flagged else "\nno serialized stages"
    )
    spark.stop()
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
