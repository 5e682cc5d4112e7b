"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. Each query is timed end-to-end
(plan + execute + full-projection materialization) on a warmed session.
The materializing action is a ``noop``-format write, not ``count()`` —
under count() Catalyst prunes every unused projection, which under-measures
narrow per-row queries (doc_quality_score, multimodal_byte_features); the
noop sink executes the complete plan and discards rows executor-side.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from projet_etl_a_rien_spark.observability import profile
from projet_etl_a_rien_spark.queries import REGISTRY
from projet_etl_a_rien_spark.session import get_spark

# Sink-bearing PIPELINES, reported separately from pure queries (r4
# VERDICT #5): their wall-clock is dominated by per-run sink I/O +
# idempotency machinery, so folding them into the query total hides
# round-over-round query regressions behind ingest noise.
PIPELINES = [
    "minhash_incremental_ingest",
    # r6: streaming postings ingest + compaction + folded read (sink I/O)
    "streaming_inverted_index_ingest",
    # r6: the full stream->index->rank loop (sink build + BM25 read-side)
    "streaming_index_bm25_topk",
    # r12: the sliding-KMV dashboard served from foreachBatch sink
    # state (a real checkpointed stream + compaction + serve-side fold
    # — sink I/O dominates, so it totals with the pipelines)
    "streaming_sliding_kmv_windows",
    # r13: the consistent distinct-value sampler served from
    # foreachBatch sink state (value-sample partials + compaction +
    # folded serve — the eval-set primitive, r12 verdict ask #1)
    "streaming_user_value_sample_kmv",
]

# Headline set: flagship pipeline + heaviest relational, LLM-pipeline and
# streaming shapes.
HEADLINE = [
    "airports_flagship",
    "tpch_q1_pricing_summary",
    "tpch_q3_top_orders",
    "tpch_q6_forecast_revenue",
    "regional_revenue",
    "customer_running_order_total",
    "events_json_kpi",
    "events_hourly",
    "events_user_anomalies",
    "tpch_q9_product_type_profit",
    "minhash_near_dup_pairs",
    "ngram_jaccard_pairs",
    "embedding_cosine_topk",
    "doc_quality_score",
    "streaming_hourly_windows",
    # r4: the expensive composites that dominate a real curation run
    # (r3 VERDICT #5) — tracked so regressions on the costliest operators
    # show up in the round-over-round trend, not just the fast shapes.
    "minhash_dedup_clusters",
    "doc_winnow_fingerprints",
    # r4 additions: the prefix-filtered exact similarity join (heaviest
    # new operator) and BM25 retrieval scoring (corpus-scale explode+agg)
    "jaccard_prefix_pairs",
    "bm25_score_docs",
    # r4 batch 4: the two heaviest graph/string operators after their
    # optimization passes (degree-oriented triangles over the 1.2M-edge
    # co-purchase graph; FastSS deletion-neighborhood edit join)
    "parts_triangle_counts",
    "customer_name_edit_pairs",
    # r4 batch 5: iterative peeling over the same 1.2M-edge graph (cost =
    # rounds x degree-agg + anti-joins) and the costliest ANN composite
    # (shared k-means fit + multi-probe candidate join)
    "parts_kcore",
    "embedding_knn_join_multiprobe_top3",
    # r6 additions: the corpus-scale index build (posexplode + double agg
    # + vocab join — the heaviest new shuffle shape) and DSIR importance
    # weighting (two corpus-scale shuffles + broadcast LLR fold)
    "doc_inverted_index",
    "dsir_importance_weights",
    # r8 additions: the DOULION sampled-triangle twin (tracked beside
    # the exact enumerator so the claimed ~0.35x work reduction stays a
    # measured fact) and the FIM per-row assembly transform
    "parts_triangle_estimate",
    "doc_fim_transform",
    # r9: DOULION at the p=1/10 policy tier (the 100 TB knob), and the
    # byte-level tokenizer encode (production token counts)
    "parts_triangle_estimate_p10",
    "corpus_bbpe_encode_stats",
    # r10: the production tokenizer (GPT-2 pre-tokenizer + rank-80 cut
    # of the exhaustion ladder — the heaviest new fold chain) and the
    # two serve-from-state sketches (cheap by design; tracked so the
    # bounded-state claim stays a measured fact)
    "corpus_bbpe_encode_stats_v2",
    "corpus_length_quantiles_sketch",
    "events_user_hll_distinct",
    # r10 session 2: the decode roundtrip (full tokenizer both ways —
    # the heaviest new text shape), the KMV set-operation sketch, the
    # image-dedup crossover (real codec + banding), bounded-hop BFS
    # over the 1.2M-edge graph, and the ER golden-record composite
    "corpus_bbpe_roundtrip",
    "events_type_kmv_overlap",
    "multimodal_phash_near_dup_pairs",
    "parts_copurchase_bfs_3hop",
    "customer_entity_resolution",
    # r11: the sliding KMV window (720 window folds + adjacent
    # intersections from O(hours x k) state) and the keyed KS drift
    # dashboard (grid-sized per key; tracked so the serve-side
    # join-free claim stays a measured fact)
    "events_sliding_kmv_windows",
    "source_length_drift_ks_by_lang",
    # r11 session 2: the trailing-window daily drift monitor (sketch
    # additivity over time + keyed KS) and the gated shingle-overlap
    # operating point (tracked beside the ungated twin so the
    # keep-gate's cost cut stays a measured fact)
    "events_value_drift_daily_ks",
    "source_shingle_kmv_overlap_gated",
    "events_user_distinct_sample_kmv",
    # r12: the DOULION auto-tier default for triangle statistics (the
    # policy resolution adds one raw-pair COUNT scan on top of the
    # exact enumeration at this sf — tracked so that overhead stays a
    # measured fact beside the exact/explicit-p twins)
    "parts_triangle_counts_auto",
]


def _bench_rounds() -> list[int]:
    """Round numbers with a BENCH_r{N}.json artifact, ascending."""
    return sorted(_bench_round_files())


def _next_round(art_dir: str | None = None) -> int:
    """Round stamp for the detail file this run writes: one past the
    newest DRIVER wrapper (BENCH_r{N}.json) — the same source the
    driver derives the wrapper's own name from, so wrapper and detail
    always agree on the round number. Detail files are deliberately
    EXCLUDED from the stamp source (r13 verdict ask #4): bench.py
    writes the upcoming round's detail BEFORE the driver's wrapper
    lands, so counting details made the NEXT in-session run see its
    own artifact and stamp one round ahead — exactly how the r13
    close-out detail got committed as BENCH_DETAIL_r14.json /
    "round": 14 under wrapper BENCH_r13.json. (Re-running bench
    within one round now just refreshes the SAME detail file, which
    was always the intent — see the provenance comment at the write
    site.)"""
    import glob
    import re

    here = art_dir or os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"_r(\d+)\.json$", os.path.basename(p)))
    ]
    return (max(rounds) + 1) if rounds else 0


def _bench_round_files(art_dir: str | None = None) -> dict[int, list[str]]:
    """round → [detail_filename?, wrapper_filename?] from the ACTUAL
    on-disk artifact names. Rounds 1-9 are committed zero-padded
    (BENCH_r01.json) while 10+ are not; reconstructing names from ints
    silently dropped the padded rounds from the mover-comparison base
    (r12 ADVICE #2), so the walk now carries the globbed filenames."""
    import glob
    import re

    here = art_dir or os.path.dirname(os.path.abspath(__file__))
    files: dict[int, list[str]] = {}
    for pat, pos in (("BENCH_DETAIL_r*.json", 0), ("BENCH_r*.json", 1)):
        for p in sorted(glob.glob(os.path.join(here, pat))):
            base = os.path.basename(p)
            m = re.search(r"_r(\d+)\.json$", base)
            if not m:
                continue
            slot = files.setdefault(int(m.group(1)), [None, None])
            if slot[pos] is not None:
                # a padded and an unpadded artifact for the same round
                # coexist (BENCH_r01.json beside BENCH_r1.json) — glob
                # order must not silently decide which one feeds the
                # comparison base (r13 ADVICE #2). Deterministic rule:
                # prefer the UNPADDED name, the writer's live naming
                # convention (padded names are the legacy r01–r09
                # set, so a duplicate means a stray legacy-style copy).
                if m.group(1).startswith("0"):
                    continue  # keep the unpadded name already in slot
            slot[pos] = base
    return {
        rnd: [f for f in pair if f is not None]
        for rnd, pair in files.items()
    }


def _effective_total(
    timings: dict[str, float], solo: dict[str, dict]
) -> float:
    """Solo-substituted total: the recorded per-name sum with each
    >1.3x mover's fresh-session re-measure substituted for its
    contended recorded time (r13 verdict ask #6 — the cross-round
    comparison basis, emitted instead of recomputed by hand)."""
    return round(
        sum(
            solo[n]["solo"] if n in solo else t
            for n, t in timings.items()
        ),
        4,
    )


def _load_prior_round(sf: str) -> dict[str, float]:
    """Per-query timings for the solo re-measure comparison base:
    newest available measurement per name, walking rounds DESCENDING
    and, within a round, preferring the committed BENCH_DETAIL_r{N}.json
    over the driver's BENCH_r{N}.json "parsed" blob. The walk exists
    because a round's driver record can be unparsed (r11: the full JSON
    line outgrew the driver's 2000-char stdout tail → "parsed": null)
    or a detail file partial (BENCH_DETAIL_r11 is tail-reconstructed) —
    a name missing from the newest round still gets its most recent
    older measurement instead of silently dropping out of the
    >1.3x-mover check.

    Only artifacts recorded at the SAME scale factor as this run are
    comparison-eligible: mixing scales would make every ratio a scale
    artifact (an sf1 prior makes genuine sf0.1 regressions invisible at
    ~0.1x; an sf0.01 prior flags every query as a mover). Artifacts
    that predate the "sf" field were all recorded at the canonical
    sf0.1, so they count only for an sf0.1 run."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        sf_num = float(sf)
    except ValueError:
        return {}  # no comparable scale: every artifact is ineligible
    merged: dict[str, float] = {}
    round_files = _bench_round_files()
    for rnd in sorted(round_files, reverse=True):
        for fname in round_files[rnd]:
            try:
                with open(os.path.join(here, fname)) as f:
                    d = json.load(f)
            except (OSError, ValueError):
                continue
            if fname.startswith("BENCH_r"):
                d = d.get("parsed")  # driver wrapper; None if unparsed
            if not isinstance(d, dict):
                continue
            art_sf = d.get("sf", 0.1)  # pre-field artifacts were sf0.1
            if art_sf != sf_num:
                # a DETAIL file at the wrong scale doesn't disqualify
                # the round's wrapper (r12 ADVICE #1: a clobbered
                # detail must not drop a valid wrapper measurement)
                continue
            for name, t in {**d.get("queries", {}), **d.get("pipelines", {})}.items():
                if isinstance(t, (int, float)) and name not in merged:
                    merged[name] = float(t)
            break  # matching file found — don't double-read the wrapper
    return merged


def _load_r1_bar() -> dict[str, float]:
    """Per-query r1 timings from the same-environment re-baseline
    (BASELINE_LOCAL_r09.json) — the drift bar the >1.3x mover check
    compares against IN ADDITION to the newest prior round, so slow
    creep spread across rounds (invisible to a round-over-round-only
    rule) still triggers a solo re-time (r12 verdict ask #5). The r1
    bar was recorded at sf0.1; callers at any other scale skip it.

    BASELINE_LOCAL_r14.json extends the bar to the graph/ANN/triangle
    lines the r09 file predates (r13 verdict ask #5): its ``bar_sec`` is
    the r12-era same-day worktree minimum (its ``methodology`` records
    how it was measured),
    merged UNDER the r09 rows — on overlap the r09 bar wins, because an
    older era is a longer creep-detection window."""
    here = os.path.dirname(os.path.abspath(__file__))
    out: dict[str, float] = {}
    for fname, key in (
        ("BASELINE_LOCAL_r14.json", "bar_sec"),
        ("BASELINE_LOCAL_r09.json", "r1_sec"),
    ):
        try:
            with open(os.path.join(here, fname)) as f:
                d = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in (d.get("queries") or {}).items():
            t = row.get(key) if isinstance(row, dict) else None
            if isinstance(t, (int, float)) and t > 0:
                out[name] = float(t)  # later (r09) rows overwrite r14
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    # Warm the JVM: codegen paths (agg, join, window, json), the parquet
    # reader, and the shuffle machinery, so the first measured query
    # doesn't pay one-time session costs. Everything here touches only a
    # 1k-row synthetic frame and the 5-row region table.
    warm = spark.range(1_000)
    warm.selectExpr("sum(id)").collect()
    warm.selectExpr("id % 7 AS k", "id AS v").groupBy("k").sum("v").collect()
    warm.alias("a").join(warm.alias("b"), "id").count()
    warm.selectExpr(
        "id", "sum(id) OVER (PARTITION BY id % 7 ORDER BY id) AS r"
    ).collect()
    warm.selectExpr(
        "from_json(to_json(named_struct('x', id)), 'x long') AS s"
    ).count()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # Compile the heavy generated-code paths (shingle/minhash folds, LSH
    # band join) against the tiny sf0.001 fixture so the measured numbers
    # are steady-state throughput at the target SF, not one-time Janino
    # compilation — the quantity that actually scales with data volume.
    try:
        REGISTRY["minhash_near_dup_pairs"].fn(
            spark, "/root/testdata/sf0.001"
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass  # warmup must never fail the bench

    # Per-query MINIMUM of two runs. This box is a shared VM with heavy
    # CPU-steal jitter: the same commit measured 14.27 s and 23.01 s
    # total on back-to-back single-shot runs (+61% with zero code
    # change). The minimum is the standard steady-state estimator under
    # external noise — it measures the plan, not scheduler luck — and
    # the methodology is declared in the emitted JSON so cross-round
    # comparisons can account for it.
    # The two runs are separate FULL SWEEPS, not back-to-back: steal
    # noise comes in sustained multi-second phases, so a query's two
    # executions are spaced ~a sweep apart to decorrelate from any one
    # phase.
    # profile() clears the cache after each run, so caches never
    # accumulate and the second run re-executes the full plan; each
    # name keeps the profile of its fastest run.
    runs = 2
    profiles: dict[str, dict] = {}
    for _ in range(runs):
        for name in HEADLINE + PIPELINES:
            if name not in REGISTRY:
                continue
            p = profile(spark, name, sf_dir)
            if name not in profiles or p["wall_s"] < profiles[name]["wall_s"]:
                profiles[name] = p
    best = {n: p["wall_s"] for n, p in profiles.items()}
    timings = {n: round(t, 4) for n, t in best.items() if n in set(HEADLINE)}
    pipe_timings = {n: round(t, 4) for n, t in best.items() if n in set(PIPELINES)}
    total = round(sum(timings.values()), 4)

    # Solo re-measure protocol (SCALE_BENCH's rule, adopted for BENCH
    # after r9 shipped 1.2-1.7x contention inflation on untouched
    # queries): any query whose recorded minimum regressed > 1.3x vs the
    # previous round's artifact is re-timed SOLO — fresh session, min of
    # 3 — and both numbers land in the artifact, so a recorded
    # regression can be told apart from recording-day VM noise without a
    # by-hand re-run.
    solo: dict[str, dict[str, float]] = {}
    prior = _load_prior_round(sf)
    # Second comparison base: the r1 same-environment bar. A query can
    # creep 1.05x per round for five rounds without ever tripping the
    # vs-prior rule; comparing against r1 as well catches the
    # accumulated drift (r12 verdict ask #5). sf0.1 only — the bar was
    # recorded at the canonical scale.
    r1_bar = _load_r1_bar() if sf == "0.1" else {}
    movers = sorted(
        {
            n
            for n, t in best.items()
            if (n in prior and prior[n] > 0 and t / prior[n] > 1.3)
            or (n in r1_bar and t / r1_bar[n] > 1.3)
        }
    )
    if movers:
        spark.stop()
        time.sleep(2)
        spark = get_spark("bench-solo")
        spark.range(1_000).selectExpr("sum(id)").collect()  # rewarm
        for name in movers:
            solo_best = min(profile(spark, name, sf_dir)["wall_s"] for _ in range(3))
            solo[name] = {
                "recorded": round(best[name], 4),
                "solo": round(solo_best, 4),
            }
            if name in prior:
                solo[name]["prior"] = round(prior[name], 4)
            if name in r1_bar:
                solo[name]["r1"] = round(r1_bar[name], 4)
    methodology = (
        f"per-query min of {runs} full plan executions"
        " (noop sink, cache cleared between runs; shared-VM"
        " CPU-steal makes single-shot timings +/-60%);"
        " value/queries exclude sink-bearing pipelines —"
        " see pipelines/pipelines_total; movers >1.3x vs the newest"
        " prior round OR vs the r1 bar (BASELINE_LOCAL_r09)"
        " (queries AND pipelines) re-timed solo in solo_remeasured"
    )
    # Per-query detail goes to a COMMITTED file, not stdout: the r11
    # final JSON line outgrew the driver's 2000-char stdout tail, so
    # BENCH_r11.json recorded "parsed": null — an entire round with no
    # structured driver-side bench record (r11 verdict, task #1). The
    # stdout line is now a compact summary guaranteed to fit the tail;
    # everything else lives in BENCH_DETAIL_r{N}.json at the repo root.
    here = os.path.dirname(os.path.abspath(__file__))
    next_round = _next_round()
    # The round-numbered detail file is the canonical sf0.1 record the
    # driver and the mover-base walk read; an ad-hoc run at any other
    # scale writes a scale-suffixed scratch name instead, so it can
    # never clobber the round artifact (and, being un-walked, never
    # poisons the >1.3x comparison base either).
    detail_name = (
        f"BENCH_DETAIL_r{next_round}.json"
        if sf == "0.1"
        else f"BENCH_DETAIL_sf{sf}.json"
    )
    # provenance: the round label comes from BENCH_r* artifacts only —
    # intentional, so the driver's end-of-round run refreshes the SAME
    # round's detail file — which leaves a window where a later session
    # could overwrite a round's detail before its BENCH_r{N} wrapper
    # lands. The commit sha makes any such clobber detectable.
    try:
        import subprocess

        head = subprocess.run(
            ["git", "-C", here, "rev-parse", "--short", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip()
    except Exception:
        head = None
    detail = {
        "round": next_round,
        "git_head": head or "unknown",
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # sink-bearing ingest pipelines, timed identically but totalled
        # separately: their cost is sink I/O + idempotency work, not
        # query-plan throughput
        "pipelines": pipe_timings,
        "pipelines_total": round(sum(pipe_timings.values()), 4),
        # solo-substituted totals (r13 verdict ask #6): the recorded
        # sums with each solo-re-measured name's fresh-session number
        # substituted in — the round-over-round comparison basis the
        # judge previously had to recompute by hand (recorded sweeps
        # on this shared VM are contention upper bounds; the solo
        # re-time is the measurement).
        "effective_total": _effective_total(timings, solo),
        "pipelines_effective_total": _effective_total(pipe_timings, solo),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # queries/pipelines that regressed >1.3x vs the newest prior
        # measurement, re-timed solo (fresh session, min of 3):
        # solo ≈ prior means recording-day contention, not a
        # regression; solo ≈ recorded means a real slowdown
        "solo_remeasured": solo,
        # every name compared for the >1.3x rule, with its ratio —
        # proves the mover check ran over pipelines too, even when
        # solo_remeasured comes out empty (r11 verdict, task #5)
        "solo_candidates": {
            n: round(t / prior[n], 3)
            for n, t in sorted(best.items())
            if n in prior and prior[n] > 0
        },
        # same rule against the r1 same-environment bar (r12 ask #5):
        # slow cross-round creep trips this even when vs-prior is quiet
        "r1_candidates": {
            n: round(t / r1_bar[n], 3)
            for n, t in sorted(best.items())
            if n in r1_bar
        },
        "methodology": methodology,
        # observability.profile of each name's fastest sweep run: the
        # build/action job split, stages, task width, executor time,
        # shuffle/spill bytes and the driver time between jobs
        "profile": profiles,
    }
    try:
        with open(os.path.join(here, detail_name), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: the compact stdout line still lands

    # Compact stdout line. Budget: the driver keeps the LAST 2000 chars
    # of stdout; target <= 1800 to leave margin. The per-name maps are
    # the driver contract's attribution source (PERF_r14 came out with
    # per_query {} / geomean null / bench_ok false because the r11-era
    # compact line had dropped them for the stdout-tail budget — r14
    # verdict ask #1), so "queries"/"pipelines" are now IRREDUCIBLE:
    # emitted at 2-decimal precision with compact separators (~1.7 kB
    # for 48 names; full 4-decimal precision stays in the detail file),
    # and the drop-largest-first loop only ever sheds the auxiliary
    # fields around them.
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "queries": {n: round(t, 2) for n, t in sorted(timings.items())},
        "pipelines": {
            n: round(t, 2) for n, t in sorted(pipe_timings.items())
        },
        "pipelines_total": round(sum(pipe_timings.values()), 4),
        "n_pipelines": len(pipe_timings),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "solo_remeasured": solo,
        "movers_checked": len(detail["solo_candidates"]),
        "detail": detail_name,
        # full methodology prose lives in the detail file; the line
        # carries the short form so the tail budget holds
        "method": f"min-of-{runs} noop-sink sweeps; movers solo-retimed",
    }

    def _dump(d: dict) -> str:
        return json.dumps(d, separators=(",", ":"))

    line = _dump(compact)
    # Drop auxiliary fields largest-first until the line fits the
    # driver's 2000-char stdout tail; the per-name queries/pipelines
    # maps are never dropped (they ARE the contract).
    for step in ("method", "movers_checked", "solo_trunc", "solo_drop"):
        if len(line) <= 1900:
            break
        if step == "solo_trunc":
            # never drop movers silently — truncate to the 3 worst
            worst = sorted(
                solo.items(),
                key=lambda kv: -(
                    kv[1]["solo"] / max(kv[1].get("prior", 1e-9), 1e-9)
                ),
            )[:3]
            compact["solo_remeasured"] = dict(worst)
            compact["solo_truncated"] = len(solo) - len(worst)
        elif step == "solo_drop":
            compact.pop("solo_remeasured", None)
            compact["solo_truncated"] = len(solo)
        else:
            compact.pop(step, None)
        line = _dump(compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
