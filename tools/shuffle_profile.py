"""Measured shuffle/spill profile of headline queries at sf0.1.

SCALE_NOTES and the operator docstrings make claims like "pure per-row
projection, zero shuffle" and "one exchange keyed by user" — this tool
turns those from plan-reading claims into MEASURED bytes: it runs each
query against a noop sink with the Spark UI's status API enabled and
attributes the shuffle read/write and spill bytes of the stages each
query submitted. Output: one JSON line
{"metric": "shuffle_profile", "sf": ..., "queries": {name:
{"shuffle_write_mb": .., "shuffle_read_mb": .., "spill_mb": ..,
"n_stages": ..}}}.

Zero-shuffle queries MUST report 0.0 shuffle_write_mb — a regression
here means a projection operator silently grew an exchange.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projet_etl_a_rien_spark.queries import REGISTRY
from projet_etl_a_rien_spark.session import get_spark

# Claimed-zero-shuffle projections, then the shuffle-bearing shapes whose
# volume is the scale story. doc_pii_redact / doc_html_to_text /
# web_url_canonicalize are also pure projections at the OPERATOR level,
# but their registry queries ride the fixture-parallelism widen_input
# repartition (a no-op at production scan widths), so they report the
# widen exchange's ~1 MB here — profiled to keep that distinction
# measured, not asserted.
PROFILE = [
    "doc_fim_transform",
    "events_zorder_values",
    "doc_quality_score",
    # projection operators behind the fixture widen
    "doc_pii_redact",
    "web_url_canonicalize",
    "doc_html_to_text",
    # shuffle-bearing
    "events_user_value_trend",
    "doc_inverted_index",
    "minhash_near_dup_pairs",
    "parts_triangle_estimate",
    "parts_triangle_estimate_p10",
    "web_url_dedup_keepers",
    "corpus_bbpe_encode_stats",
    # r10: the bounded-grid sketches — their exchanges must stay
    # O(tasks x grid): CMS d x w cells, quantile histogram <= 64*m+1
    # cells, HLL keys x m registers; and the production-cut encode
    "corpus_token_cms_topk",
    "corpus_length_quantiles_sketch",
    "events_user_hll_distinct",
    "corpus_bbpe_encode_stats_v2",
    # r10 session 2: KMV's exchange is the distinct (key, h) pass
    # (bounded by the keep_ppm gate at scale — profiled ungated here);
    # the pair-overlap adds only sketch-sized joins on top. BFS bytes =
    # frontier x edge joins per level. phash = 4-band self-join over
    # the 56-bit hashes. Roundtrip = encode's explode + join + the
    # positional reassembly groupBy.
    "events_user_kmv_distinct",
    "events_user_kmv_distinct_gated",
    "source_shingle_kmv_overlap",
    "events_type_kmv_overlap",
    "parts_copurchase_bfs_3hop",
    "multimodal_phash_near_dup_pairs",
    "corpus_bbpe_roundtrip",
    "customer_entity_resolution",
    "events_user_ewma",
    "doc_length_quantiles_by_lang_sketch",
    "parts_copurchase_cheapest_3hop",
    "events_sliding_hll_windows",
    "doc_length_cdf_from_sketch",
    "corpus_length_drift_ks_sketch",
    "events_user_churn_kmv",
    # r11: the sliding KMV window (hour-sketch fan + min-k folds +
    # adjacent intersections — exchanges stay O(hours x k)) and the
    # keyed KS dashboard (per-key grid cells only); the full-ladder
    # encode through the Arrow engine (same corpus-scale explode +
    # join as the cut — the 586-merge table adds NO shuffle bytes)
    "events_sliding_kmv_windows",
    "source_length_drift_ks_by_lang",
    "corpus_bbpe_encode_stats_ladder",
    # r11 session 2: trailing-drift (per-day grids + grid-cell compare),
    # the gated shingle matrix (1/20 of the gram hashes reach the
    # exchange), and the consistent distinct-value sample (the KMV
    # build shape carrying (h, v) structs instead of bare hashes)
    "events_value_drift_daily_ks",
    "source_shingle_kmv_overlap_gated",
    "events_user_distinct_sample_kmv",
    # r12: the auto-tier triangle default (at sf0.1 the policy resolves
    # to p=1 — bytes should match the exact enumerator's plus the raw
    # pair-count scan's negligible agg; at the derived sf1 the flip to
    # p=1/2 is what cuts the dedup exchange, mirroring the estimate
    # twins) and the sink-served sliding dashboard. NOTE the streaming
    # row measures the WHOLE registered fn — foreachBatch ingest +
    # compaction + serve — because the entry builds its sink per run;
    # the serve-side O(hours x k) claim is certified by the DELTA vs
    # the batch twin events_sliding_kmv_windows (same ingest-scale
    # exchange, no sink): r12 measured 40.4 vs 40.2 MB at sf1, i.e.
    # serving from sink state adds <1 MB. A serve-side regression
    # shows up as this delta growing, not as the total moving.
    "parts_triangle_counts_auto",
    "streaming_sliding_kmv_windows",
    # r13: the sink-served consistent value sample — same whole-fn
    # caveat as the sliding row above (foreachBatch ingest +
    # compaction + serve per run); its serve-side O(keys x k) claim is
    # certified by the DELTA vs the batch twin
    # events_user_distinct_sample_kmv (same build-scale exchange, no
    # sink) — a serve-side regression grows that delta, not the total.
    "streaming_user_value_sample_kmv",
]

ZERO_EXPECTED = PROFILE[:3]


def _api(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def stage_totals(base: str) -> dict[int, tuple[int, int, int]]:
    out = {}
    for s in _api(f"{base}/stages?status=complete"):
        sid = s["stageId"]
        out[sid] = (
            s.get("shuffleWriteBytes", 0),
            s.get("shuffleReadBytes", 0),
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0),
        )
    return out


def main() -> None:
    # argv names override the standard PROFILE list (targeted passes
    # over the exchanges a round changed); ZERO_EXPECTED applies only
    # to names actually profiled
    names = sys.argv[1:] or PROFILE
    spark = get_spark("shuffle-profile", ui=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app}"

    # warm the session so one-time codegen stages don't pollute query 0
    spark.range(1000).selectExpr("sum(id)").collect()

    report = {}
    for name in names:
        before = stage_totals(base)
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()
        after = stage_totals(base)
        new = {k: v for k, v in after.items() if k not in before}
        w = sum(v[0] for v in new.values())
        r = sum(v[1] for v in new.values())
        sp = sum(v[2] for v in new.values())
        report[name] = {
            "shuffle_write_mb": round(w / 1e6, 3),
            "shuffle_read_mb": round(r / 1e6, 3),
            "spill_mb": round(sp / 1e6, 3),
            "n_stages": len(new),
        }
        print(f"  {name}: {report[name]}", file=sys.stderr)

    bad = [
        n
        for n in ZERO_EXPECTED
        if n in report and report[n]["shuffle_write_mb"] > 0.0
    ]
    print(
        json.dumps(
            {
                "metric": "shuffle_profile",
                "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
                "queries": report,
                "zero_shuffle_regressions": bad,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
