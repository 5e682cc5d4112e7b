"""Round-12 tests: stats-driven KMV auto-tier resolution (r11 verdict
ask #3 — parquet footer row counts reach every tier with no scan and
no probe), the legacy-sink gate migration (r11 ADVICE #3), the ungated
write_kmv_partial default (r11 ADVICE #2), and the scoped worst-case
state bound (r11 ADVICE #4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from projet_etl_a_rien_spark.catalog import row_bound
from projet_etl_a_rien_spark.operators import compaction as _C
from projet_etl_a_rien_spark.operators import sketches as _S


# ---------------------------------------------------------------------------
# catalog.row_bound — O(metadata) footer counting (verdict ask #3)
# ---------------------------------------------------------------------------


def test_stats_row_count_reads_parquet_footers(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(1234).write.parquet(p)
    df = spark.read.parquet(p)
    assert row_bound(df) == 1234
    # transformations keep the file lineage: the count is the INPUT
    # cardinality (upper bound under filters — documented)
    assert row_bound(df.where("id < 10").select("id")) == 1234


def test_stats_row_count_none_for_memory_frames(spark):
    df = spark.createDataFrame([("a",)], "v string")
    assert row_bound(df) is None


def test_resolve_auto_uses_stats_without_probe(monkeypatch):
    """With footer stats available the auto resolver never touches the
    frame — deep tiers are reached with zero Spark jobs. The sentinel
    df would raise on ANY attribute access past inputFiles, so the
    bounded probe is provably not taken."""

    class _Sentinel:
        def __getattr__(self, name):  # limit()/count() forbidden
            raise AssertionError(f"resolver touched df.{name}")

    monkeypatch.setattr(_S, "row_bound", lambda df, cap: 10**12)
    assert _S._resolve_keep_ppm(_Sentinel(), "auto", None) == 2
    monkeypatch.setattr(_S, "row_bound", lambda df, cap: 5 * 10**9)
    assert _S._resolve_keep_ppm(_Sentinel(), "auto", None) == 2_000
    # caller-supplied n_rows still wins over stats
    monkeypatch.setattr(
        _S, "row_bound", lambda *a: pytest.fail("stats consulted")
    )
    assert _S._resolve_keep_ppm(_Sentinel(), "auto", 20_000_000) == 200_000


def test_resolve_auto_stats_reach_tier_from_real_footers(spark, tmp_path):
    """End-to-end: a parquet-backed frame resolves its tier from the
    footer count (small file → ungated) — and the resolved gate matches
    kmv_keep_policy(footer count) exactly."""
    p = str(tmp_path / "u.parquet")
    spark.range(100).selectExpr(
        "'k' AS k", "cast(id as string) AS v"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    assert _S._resolve_keep_ppm(df, "auto", None) is None
    sk = _S.kmv_sketch(df, "k", "v")
    assert sk.collect()[0].gate == _S.KMV_FULL


# ---------------------------------------------------------------------------
# read_kmv legacy-sink migration (ADVICE #3): pre-r11 partials are flat
# (key, h) rows with NO gate column — they must read as KMV_FULL, alone
# and under schema merge with newer gated partials.
# ---------------------------------------------------------------------------


def _legacy_partial(spark, path, batch_id, rows):
    spark.createDataFrame(rows, "key string, h long").write.mode(
        "overwrite"
    ).parquet(f"{path}/parts/batch_id={batch_id}")


def test_read_kmv_legacy_partial_defaults_gate_full(spark, tmp_path):
    path = str(tmp_path / "kmv_legacy")
    _legacy_partial(spark, path, 0, [("a", 5), ("a", 3), ("b", 7)])
    out = {r.key: (list(r.hs), r.gate) for r in _S.read_kmv(spark, path).collect()}
    assert out == {"a": ([3, 5], _S.KMV_FULL), "b": ([7], _S.KMV_FULL)}


def test_read_kmv_mixed_generations_min_gate(spark, tmp_path):
    """Legacy (gate-less) + gated partials fold by the theta-union
    rule: merged gate = min(KMV_FULL, new gate) = new gate, and legacy
    hashes ABOVE it are re-filtered out as non-common evidence."""
    path = str(tmp_path / "kmv_mixed")
    gate = 1000
    _legacy_partial(spark, path, 0, [("a", 5), ("a", 2_000)])
    spark.createDataFrame(
        [("a", 7, gate)], "key string, h long, gate long"
    ).write.parquet(f"{path}/parts/batch_id=1")
    out = {r.key: (list(r.hs), r.gate) for r in _S.read_kmv(spark, path).collect()}
    assert out == {"a": ([5, 7], gate)}  # 2000 >= gate dropped


def test_compact_kmv_migrates_legacy_partials(spark, tmp_path):
    """Compaction folds a legacy sink into a gate-bearing snapshot —
    the documented migration path: one compact_kmv call rewrites
    pre-r11 state into the current schema."""
    path = str(tmp_path / "kmv_compact")
    _legacy_partial(spark, path, 0, [("a", 5)])
    _legacy_partial(spark, path, 1, [("a", 3), ("b", 9)])
    v = _S.compact_kmv(spark, path)
    assert v == 1
    snap = spark.read.parquet(f"{path}/snap/v=1")
    assert set(snap.columns) == {"key", "h", "gate"}
    out = {r.key: (list(r.hs), r.gate) for r in _S.read_kmv(spark, path).collect()}
    assert out == {"a": ([3, 5], _S.KMV_FULL), "b": ([9], _S.KMV_FULL)}


# ---------------------------------------------------------------------------
# write_kmv_partial default (ADVICE #2): ungated, no per-batch probe
# ---------------------------------------------------------------------------


def test_write_kmv_partial_default_ungated(spark, tmp_path):
    path = str(tmp_path / "kmv_sink")
    df = spark.createDataFrame(
        [("a", f"u{i}") for i in range(50)], "k string, v string"
    )
    _S.write_kmv_partial(df, path, 0, "k", "v")
    part = spark.read.parquet(f"{path}/parts/batch_id=0")
    gates = {r.gate for r in part.select("gate").distinct().collect()}
    assert gates == {_S.KMV_FULL}
    # explicit auto + threaded row count still tiers (the documented
    # path for >1e7-row batches) — no probe because n_rows is supplied
    _S.write_kmv_partial(
        df, path, 1, "k", "v", keep_ppm="auto", n_rows=20_000_000
    )
    part1 = spark.read.parquet(f"{path}/parts/batch_id=1")
    want = (_S.KMV_FULL * 200_000) // 1_000_000
    assert {r.gate for r in part1.select("gate").distinct().collect()} == {want}


# ---------------------------------------------------------------------------
# kmv_keep_policy bound scoping (ADVICE #4): the ≤2e7 worst-case claim
# holds up to 1e13; past the floor's design decade state grows linearly
# ---------------------------------------------------------------------------


def test_keep_policy_bound_universal_to_ladder_cap():
    """r13: the sub-ppm Fraction continuation (r12 verdict ask #6)
    makes the ≤2e7 worst-case survivor bound hold at EVERY tier up to
    the ladder's 1e20 scope cap, not just to 1e13 — and the gate the
    tier implies stays a positive exact integer throughout."""
    from fractions import Fraction

    for exp in range(7, 20):
        n_hi = 10 ** (exp + 1) - 1
        ppm = _S.kmv_keep_policy(n_hi)
        assert n_hi * ppm // 1_000_000 <= 20_000_000
        assert _S._gate_of(ppm) >= 1
    # the sub-ppm tiers are exact rationals with the same invariant
    assert _S.kmv_keep_policy(10**13) == Fraction(1, 5)  # 0.2 ppm
    assert _S.kmv_keep_policy(10**14) == Fraction(1, 50)
    assert _S._gate_of(Fraction(1, 5)) == _S.KMV_FULL // 5_000_000
    # scope cap: at/ beyond tier_end=1e20 the ladder stops descending
    assert _S.kmv_keep_policy(10**20) == _S.kmv_keep_policy(10**21)


# ---------------------------------------------------------------------------
# triangle_count_auto — the DOULION auto-tier default (verdict ask #6)
# ---------------------------------------------------------------------------


def test_triangle_auto_exact_below_threshold(spark):
    """p=1 degenerates the estimator to the exact enumerator: the
    policy columns record (1, 1) and est equals the true count."""
    from projet_etl_a_rien_spark.operators import graph as _G

    # K4 (4-clique): 4 triangles, 6 edges
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "src long, dst long",
    )
    row = _G.triangle_count_auto(edges, n_edges=6).collect()[0]
    assert (row.policy_keep_num, row.policy_keep_den) == (1, 1)
    assert row.n_sampled_edges == 6
    assert row.n_sampled_triangles == 4
    assert row.est_triangles == 4


def test_triangle_auto_policy_tiers_and_sampled_branch(spark):
    from projet_etl_a_rien_spark.operators import graph as _G

    assert _G.doulion_keep_policy(6) == (1, 1)
    assert _G.doulion_keep_policy(10**7) == (1, 2)
    assert _G.doulion_keep_policy(10**9) == (1, 10)
    assert _G.doulion_keep_policy(10**11) == (1, 32)
    # declared-large edge count routes through the sampled twin and the
    # output records the chosen coin — identical to the explicit call
    edges = spark.createDataFrame(
        [(a, b) for a in range(8) for b in range(a + 1, 8)],
        "src long, dst long",
    )
    auto = _G.triangle_count_auto(edges, n_edges=10**7).collect()[0]
    exp = _G.triangle_count_estimate(
        edges, keep_num=1, keep_den=2
    ).collect()[0]
    assert (auto.policy_keep_num, auto.policy_keep_den) == (1, 2)
    assert auto.n_sampled_edges == exp.n_sampled_edges
    assert auto.n_sampled_triangles == exp.n_sampled_triangles
    assert auto.est_triangles == exp.est_triangles


def test_triangle_auto_resolves_from_footer_stats(spark, tmp_path):
    """With no caller count the policy input comes from parquet
    footers — O(metadata), no scan (same resolver as the KMV tier)."""
    from projet_etl_a_rien_spark.operators import graph as _G

    p = str(tmp_path / "edges.parquet")
    spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "src long, dst long",
    ).write.parquet(p)
    row = _G.triangle_count_auto(spark.read.parquet(p)).collect()[0]
    assert (row.policy_keep_num, row.policy_keep_den) == (1, 1)
    assert row.est_triangles == 4


# ---------------------------------------------------------------------------
# KMV value-sample sink — sink-is-the-state for kmv_sample (operator
# landed r12; registry entry deferred to r13 per the driver-sample
# budget). Contract mirrors the counting sink: fold == one-shot,
# replays harmless, min-gate + refilter, legacy gate migration.
# ---------------------------------------------------------------------------


def test_kmv_sample_sink_fold_equals_one_shot(spark, tmp_path):
    path = str(tmp_path / "kmvs")
    rows = [("seg", f"user{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "k string, v string")
    thirds = [df.where(F.crc32("v") % 3 == i) for i in range(3)]
    for i, part in enumerate(thirds):
        _S.write_kmv_sample_partial(part, path, i, "k", "v")
    # replay batch 1 — min-k set algebra makes it exactly harmless
    _S.write_kmv_sample_partial(thirds[1], path, 1, "k", "v")
    folded = {
        r.key: ([(s.h, s.v) for s in r.sample], r.gate)
        for r in _S.read_kmv_sample(spark, path).collect()
    }
    oneshot = {
        r.key: ([(s.h, s.v) for s in r.sample], r.gate)
        for r in _S.kmv_sample(df, "k", "v", keep_ppm=None).collect()
    }
    assert folded == oneshot
    assert len(folded["seg"][0]) == _S.KMV_K


def test_kmv_sample_sink_compaction_preserves_fold(spark, tmp_path):
    path = str(tmp_path / "kmvs_c")
    df1 = spark.createDataFrame(
        [("a", f"x{i}") for i in range(40)], "k string, v string"
    )
    df2 = spark.createDataFrame(
        [("a", f"y{i}") for i in range(40)], "k string, v string"
    )
    _S.write_kmv_sample_partial(df1, path, 0, "k", "v")
    before = {
        r.key: [(s.h, s.v) for s in r.sample]
        for r in _S.read_kmv_sample(spark, path).collect()
    }
    v = _S.compact_kmv_sample(spark, path)
    assert v == 0
    after_compact = {
        r.key: [(s.h, s.v) for s in r.sample]
        for r in _S.read_kmv_sample(spark, path).collect()
    }
    assert after_compact == before
    # post-snapshot partial folds in on read; a second compaction
    # advances the watermark without changing the serve result
    _S.write_kmv_sample_partial(df2, path, 1, "k", "v")
    served = {
        r.key: [(s.h, s.v) for s in r.sample]
        for r in _S.read_kmv_sample(spark, path).collect()
    }
    both = df1.unionByName(df2)
    oneshot = {
        r.key: [(s.h, s.v) for s in r.sample]
        for r in _S.kmv_sample(both, "k", "v", keep_ppm=None).collect()
    }
    assert served == oneshot
    assert _S.compact_kmv_sample(spark, path) == 1
    assert {
        r.key: [(s.h, s.v) for s in r.sample]
        for r in _S.read_kmv_sample(spark, path).collect()
    } == oneshot


def test_kmv_sample_sink_legacy_gateless_partial(spark, tmp_path):
    path = str(tmp_path / "kmvs_l")
    spark.createDataFrame(
        [("a", 5, "v5"), ("a", 3, "v3")], "key string, h long, v string"
    ).write.parquet(f"{path}/parts/batch_id=0")
    out = {
        r.key: ([(s.h, s.v) for s in r.sample], r.gate)
        for r in _S.read_kmv_sample(spark, path).collect()
    }
    assert out == {"a": ([(3, "v3"), (5, "v5")], _S.KMV_FULL)}


def test_kmv_sample_sink_min_gate_refilter(spark, tmp_path):
    path = str(tmp_path / "kmvs_g")
    spark.createDataFrame(
        [("a", 5, "v5", 1000), ("a", 2000, "v2k", 1000)],
        "key string, h long, v string, gate long",
    ).write.parquet(f"{path}/parts/batch_id=0")
    # a partial never carries h >= its OWN gate; the second partial is
    # LOOSER (ungated), so its 1500 must drop under the merged gate
    spark.createDataFrame(
        [("a", 1500, "v15", _S.KMV_FULL)],
        "key string, h long, v string, gate long",
    ).write.parquet(f"{path}/parts/batch_id=1")
    out = {
        r.key: ([(s.h, s.v) for s in r.sample], r.gate)
        for r in _S.read_kmv_sample(spark, path).collect()
    }
    # merged gate = 1000; 1500 and 2000 are not valid common evidence
    assert out == {"a": ([(5, "v5")], 1000)}


def test_kmv_sample_sink_from_real_stream(spark, tmp_path, sf_dir):
    """End-to-end through Structured Streaming: a checkpointed
    availableNow foreachBatch stream lands per-type value-sample
    partials; the folded sink equals the one-shot batch sample —
    the same stream-built == one-shot guarantee as the counting
    sink's foreachBatch twin."""
    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.streaming.windows import (
        replay_events_stream,
    )

    path = str(tmp_path / "kmvs_stream")
    ckpt = str(tmp_path / "ckpt")

    q = (
        replay_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(
            lambda b, i: _S.write_kmv_sample_partial(
                b, path, i, "event_type", "user_id"
            )
        )
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _S.compact_kmv_sample(spark, path)
    served = {
        r.key: [(s.h, s.v) for s in r.sample]
        for r in _S.read_kmv_sample(spark, path).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    oneshot = {
        r.key: [(s.h, s.v) for s in r.sample]
        for r in _S.kmv_sample(
            ev, "event_type", "user_id", keep_ppm=None
        ).collect()
    }
    assert served == oneshot and len(served) > 0


def test_stats_row_count_guards_row_expanding_plans(spark, tmp_path):
    """Join/Generate plans must NOT resolve from footers: their input
    files measure the SOURCE cardinality, which under-counts the frame
    by the expansion factor — the dangerous direction for a sizing
    policy. The guard sends them to the bounded probe instead."""
    p = str(tmp_path / "g.parquet")
    spark.range(50).selectExpr(
        "id AS k", "cast(id AS string) AS v"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    assert row_bound(df) == 50
    joined = df.alias("a").join(df.alias("b"), "k")
    assert row_bound(joined) is None
    exploded = df.select(F.explode(F.array("v", "v")).alias("v"))
    assert row_bound(exploded) is None


def test_triangle_auto_empty_input_policy_parity(spark, tmp_path):
    """Review-found edge: on an EMPTY lineitem the oracle's SUM over
    zero groups is NULL, and NULL < x falls through every CASE branch
    to the 32 tier, while the engine coalesces the pair bound to 0
    (exact tier). Both sides must say (1, 1) with zero triangles."""
    import duckdb

    from projet_etl_a_rien_spark.queries import REGISTRY

    sf = tmp_path / "sf_empty"
    sf.mkdir()
    spark.createDataFrame(
        [], "l_orderkey long, l_partkey long"
    ).write.parquet(str(sf / "lineitem.parquet"))
    row = REGISTRY["parts_triangle_counts_auto"].fn(
        spark, str(sf)
    ).collect()[0]
    assert (row.policy_keep_num, row.policy_keep_den) == (1, 1)
    assert row.est_triangles == 0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf}/lineitem.parquet/*.parquet')"
    )
    o = con.execute(REGISTRY["parts_triangle_counts_auto"].oracle).fetchone()
    assert (o[0], o[1]) == (1, 1)
    assert o[4] == 0


def test_resolve_auto_footer_path_on_real_fixture(spark, sf_dir):
    """Verdict ask #3 end-to-end on the actual driver fixture: the
    catalog loader's normalization is projection-only, so an events
    frame resolves its tier from footers — no probe job — and the
    resolved tier equals kmv_keep_policy(footer count) exactly."""
    from projet_etl_a_rien_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    n = row_bound(ev)
    assert n is not None and n > 0
    assert _S._resolve_keep_ppm(ev, "auto", None) == _S.kmv_keep_policy(n)


def test_kmv_sample_sink_randomized_vs_reference(spark, tmp_path):
    """Seeded randomized differential: random value sets split into
    random partials with random per-partial gates; the folded sink
    must match a pure-Python bottom-k reference applying the same
    min-gate + refilter + slice-k algebra."""
    import hashlib
    import random

    def ref_hash(v: str) -> int:
        return int(hashlib.md5(f"kmv:{v}".encode()).hexdigest()[:12], 16)

    rng = random.Random(12)
    for case in range(3):
        path = str(tmp_path / f"rand{case}")
        values = [f"v{rng.randrange(10_000)}" for _ in range(400)]
        n_parts = rng.randrange(2, 5)
        splits = [[] for _ in range(n_parts)]
        for v in values:
            splits[rng.randrange(n_parts)].append(v)
        gates = [
            rng.choice([None, 200_000, 20_000]) for _ in range(n_parts)
        ]
        for i, (vs, ppm) in enumerate(zip(splits, gates)):
            df = spark.createDataFrame(
                [("k", v) for v in vs] or [("k", "pad")],
                "k string, v string",
            )
            _S.write_kmv_sample_partial(
                df, path, i, "k", "v", keep_ppm=ppm
            )
        got = {
            r.key: ([(s.h, s.v) for s in r.sample], r.gate)
            for r in _S.read_kmv_sample(spark, path).collect()
        }
        # pure-Python reference: per-partial gate filter, union,
        # min-gate refilter, sort by (h, v), slice k
        all_vals = set()
        for i, (vs, ppm) in enumerate(zip(splits, gates)):
            use = vs or ["pad"]
            g = _S._gate_of(ppm)
            all_vals |= {(ref_hash(v), v) for v in use if ref_hash(v) < g}
        min_gate = min(_S._gate_of(p) for p in gates)
        keep = sorted(
            {(h, v) for h, v in all_vals if h < min_gate}
        )[: _S.KMV_K]
        assert got == {"k": (keep, min_gate)}, f"case {case}"


# ---------------------------------------------------------------------------
# Mid-compaction landing safety (r12 review pass 2): the fold bound
# max_b is fixed BEFORE the fold and shared with the vacuum, so a
# partial landing between the fold's listing and the vacuum can never
# be deleted unfolded (min-k sinks) or double-counted (additive sinks).
# ---------------------------------------------------------------------------


def test_kmv_compact_spares_partial_landed_mid_compaction(spark, tmp_path):
    """Race-window simulation for the shared sink commit step: a
    partial that lands AFTER the fold was materialized (but before the
    vacuum) must survive the vacuum and serve on the next read — with a
    re-listed max_b it would be vacuumed without ever being folded,
    permanently losing its hashes."""
    path = str(tmp_path / "kmv_race")
    df0 = spark.createDataFrame(
        [("a", f"x{i}") for i in range(30)], "k string, v string"
    )
    df1 = spark.createDataFrame(
        [("a", f"y{i}") for i in range(30)], "k string, v string"
    )
    late = spark.createDataFrame(
        [("a", f"z{i}") for i in range(30)], "k string, v string"
    )
    _S.write_kmv_partial(df0, path, 0, "k", "v")
    _S.write_kmv_partial(df1, path, 1, "k", "v")
    # compact_kmv's internals, paused mid-flight: fold bounded to the
    # pre-listed max_b=1, THEN batch 2 lands, THEN snapshot + vacuum
    fold = (
        _S.read_kmv(spark, path, max_b=1)
        .select("key", F.explode("hs").alias("h"), "gate")
        .localCheckpoint(eager=True)
    )
    _S.write_kmv_partial(late, path, 2, "k", "v")
    assert _C._commit_snapshot(spark, path, fold, 1) == 1
    # the late partial survived the vacuum, above the new watermark
    assert os.path.isdir(f"{path}/parts/batch_id=2")
    served = {
        r.key: (list(r.hs), r.gate)
        for r in _S.read_kmv(spark, path).collect()
    }
    oneshot = {
        r.key: (list(r.hs), r.gate)
        for r in _S.kmv_sketch(
            df0.unionByName(df1).unionByName(late), "k", "v", keep_ppm=None
        ).collect()
    }
    assert served == oneshot
    # the next compaction folds it in and advances the watermark
    assert _S.compact_kmv(spark, path) == 2
    assert {
        r.key: (list(r.hs), r.gate)
        for r in _S.read_kmv(spark, path).collect()
    } == oneshot


def test_additive_reader_fold_bound_excludes_newer_partials(spark, tmp_path):
    """For an ADDITIVE fold the bound is a correctness condition, not
    just vacuum hygiene: a partial folded into snap/v=N under a label
    above its batch id would ALSO be read as still-unfolded afterwards
    and double-count. read_cms(max_b=N) must see exactly batches <= N."""
    path = str(tmp_path / "cms_bound")
    docs = spark.createDataFrame(
        [("alpha beta",), ("beta gamma",)], "text string"
    )
    _S.write_cms_partial(docs, path, 0)
    _S.write_cms_partial(docs, path, 1)
    _S.write_cms_partial(docs, path, 2)
    two = {
        (r.j, r.b): r.cnt for r in _S.read_cms(spark, path, max_b=1).collect()
    }
    all3 = {(r.j, r.b): r.cnt for r in _S.read_cms(spark, path).collect()}
    assert set(two) == set(all3)
    assert all(all3[c] == 3 * two[c] // 2 for c in two)
    assert all(two[c] * 3 == all3[c] * 2 for c in two)


def test_stats_row_count_guards_union_plans(spark, tmp_path):
    """Union joins the expansion-guard list: inputFiles() DEDUPLICATES
    paths, so a union whose branches read the same file has true
    cardinality up to branches x the footer sum — under-counting in
    the dangerous (under-gating) direction, exactly like a join."""
    p = str(tmp_path / "u.parquet")
    spark.range(60).selectExpr("id AS k").write.parquet(p)
    df = spark.read.parquet(p)
    assert row_bound(df) == 60
    both = df.where("k % 2 = 0").unionByName(df.where("k % 2 = 1"))
    assert row_bound(both) is None
    assert row_bound(df.union(df)) is None


def test_bench_prior_round_is_scale_matched():
    """The >1.3x mover base must compare same-scale measurements only:
    an sf1 prior hides genuine sf0.1 regressions (~0.1x ratios), an
    sf0.01 prior flags everything. All committed artifacts are sf0.1,
    so any other scale gets an EMPTY comparison base."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(os.path.dirname(__file__), "..", "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    canonical = bench._load_prior_round("0.1")
    assert canonical  # real artifacts exist and are sf0.1
    assert bench._load_prior_round("1") == {}
    assert bench._load_prior_round("0.01") == {}
