"""Round-13 tests: bench.py mover-base repairs (r12 ADVICE #1/#2 —
zero-padded round artifacts join the comparison base; a wrong-scale
detail file no longer drops its round's valid wrapper), the r1-bar
drift check (r12 verdict ask #5), the sub-ppm KMV ladder continuation
(ask #6 — see also test_round12's updated bound test), the k-truss /
k-core scale guard (ask #3 — lossless (k-1)-core pre-filter + the
metadata-priced peel policy), and the streaming KMV value-sample sink
registration (ask #1)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


def _load_bench(path_dir: str | None = None):
    import importlib.util

    repo = os.path.join(os.path.dirname(__file__), "..")
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(repo, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    if path_dir is not None:
        # the loaders resolve artifact paths from the module's own
        # __file__ dir; repointing it lets a test run against a
        # synthetic artifact directory
        bench.__file__ = os.path.join(path_dir, "bench.py")
    return bench


# ---------------------------------------------------------------------------
# r12 ADVICE #2: rounds 1-9 are committed zero-padded; reconstructing
# names from unpadded ints silently dropped them from the mover base
# ---------------------------------------------------------------------------


def test_bench_round_files_sees_zero_padded_rounds():
    bench = _load_bench()
    files = bench._bench_round_files()
    # the real repo has BENCH_r01..BENCH_r09 (padded) and r10+ (not)
    assert 1 in files and files[1] == ["BENCH_r01.json"]
    assert 12 in files and "BENCH_r12.json" in files[12]
    assert bench._bench_rounds() == sorted(files)


def test_prior_round_base_includes_padded_round_names(tmp_path):
    """A name measured ONLY in a padded round must appear in the
    comparison base (it used to vanish: f"BENCH_r{1}.json" !=
    BENCH_r01.json)."""
    d = str(tmp_path)
    with open(os.path.join(d, "BENCH_r01.json"), "w") as f:
        json.dump(
            {"parsed": {"sf": 0.1, "queries": {"only_in_r1": 2.5}}}, f
        )
    with open(os.path.join(d, "BENCH_r10.json"), "w") as f:
        json.dump(
            {"parsed": {"sf": 0.1, "queries": {"newer_name": 1.0}}}, f
        )
    bench = _load_bench(d)
    prior = bench._load_prior_round("0.1")
    assert prior == {"only_in_r1": 2.5, "newer_name": 1.0}


# ---------------------------------------------------------------------------
# r12 ADVICE #1: a wrong-scale DETAIL file must not discard the same
# round's valid wrapper measurement
# ---------------------------------------------------------------------------


def test_wrong_scale_detail_falls_through_to_wrapper(tmp_path):
    d = str(tmp_path)
    # detail clobbered by an sf1 run; wrapper recorded at sf0.1
    with open(os.path.join(d, "BENCH_DETAIL_r10.json"), "w") as f:
        json.dump({"sf": 1.0, "queries": {"q": 99.0}}, f)
    with open(os.path.join(d, "BENCH_r10.json"), "w") as f:
        json.dump({"parsed": {"sf": 0.1, "queries": {"q": 1.5}}}, f)
    bench = _load_bench(d)
    assert bench._load_prior_round("0.1") == {"q": 1.5}
    # and the scale-matching rule itself still holds: nothing at sf1
    # beyond the clobbered detail, nothing at sf0.01 at all
    assert bench._load_prior_round("1") == {"q": 99.0}
    assert bench._load_prior_round("0.01") == {}


def test_matching_detail_still_shadows_wrapper(tmp_path):
    d = str(tmp_path)
    with open(os.path.join(d, "BENCH_DETAIL_r10.json"), "w") as f:
        json.dump({"sf": 0.1, "queries": {"q": 3.0}}, f)
    with open(os.path.join(d, "BENCH_r10.json"), "w") as f:
        json.dump({"parsed": {"sf": 0.1, "queries": {"q": 7.0}}}, f)
    bench = _load_bench(d)
    assert bench._load_prior_round("0.1") == {"q": 3.0}


# ---------------------------------------------------------------------------
# r12 verdict ask #5: the mover check also compares against the r1
# same-environment bar, so multi-round creep gets a solo re-time
# ---------------------------------------------------------------------------


def test_r1_bar_loads_from_baseline_local():
    bench = _load_bench()
    bar = bench._load_r1_bar()
    # one row per query named in either committed baseline file (the r09
    # re-baseline and the r14 heavy-line extension; 25 names)
    repo = os.path.join(os.path.dirname(__file__), "..")
    names = set()
    for fname in ("BASELINE_LOCAL_r09.json", "BASELINE_LOCAL_r14.json"):
        with open(os.path.join(repo, fname)) as f:
            names |= set(json.load(f)["queries"])
    assert set(bar) == names
    # an r09 row carries its r1_sec
    assert bar["regional_revenue"] == pytest.approx(1.1728)
    assert all(v > 0 for v in bar.values())


def test_r1_bar_absent_artifact_is_empty(tmp_path):
    bench = _load_bench(str(tmp_path))
    assert bench._load_r1_bar() == {}


# ---------------------------------------------------------------------------
# r12 verdict ask #1: the KMV value-sample sink registered end-to-end —
# stream-built sample == one-shot batch sample (min-k fold algebra)
# ---------------------------------------------------------------------------


def test_streaming_value_sample_equals_batch_twin(spark, sf_dir):
    from projet_etl_a_rien_spark.queries import REGISTRY

    got = sorted(
        tuple(r)
        for r in REGISTRY["streaming_user_value_sample_kmv"]
        .fn(spark, sf_dir)
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in REGISTRY["events_user_distinct_sample_kmv"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# r12 verdict ask #3: k-truss/k-core scale guard — the (k-1)-core
# pre-filter is LOSSLESS and the edge budgets raise instead of starting
# an unbounded peel
# ---------------------------------------------------------------------------


def _random_graph(spark, n_nodes=40, n_edges=160, seed=13):
    import random

    rng = random.Random(seed)
    seen = set()
    while len(seen) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            seen.add((min(a, b), max(a, b)))
    return spark.createDataFrame(
        sorted(seen), "src long, dst long"
    )


@pytest.mark.parametrize("k", [3, 4, 5])
def test_ktruss_prefilter_is_lossless(spark, k):
    from projet_etl_a_rien_spark.operators import graph as _G

    edges = _random_graph(spark)
    plain = sorted(
        tuple(r) for r in _G.ktruss(edges, k=k, max_iter=30).collect()
    )
    prefiltered = sorted(
        tuple(r)
        for r in _G.ktruss(
            edges, k=k, max_iter=30, prefilter_edges=0
        ).collect()
    )
    assert prefiltered == plain


def test_ktruss_prefilter_drops_pendant_chains(spark):
    """A triangle with a pendant chain: the 2-core pre-filter strips
    the chain before the first wedge join; the truss is unchanged."""
    from projet_etl_a_rien_spark.operators import graph as _G

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5)],
        "src long, dst long",
    )
    out = sorted(
        (r.u, r.v, r.support)
        for r in _G.ktruss(
            edges, k=3, max_iter=10, prefilter_edges=0
        ).collect()
    )
    assert out == [(0, 1, 1), (0, 2, 1), (1, 2, 1)]


def test_kcore_edge_budget_raises(spark):
    from projet_etl_a_rien_spark.operators import graph as _G

    edges = _random_graph(spark, n_edges=50)
    with pytest.raises(RuntimeError, match="edge budget"):
        _G.kcore(edges, k=2, exact_edge_budget=10)


def test_ktruss_budget_checked_after_prefilter(spark):
    from projet_etl_a_rien_spark.operators import graph as _G

    # star graph: the 2-core pre-filter empties it, so even a 0-edge
    # budget passes and the truss is (correctly) empty
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 8)], "src long, dst long"
    )
    assert (
        _G.ktruss(
            star, k=3, prefilter_edges=0, exact_edge_budget=0
        ).count()
        == 0
    )
    # a triangle survives its own 2-core — the post-prefilter budget
    # check still guards the exact rounds
    tri = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="edge budget"):
        _G.ktruss(tri, k=3, prefilter_edges=0, exact_edge_budget=1)


# ---------------------------------------------------------------------------
# r12 verdict nit: the footer-stats expansion guard matches plan-node
# HEADS, not substrings — a relation/column named "Joined" must not
# knock a plain scan back to the bounded probe, while real Join /
# Generate / Union plans still return None
# ---------------------------------------------------------------------------


def test_stats_guard_ignores_join_like_identifiers(spark, tmp_path):
    from projet_etl_a_rien_spark.catalog import row_bound

    p = str(tmp_path / "joined.parquet")
    spark.range(77).selectExpr("id AS Joined", "id AS Unions").write.parquet(p)
    df = spark.read.parquet(p).alias("Joined").select("Joined", "Unions")
    assert row_bound(df) == 77


def test_stats_guard_still_rejects_real_expansion_nodes(spark, tmp_path):
    from projet_etl_a_rien_spark.catalog import row_bound

    p = str(tmp_path / "t.parquet")
    spark.range(10).write.parquet(p)
    df = spark.read.parquet(p)
    assert row_bound(df.join(df.selectExpr("id AS i2"), df.id == F.col("i2"))) is None
    assert row_bound(df.union(df)) is None
    assert (
        row_bound(
            df.select(F.explode(F.array("id", "id")).alias("x"))
        )
        is None
    )
