"""Round-14 tests: the bench detail round-stamp derives from driver
wrappers only (r13 verdict ask #4 — the r13 close-out detail was
committed as BENCH_DETAIL_r14.json because in-session detail files fed
the stamp), duplicate padded/unpadded artifacts resolve
deterministically (r13 ADVICE #2), the solo-substituted
``effective_total`` (ask #6), the footer-stats expansion guard catches
*-suffixed node heads like LateralJoin (r13 ADVICE #1), the
``kmv_keep_policy`` annotation resolves at runtime (ADVICE #4), and the
k-truss pre-filter's nested peel is bounded by the caller's sizing
(ADVICE #3) and lossless on the real sf0.1 co-purchase graph (ask #7,
tested in test_round14_heavy.py to keep this module fast)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


def _load_bench():
    import importlib.util

    repo = os.path.join(os.path.dirname(__file__), "..")
    spec = importlib.util.spec_from_file_location(
        "bench_under_test_r14", os.path.join(repo, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


# ---------------------------------------------------------------------------
# r13 verdict ask #4: wrapper-derived round stamp
# ---------------------------------------------------------------------------


def test_next_round_ignores_detail_files(tmp_path):
    """The exact r13 failure shape: wrapper BENCH_r13 + an in-session
    BENCH_DETAIL_r14 on disk — the next stamp must be 14 (refreshing
    the same detail file), not 15 (orphaning it)."""
    bench = _load_bench()
    d = str(tmp_path)
    for name in ("BENCH_r13.json", "BENCH_DETAIL_r14.json"):
        with open(os.path.join(d, name), "w") as f:
            json.dump({}, f)
    assert bench._next_round(d) == 14


def test_next_round_reads_padded_wrappers(tmp_path):
    bench = _load_bench()
    d = str(tmp_path)
    for name in ("BENCH_r01.json", "BENCH_r02.json", "BENCH_r03.json"):
        with open(os.path.join(d, name), "w") as f:
            json.dump({}, f)
    assert bench._next_round(d) == 4


def test_next_round_empty_dir_is_round_zero(tmp_path):
    bench = _load_bench()
    assert bench._next_round(str(tmp_path)) == 0


def test_repo_next_round_agrees_with_wrapper_walk():
    """On the real artifact set the stamp is max(BENCH_r*)+1 even
    though a detail file for that round may already exist on disk."""
    bench = _load_bench()
    files = bench._bench_round_files()
    wrapper_rounds = [
        rnd
        for rnd, names in files.items()
        if any(n.startswith("BENCH_r") for n in names)
    ]
    assert bench._next_round() == max(wrapper_rounds) + 1


# ---------------------------------------------------------------------------
# r13 ADVICE #2: padded + unpadded artifacts for one round must not let
# glob order decide the comparison base
# ---------------------------------------------------------------------------


def test_duplicate_round_artifact_prefers_unpadded(tmp_path):
    bench = _load_bench()
    d = str(tmp_path)
    with open(os.path.join(d, "BENCH_r01.json"), "w") as f:
        json.dump({"parsed": {"sf": 0.1, "queries": {"q": 9.0}}}, f)
    with open(os.path.join(d, "BENCH_r1.json"), "w") as f:
        json.dump({"parsed": {"sf": 0.1, "queries": {"q": 2.0}}}, f)
    files = bench._bench_round_files(d)
    assert files[1] == ["BENCH_r1.json"]


def test_duplicate_detail_artifact_prefers_unpadded(tmp_path):
    bench = _load_bench()
    d = str(tmp_path)
    for name, t in (
        ("BENCH_DETAIL_r09.json", 9.0),
        ("BENCH_DETAIL_r9.json", 2.0),
    ):
        with open(os.path.join(d, name), "w") as f:
            json.dump({"sf": 0.1, "queries": {"q": t}}, f)
    assert bench._bench_round_files(d)[9] == ["BENCH_DETAIL_r9.json"]


# ---------------------------------------------------------------------------
# r13 verdict ask #6: solo-substituted effective totals
# ---------------------------------------------------------------------------


def test_effective_total_substitutes_solo_times():
    bench = _load_bench()
    timings = {"a": 10.0, "b": 2.0, "c": 1.0}
    solo = {
        "a": {"recorded": 10.0, "solo": 4.0},
        # a pipeline mover not present in this timings dict must be
        # ignored (queries and pipelines totals substitute separately)
        "p": {"recorded": 8.0, "solo": 3.0},
    }
    assert bench._effective_total(timings, solo) == 7.0
    assert bench._effective_total({}, solo) == 0.0
    assert bench._effective_total(timings, {}) == 13.0


def test_newest_detail_artifact_carries_effective_totals():
    """The committed close-out detail for this round onward must emit
    the substituted totals (skip-free: the repo always holds the
    newest detail bench.py wrote this round)."""
    bench = _load_bench()
    here = os.path.join(os.path.dirname(__file__), "..")
    files = bench._bench_round_files()
    newest_detail = None
    for rnd in sorted(files, reverse=True):
        det = [n for n in files[rnd] if n.startswith("BENCH_DETAIL_r")]
        if det:
            newest_detail = os.path.join(here, det[0])
            break
    assert newest_detail is not None
    with open(newest_detail) as f:
        d = json.load(f)
    assert "effective_total" in d and "pipelines_effective_total" in d
    assert d["effective_total"] == bench._effective_total(
        d["queries"], d.get("solo_remeasured", {})
    )
    assert d["pipelines_effective_total"] == bench._effective_total(
        d["pipelines"], d.get("solo_remeasured", {})
    )


# ---------------------------------------------------------------------------
# r13 ADVICE #1: the node-head expansion guard must catch *-suffixed
# join heads (LateralJoin, AsOfJoin) — 'Lateral' is letters, which the
# tree-prefix class can't consume, so the r13 regex fell through to the
# footer count for a row-EXPANDING plan
# ---------------------------------------------------------------------------


def test_stats_guard_rejects_lateral_join_plans(spark, tmp_path):
    from projet_etl_a_rien_spark.catalog import row_bound
    from projet_etl_a_rien_spark.operators import text as _T

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "tok " * 40) for i in range(5)], "doc_id long, text string"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    chunked = _T.chunk_documents_udtf(df)
    # true cardinality expands (5 docs -> 2 chunks each); the footer
    # count (5) must NOT be returned for this plan
    assert "LateralJoin" in chunked._jdf.queryExecution().analyzed().toString()
    assert row_bound(chunked) is None
    # the plain scan still answers from footers
    assert row_bound(df) == 5


def test_stats_guard_still_ignores_join_suffixed_identifiers(spark, tmp_path):
    """The \\w* widening must not regress the r13 fix: relations or
    columns merely NAMED like node heads stay footer-countable."""
    from projet_etl_a_rien_spark.catalog import row_bound

    p = str(tmp_path / "named.parquet")
    spark.range(33).selectExpr(
        "id AS Joined", "id AS LateralJoined", "id AS MyUnion"
    ).write.parquet(p)
    df = (
        spark.read.parquet(p)
        .alias("LateralJoined")
        .select("Joined", "LateralJoined", "MyUnion")
    )
    assert row_bound(df) == 33


# ---------------------------------------------------------------------------
# r13 ADVICE #4: the keep-policy annotation must resolve at runtime
# ---------------------------------------------------------------------------


def test_kmv_keep_policy_annotation_resolves():
    import typing
    from fractions import Fraction

    from projet_etl_a_rien_spark.operators import sketches as _S

    hints = typing.get_type_hints(_S.kmv_keep_policy)
    assert Fraction in typing.get_args(hints["return"])


# ---------------------------------------------------------------------------
# r13 ADVICE #3: the k-truss pre-filter's nested core peel is bounded
# by the caller's sizing (decade headroom, floored at the engagement
# constant, capped at the global kcore budget)
# ---------------------------------------------------------------------------


def test_ktruss_prefilter_peel_respects_caller_budget(spark):
    """A 1.1M-pendant-edge graph with a small caller budget: the
    nested (k-1)-core peel's guard must raise BEFORE any peel round
    (old behavior: escalate to the 1e9 global constant and run a full
    multi-round peel first). The floor keeps the raise coming from the
    nested guard only past ~1e6 edges — the cheap-peel regime below it
    is contract-pinned by test_round13's budget-0 star test."""
    from projet_etl_a_rien_spark.operators import graph as _G

    edges = spark.range(1_100_000).selectExpr(
        "id AS src", "id + 2000000 AS dst"
    )
    with pytest.raises(RuntimeError, match="kcore: .*edge budget"):
        _G.ktruss(edges, k=3, exact_edge_budget=10_000)


def test_ktruss_prefilter_budget_defaults_unchanged(spark):
    """Default sizing is bit-identical to r13: max(1e8, min(1e9,
    max(1e9, 1e6))) = 1e9 — a fixture-scale graph takes the same path
    and produces the same truss whether or not the pre-filter runs."""
    from projet_etl_a_rien_spark.operators import graph as _G

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (3, 5)],
        "src long, dst long",
    )
    default = sorted(tuple(r) for r in _G.ktruss(edges, k=3).collect())
    pre = sorted(
        tuple(r)
        for r in _G.ktruss(edges, k=3, prefilter_edges=0).collect()
    )
    assert default == pre
    assert default == [
        (0, 1, 1),
        (0, 2, 1),
        (1, 2, 1),
        (3, 4, 1),
        (3, 5, 1),
        (4, 5, 1),
    ]
