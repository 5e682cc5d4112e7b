"""Round-15 optimization-round guards.

Pins for this round's scale-safety changes:

- the hub-adjacency chunked fallback (graph._full_adjacency builds
  bounded (node, chunk) segments past the degree budget — r14 ADVICE,
  medium) produces bit-identical results for every consumer;
- catalog.broadcast_threshold parses through Spark's own byte-string
  parser and treats unparseable values as "no explicit broadcast";
- the shared compute_splits knob resolves "auto" from the session's
  parallelism and leaves ints/None untouched.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from projet_etl_a_rien_spark.catalog import broadcast_threshold
from projet_etl_a_rien_spark.operators import graph, resolve_splits


def _hub_graph(spark):
    """A hub (node 0 linked to 1..19) + a triangle fan so triangle /
    core / BFS outputs are all non-trivial, with duplicate pair rows to
    exercise the in-aggregation dedup."""
    edges = (
        [(0, i) for i in range(1, 20)]
        + [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)]
        + [(0, 5), (0, 5)]  # duplicate rows
    )
    return spark.createDataFrame(edges, ["src", "dst"])


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_full_adjacency_chunked_equals_plain(spark):
    e = _hub_graph(spark).select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    )
    plain, c0 = graph._full_adjacency(e)
    assert c0 is False
    seg, c1 = graph._full_adjacency(e, hub_budget=3)
    assert c1 is True
    want = {
        r["n"]: (sorted(r["nbrs"]), r["d"]) for r in plain.collect()
    }
    got: dict[int, list[int]] = {}
    hub_segments = 0
    for r in seg.collect():
        nbrs, d = got.setdefault(r["n"], ([], r["d"]))
        assert d == want[r["n"]][1]  # every segment carries the total
        assert r["d"] == d
        nbrs.extend(r["nbrs"])
        if r["n"] == 0:
            hub_segments += 1
            # the hub's set is genuinely sliced: no segment row holds
            # the whole O(Δ) neighbor set (hash bucketing bounds sizes
            # in expectation; the 2x segment headroom keeps the tail)
            assert len(r["nbrs"]) < want[0][1]
    assert hub_segments >= 2
    assert {n: (sorted(v[0]), v[1]) for n, v in got.items()} == want


def test_graph_consumers_identical_under_chunking(spark, monkeypatch):
    e = _hub_graph(spark)
    plain = {
        "tri": _canon(graph.triangle_counts(e)),
        "est": _canon(graph.triangle_count_estimate(e, keep_num=1, keep_den=2)),
        "kcore": _canon(graph.kcore(e, k=2)),
        "bfs": _canon(
            graph.bounded_bfs(
                e, e.sparkSession.createDataFrame([(4,)], ["node"]), max_hops=2
            )
        ),
    }
    monkeypatch.setattr(graph, "ADJ_HUB_DEGREE_BUDGET", 3)
    chunked = {
        "tri": _canon(graph.triangle_counts(e)),
        "est": _canon(graph.triangle_count_estimate(e, keep_num=1, keep_den=2)),
        "kcore": _canon(graph.kcore(e, k=2)),
        "bfs": _canon(
            graph.bounded_bfs(
                e, e.sparkSession.createDataFrame([(4,)], ["node"]), max_hops=2
            )
        ),
    }
    assert chunked == plain


def test_degree_certificate_skips_measurement(spark):
    e = _hub_graph(spark).select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    )
    # a bound within budget certifies the plain path (no pre-pass job);
    # result shape identical to the unbounded call
    ns_cert, chunked = graph._full_adjacency(e, max_degree_bound=100)
    assert chunked is False
    ns_plain, _ = graph._full_adjacency(e)
    assert {
        r["n"]: (sorted(r["nbrs"]), r["d"]) for r in ns_cert.collect()
    } == {r["n"]: (sorted(r["nbrs"]), r["d"]) for r in ns_plain.collect()}


def test_broadcast_threshold_parses_like_spark(spark):
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for raw, want in [
            ("10485760", 10 << 20),
            ("64MB", 64 << 20),
            ("1g", 1 << 30),
            ("512k", 512 << 10),
            ("-1", 0),  # disabled → no explicit broadcast
            ("1t", 1 << 40),  # the r14 ADVICE case the old parser missed
        ]:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", raw)
            assert broadcast_threshold(spark) == want, raw
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)


def test_broadcast_threshold_fallback_unparseable_is_zero():
    """Without a reachable JVM parser, an unparseable value must yield
    0 (no explicit broadcast) — never a silent 10 MB default."""

    class _Conf:
        def __init__(self, v):
            self._v = v

        def get(self, *_a):
            return self._v

    class _SC:
        @property
        def _jvm(self):
            raise RuntimeError("gateway unreachable")

    class _Fake:
        def __init__(self, v):
            self.conf = _Conf(v)
            self.sparkContext = _SC()

    assert broadcast_threshold(_Fake("banana")) == 0
    assert broadcast_threshold(_Fake("...b")) == 0
    assert broadcast_threshold(_Fake("-1")) == 0


def test_ivfadc_fused_fit_matches_sequential_fits(spark, sf_dir):
    """The r15 fused coarse+PQ fit must be bit-identical to the
    sequential kmeans_fit + pq_fit_encode pair it replaced."""
    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators import similarity as S

    df = load_table(spark, sf_dir, "embeddings")
    dim, n_cells, m, k_sub, iters = 64, 8, 4, 8, 2
    qid = int(df.select(F.max("vec_id")).first()[0])
    wide, fused_books, qv = S._ivfadc_fused_fit(
        df, dim, n_cells, m, k_sub, iters, "vec_id", "embedding", 100_000,
        query_id=qid,
    )
    want_qv = list(
        df.where(F.col("vec_id") == qid)
        .select(S.quantize("embedding", 100_000).alias("q"))
        .first()["q"]
    )
    assert qv == want_qv
    q_all, coarse = S.kmeans_fit(df, n_cells, iters, "vec_id", "embedding")
    cells = {
        r["id"]: r["cluster"]
        for r in S._assign(q_all, coarse).select("id", "cluster").collect()
    }
    codes, books = S.pq_fit_encode(
        df, dim, m, k_sub, iters, "vec_id", "embedding"
    )
    want_codes = {
        r["id"]: tuple(r[f"c{s}"] for s in range(m))
        for r in codes.collect()
    }
    assert fused_books == books
    got = {r["id"]: r for r in wide.collect()}
    assert set(got) == set(cells)
    for i, r in got.items():
        assert r["cell"] == cells[i], i
        assert tuple(r[f"c{s}"] for s in range(m)) == want_codes[i], i


def test_learn_merges_driver_equals_distributed(spark, sf_dir):
    """The r15 driver-side merge-learning engine must produce the exact
    merge list (ranks, pairs, counts) of the distributed per-rank loop,
    word-level and byte-level."""
    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents").limit(200)
    assert bpe.learn_bpe_merges(docs, num_merges=8, engine="driver") == (
        bpe.learn_bpe_merges(docs, num_merges=8, engine="dist")
    )
    assert bpe.learn_bbpe_merges(docs, num_merges=8, engine="driver") == (
        bpe.learn_bbpe_merges(docs, num_merges=8, engine="dist")
    )


def test_learn_merges_driver_greedy_rewrite_semantics(spark):
    """Pin the subtle fold semantics on a crafted corpus: overlapping
    pair counting ('aaa' counts (a,a) twice) and the non-overlapping
    greedy rewrite ('aaaa' -> [aa, aa])."""
    from projet_etl_a_rien_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa")], ["doc_id", "text"]
    )
    d = bpe.learn_bpe_merges(docs, num_merges=3, engine="driver")
    f = bpe.learn_bpe_merges(docs, num_merges=3, engine="dist")
    assert d == f


def test_resolve_splits(spark):
    df = spark.range(4)
    par = spark.sparkContext.defaultParallelism
    assert resolve_splits(df, "auto") == max(2, par)
    assert resolve_splits(df, None) is None
    assert resolve_splits(df, 7) == 7
