"""Property-based tests (hypothesis) for the engine's determinism
contracts — the invariants the oracle parity rules rest on, checked over
generated inputs instead of fixtures:

- exact-cents money aggregation is ORDER-INDEPENDENT (the reason it
  exists: AQE/partial-agg reordering must not change results)
- minhash signatures are a pure function of the shingle SET (row order
  and duplicates must not matter — banding correctness depends on it)
- split_bucket is a pure function of the id (corpus growth must never
  reassign a document's split)
- sequence packing never overfills a bin (except a single over-budget
  document, which gets its own bin)

Examples are kept small (each runs a real local Spark job).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from projet_etl_a_rien_spark.functions.exactmath import sum_money
from projet_etl_a_rien_spark.operators import dedup, text

MONEY = st.lists(
    st.integers(min_value=-10_000_00, max_value=10_000_00).map(lambda c: c / 100.0),
    min_size=1,
    max_size=50,
)


@settings(max_examples=15, deadline=None)
@given(MONEY)
def test_sum_money_order_independent(spark, xs):
    a = spark.createDataFrame([(x,) for x in xs], "v double")
    b = spark.createDataFrame([(x,) for x in reversed(xs)], "v double").repartition(3)
    sa = a.agg(sum_money("v").alias("s")).first().s
    sb = b.agg(sum_money("v").alias("s")).first().s
    assert sa == sb == round(sum(round(x * 100) for x in xs)) / 100.0


WORDS = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=4), min_size=3, max_size=20
)


@settings(max_examples=10, deadline=None)
@given(WORDS)
def test_minhash_signature_is_set_function(spark, words):
    txt = " ".join(words)
    df = spark.createDataFrame(
        [(1, txt), (2, txt)], "doc_id long, text string"
    )
    sigs = (
        df.select(
            "doc_id",
            dedup.shingles("text", 3).alias("sh"),
        )
        .select("doc_id", dedup.shingle_hashes(F.col("sh")).alias("xs"))
        .select("doc_id", dedup.minhash_signature(F.col("xs"), 16).alias("sig"))
        .collect()
    )
    # identical text -> identical signature, independent of row identity
    assert sigs[0].sig == sigs[1].sig
    assert len(sigs[0].sig) == 16


@settings(max_examples=15, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=30))
def test_split_bucket_pure_function_of_id(spark, ids):
    rows = [(i,) for i in set(ids)]
    small = spark.createDataFrame(rows, "doc_id long")
    grown = spark.createDataFrame(
        rows + [(10**10 + j,) for j in range(5)], "doc_id long"
    )
    b = text.split_bucket("doc_id")
    m1 = {r.doc_id: r.b for r in small.select("doc_id", b.alias("b")).collect()}
    m2 = {r.doc_id: r.b for r in grown.select("doc_id", b.alias("b")).collect()}
    for i in m1:
        assert m1[i] == m2[i]  # adding docs never moves an existing split
        assert 0 <= m1[i] < 100


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=30), min_size=1, max_size=25),
    st.integers(min_value=10, max_value=60),
)
def test_packing_never_overfills(spark, token_counts, budget):
    rows = [
        (i, " ".join(["w"] * n), "s") for i, n in enumerate(token_counts)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    packed = text.pack_documents(df, budget_tokens=budget).collect()
    bins: dict[int, int] = {}
    for r in packed:
        assert 0 <= r.bin_offset_tokens < budget
        bins[r.bin] = bins.get(r.bin, 0) + r.n_tokens
    for b, total in bins.items():
        docs_in_bin = [r for r in packed if r.bin == b]
        # a bin exceeds the budget only via its LAST doc straddling out,
        # never by starting a doc at or past the budget boundary
        assert min(r.bin_offset_tokens for r in docs_in_bin) < budget


EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=0, max_value=12),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


@settings(max_examples=8, deadline=None)
@given(EDGES)
def test_connected_components_regimes_agree(spark, edges):
    """The driver-side union-find and the distributed label-propagation
    paths of connected_components must label ANY graph identically —
    component id = min reachable node, for every node that appears in an
    edge."""
    from projet_etl_a_rien_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {
        (r.node, r.comp) for r in connected_components(df).collect()
    }
    dist = {
        (r.node, r.comp)
        for r in connected_components(df, max_iter=30, driver_threshold=0).collect()
    }
    assert fast == dist
    # reference labels via plain BFS
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expected = set()
    seen: dict = {}
    for start in adj:
        if start in seen:
            continue
        comp_nodes, queue = [], collections.deque([start])
        visited = {start}
        while queue:
            n = queue.popleft()
            comp_nodes.append(n)
            for m in adj[n] - visited:
                visited.add(m)
                queue.append(m)
        label = min(comp_nodes)
        for n in comp_nodes:
            seen[n] = label
            expected.add((n, label))
    assert fast == expected


CORPUS = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]),
        min_size=3,
        max_size=12,
    ),
    min_size=2,
    max_size=10,
)


PREFIX_THRESHOLDS = [0.3, 0.5, 0.7, 0.8, 0.9, 1.0]


def _prefix_and_exact_pairs(spark, rows, threshold, shingle_n=3):
    """(jaccard_prefix_pairs, ngram_jaccard_pairs) id-pair sets of one
    corpus: the filtered join and the unfiltered exact inverted-index
    join."""
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_prefix_pairs(
            df, threshold=threshold, shingle_n=shingle_n
        ).collect()
    }
    ref = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            df.withColumn("source", F.lit("one")),
            threshold=threshold,
            shingle_n=shingle_n,
        ).collect()
    }
    return got, ref


@settings(max_examples=10, deadline=None)
@given(CORPUS, st.sampled_from(PREFIX_THRESHOLDS))
def test_prefix_filter_is_lossless(spark, docs, threshold):
    """jaccard_prefix_pairs must equal the unfiltered exact inverted-index
    join for ANY corpus and threshold — the pigeonhole prefix bound and
    the length/positional bounds are theorems, so a single
    counterexample means the implementation broke the ordering, the
    prefix length or a filter's rounding."""
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    got, ref = _prefix_and_exact_pairs(spark, rows, threshold)
    assert got == ref


def _boundary_cases(p: int, q: int) -> list[tuple[int, int, int]]:
    """(|A|, |B|, |A∩B|) triples on the edge of threshold t = p/q:
    Jaccard exactly t (so t/(1+t)·(|A|+|B|) = |A∩B| is an integer),
    including |B| = t·|A| with B inside A, plus each one's overlap
    minus one, which must fall just below t."""
    cases = []
    for m in (1, 2):
        c, rest = p * m, (q - p) * m  # |A| + |B| - 2c = rest
        for a in sorted({0, rest // 2, rest}):
            cases.append((c + rest - a, c + a, c))
    cases += [(L, R, c - 1) for L, R, c in cases if c > 1]
    return [(L, R, c) for L, R, c in cases if L >= R]


@pytest.mark.parametrize("p,q", [(3, 10), (1, 2), (7, 10), (4, 5), (9, 10), (1, 1)])
def test_prefix_filter_keeps_exact_threshold_pairs(spark, p, q):
    """Deterministic boundary corpus for the length and positional
    filters: every pair sits on (or one shared token under) its
    threshold, with the shared tokens the most frequent of both docs,
    so the first common token is as late as possible and the
    positional bound equals the true overlap. One-word shingles make
    each word one token; every pair has its own vocabulary."""
    threshold = p / q
    cases = _boundary_cases(p, q)
    if (p, q) == (4, 5):
        # 28/35 == 0.8, but 0.8 / 1.8 * 63 == 28.000000000000004: the
        # multiplied-out positional bound would drop this pair
        cases.append((32, 31, 28))
    rows, on_threshold = [], set()
    for k, (L, R, c) in enumerate(cases):
        common = [f"c{k}x{j}" for j in range(c)]
        a = common + [f"a{k}x{j}" for j in range(L - c)]
        b = common + [f"b{k}x{j}" for j in range(R - c)]
        rows += [(2 * k, " ".join(a)), (2 * k + 1, " ".join(b))]
        if c / (L + R - c) >= threshold:
            on_threshold.add((2 * k, 2 * k + 1))
    got, ref = _prefix_and_exact_pairs(spark, rows, threshold, shingle_n=1)
    assert on_threshold and got == ref == on_threshold


POINTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40).map(float),
        st.integers(min_value=0, max_value=40).map(float),
    ),
    min_size=2,
    max_size=25,
    unique=True,
)


@settings(max_examples=10, deadline=None)
@given(POINTS, st.sampled_from([1.0, 2.5, 7.0]))
def test_grid_proximity_join_is_lossless(spark, pts, radius):
    """Grid blocking must find every pair the brute-force O(n²) check
    finds, at any radius — including points sitting exactly on cell
    boundaries (integer coordinates with integer radii)."""
    from projet_etl_a_rien_spark.operators.joins import grid_proximity_join

    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "id long, x double, y double"
    )
    got = {
        (r["id_a"], r["id_b"]) for r in grid_proximity_join(df, radius).collect()
    }
    brute = {
        (i, j)
        for i, (xa, ya) in enumerate(pts)
        for j, (xb, yb) in enumerate(pts)
        if i < j and ((xa - xb) ** 2 + (ya - yb) ** 2) ** 0.5 <= radius
    }
    assert got == brute


# ---------------------------------------------- concat-and-chunk packing ----

DOC_SIZES = st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=30)


@settings(max_examples=10, deadline=None)
@given(DOC_SIZES, st.integers(min_value=4, max_value=32))
def test_pack_sequences_partitions_token_stream(spark, sizes, seq_len):
    """Spans tile the concatenated stream exactly: per-doc token counts
    are conserved, every bin except the last is exactly full, spans
    within a doc are contiguous from 0, and bin offsets are in-range."""
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(n))) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.pack_training_sequences(df, seq_len=seq_len).collect()
    per_doc: dict[int, list] = {}
    per_bin: dict[int, int] = {}
    for r in out:
        per_doc.setdefault(r["id"], []).append(r)
        per_bin[r["bin"]] = per_bin.get(r["bin"], 0) + r["n_tok"]
        assert 0 <= r["start_in_bin"] and r["start_in_bin"] + r["n_tok"] <= seq_len
        assert r["n_tok"] >= 1
    assert {i for i, n in enumerate(sizes)} == set(per_doc)
    for i, n in enumerate(sizes):
        spans = sorted(per_doc[i], key=lambda r: r["start_in_doc"])
        assert sum(r["n_tok"] for r in spans) == n
        pos = 0
        for r in spans:
            assert r["start_in_doc"] == pos
            pos += r["n_tok"]
    last = max(per_bin)
    assert set(per_bin) == set(range(last + 1))
    for b in range(last):
        assert per_bin[b] == seq_len
    assert 0 < per_bin[last] <= seq_len


# --------------------------------------------------- n-gram contamination ----


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=12),
        min_size=2,
        max_size=10,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_ngram_contamination_matches_brute(spark, docs, n):
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    train = [(i, t) for i, t in rows if i % 2 == 0]
    bench = [(i, t) for i, t in rows if i % 2 == 1]
    if not train or not bench:
        return
    got = {
        r["id"]: (r["n_hit_ngrams"], r["n_bench_docs"])
        for r in dedup.ngram_contamination(
            spark.createDataFrame(train, "doc_id long, text string"),
            spark.createDataFrame(bench, "doc_id long, text string"),
            n=n,
        ).collect()
    }

    def grams(t):
        ws = t.split(" ")
        return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}

    want = {}
    bgs = [(i, grams(t)) for i, t in bench]
    for i, t in train:
        g = grams(t)
        hit = {x for x in g if any(x in bg for _, bg in bgs)}
        nb = sum(1 for _, bg in bgs if g & bg)
        if hit:
            want[i] = (len(hit), nb)
    assert got == want


# ------------------------------------------------- graph peeling (r4) ----


EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
)


def _brute_kcore(edges, k):
    import collections

    E = {(min(u, v), max(u, v)) for u, v in edges}
    adj = collections.defaultdict(set)
    for u, v in E:
        adj[u].add(v)
        adj[v].add(u)
    while True:
        low = [n for n, s in adj.items() if len(s) < k]
        if not low:
            break
        for n in low:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    return {n: len(s) for n, s in adj.items()}


def _brute_ktruss(edges, k):
    import collections

    E = {(min(u, v), max(u, v)) for u, v in edges}
    adj = collections.defaultdict(set)
    for u, v in E:
        adj[u].add(v)
        adj[v].add(u)
    while True:
        low = [(u, v) for (u, v) in E if len(adj[u] & adj[v]) < k - 2]
        if not low:
            break
        for u, v in low:
            E.discard((u, v))
            adj[u].discard(v)
            adj[v].discard(u)
    return {(u, v): len(adj[u] & adj[v]) for (u, v) in E}


@settings(max_examples=8, deadline=None)
@given(EDGES, st.integers(min_value=2, max_value=4))
def test_kcore_matches_bruteforce(spark, edges, k):
    """Distributed simultaneous peeling equals sequential brute-force
    peeling (the fixpoint is unique, however removals are scheduled),
    including each survivor's within-core degree."""
    from projet_etl_a_rien_spark.operators import graph

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.core_degree for r in graph.kcore(df, k=k, max_iter=30).collect()}
    assert got == _brute_kcore(edges, k)


@settings(max_examples=8, deadline=None)
@given(EDGES, st.integers(min_value=3, max_value=4))
def test_ktruss_matches_bruteforce(spark, edges, k):
    """Same uniqueness argument at the edge level: truss membership AND
    within-truss support match sequential brute force."""
    from projet_etl_a_rien_spark.operators import graph

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.u, r.v): r.support
        for r in graph.ktruss(df, k=k, max_iter=30).collect()
    }
    assert got == _brute_ktruss(edges, k)


# ------------------------------------------------ MV sink / rounding ----


def test_cents_half_away_matches_spark_round_on_signed_halves(spark):
    """The Arrow-state cent conversion must equal Spark ROUND on exact
    half-cents of BOTH signs (pandas .round is half-even; a sign-blind
    floor(x+0.5) breaks on negative halves)."""
    import numpy as np

    from projet_etl_a_rien_spark.streaming.windows import _cents_half_away

    vals = [-1.125, -0.125, -0.005, -0.004, 0.0, 0.004, 0.005, 0.125, 1.115]
    got = _cents_half_away(np, np.array(vals)).tolist()
    want = [
        r.c
        for r in spark.createDataFrame([(v,) for v in vals], "v double")
        .select(F.round(F.col("v") * 100).cast("long").alias("c"))
        .collect()
    ]
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=4), min_size=1, max_size=6),
    st.integers(min_value=0, max_value=5),
)
def test_agg_sink_fold_invariant_under_splits_and_compaction(
    spark, splits, compact_after
):
    """Whatever the batch partitioning and wherever compaction lands,
    the folded MV equals the one-shot aggregate: partials are
    associative and the snapshot watermark loses nothing."""
    import shutil
    import tempfile

    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators.compaction import (
        compact_agg_sink,
        read_agg_sink,
        write_agg_partial,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events").where(
        F.col("event_id") % 20 == 0
    )
    n_groups = len(splits)
    path = tempfile.mkdtemp(prefix="mvprop_")
    try:
        for b in range(n_groups):
            write_agg_partial(
                ev.where(F.col("event_id") % n_groups == b), path, b
            )
            if b == compact_after:
                compact_agg_sink(spark, path)
        got = {
            r.event_type: (r.n, r.cents)
            for r in read_agg_sink(spark, path).collect()
        }
        want = {
            r.event_type: (r.n, r.cents)
            for r in ev.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            )
            .collect()
        }
        assert got == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------- round-8 properties


URLISH = st.text(
    alphabet="abxyz%257EfF/~._-",
    min_size=0,
    max_size=24,
)


@settings(max_examples=15, deadline=None)
@given(st.lists(URLISH, min_size=1, max_size=20))
def test_pct_normalization_idempotent_and_case_folding(spark, segs):
    """normalize_pct_escapes is IDEMPOTENT (a canonical form), and
    lower/upper hex spellings of the same escape normalize to one
    string. Adversarial inputs: bare %, truncated escapes, escapes of
    unreserved and reserved bytes, literal tildes."""
    from projet_etl_a_rien_spark.operators.web import normalize_pct_escapes

    rows = [(i, s) for i, s in enumerate(segs)]
    df = spark.createDataFrame(rows, "i long, s string")
    once = normalize_pct_escapes(F.col("s"))
    out = df.select(
        "i",
        once.alias("n1"),
        normalize_pct_escapes(once).alias("n2"),
        normalize_pct_escapes(F.upper(F.col("s"))).alias("nu"),
        normalize_pct_escapes(F.lower(F.col("s"))).alias("nl"),
    ).collect()
    for r in out:
        assert r.n2 == r.n1  # idempotent
        # hex-case variants of the same byte sequence agree wherever the
        # non-escape characters agree modulo case
        assert r.nu.lower() == r.nl.lower()


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("ab cd ef gh ij kl".split()),
                 min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    )
)
def test_fim_reconstruction_property(spark, docs):
    """For ANY corpus: FIM span lengths partition the token count, PSM
    segments reassemble to the original token sequence, and short docs
    (< min_tokens) always pass through autoregressive."""
    from projet_etl_a_rien_spark.operators.text import (
        FIM_MID,
        FIM_PRE,
        FIM_SUF,
        fim_transform,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in fim_transform(df, min_tokens=4).collect()}
    for i, toks in enumerate(docs):
        r = out[i]
        assert r.n_tokens == len(toks)
        if len(toks) < 4:
            assert r.mode == "ar" and r.text_out == " ".join(toks)
            continue
        if r.mode == "ar":
            assert r.text_out == " ".join(toks)
            continue
        assert r.n_prefix + r.n_middle + r.n_suffix == len(toks)
        body = r.text_out[len(FIM_PRE):]
        pre, rest = body.split(FIM_SUF, 1)
        suf, mid = rest.split(FIM_MID, 1)
        rebuilt = [t for part in (pre, mid, suf) if part
                   for t in part.split(" ")]
        assert rebuilt == toks


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 25), st.integers(1, 25)),
        min_size=1,
        max_size=60,
    )
)
def test_triangle_estimate_encoding_invariant(spark, raw_edges):
    """The DOULION sample is a function of the CANONICAL edge set:
    duplicated rows, reversed orientation, and self-loops change
    nothing — the estimator returns identical counts."""
    from projet_etl_a_rien_spark.operators.graph import (
        triangle_count_estimate,
    )

    clean = spark.createDataFrame(raw_edges, "src long, dst long")
    noisy_rows = (
        raw_edges
        + [(b, a) for a, b in raw_edges]          # reversed copies
        + raw_edges[:3]                            # duplicates
        + [(a, a) for a, _ in raw_edges[:2]]       # self-loops
    )
    noisy = spark.createDataFrame(noisy_rows, "src long, dst long")
    assert (
        triangle_count_estimate(clean).collect()
        == triangle_count_estimate(noisy).collect()
    )
