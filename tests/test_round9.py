"""Round-9 tests: the r8 ADVICE fixes pinned as regressions.

1. Erasure's stats rewrite is SELF-HEALING: a crash between a prior
   run's postings overwrite and its stats rewrite leaves ghost stats
   that no postings change can ever trigger a repair for — the re-run
   must recompute stats unconditionally (compaction.py:postings_erase_ids).
2. Integer DIV, not double `/` + cast, in the DOULION scale-up and the
   chunk-span floor — above ~2^53 the double's floor drifts from the
   exact quotient, exactly the 100 TB regime both operators exist for.
3. Zero-norm centroid cosine emits NULL, not NaN/Inf
   (similarity.py:label_centroid_cosines).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from projet_etl_a_rien_spark.catalog import load_table
from projet_etl_a_rien_spark.operators.compaction import (
    compact_postings_sink,
    postings_erase_ids,
    read_postings_sink_with_stats,
    write_postings_partial,
)
from projet_etl_a_rien_spark.operators.retrieval import inverted_index
from projet_etl_a_rien_spark.operators.similarity import (
    label_centroid_cosines,
)


def _assert_frames_equal(got, want):
    assert got.dtypes == want.dtypes
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_erasure_stats_self_heal_after_crash_window(spark, sf_dir):
    """Simulated crash: the postings snapshot is already erased but the
    stats table still carries the erased docs' ghost df/cf/n_docs (a
    prior run died between its two writes). Re-running the SAME erasure
    removes zero posting rows — yet must still rewrite the stats, or
    the stored-stats serve scores with ghosts forever."""
    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="statheal_")
    try:
        write_postings_partial(docs, path, 0)
        v = compact_postings_sink(spark, path)
        # manually replay only the FIRST half of an erasure: overwrite
        # the snapshot postings without the erased ids, leave stats stale
        erased_pred = F.col("id") % 5 == 0
        snap = f"{path}/snap/v={v}"
        kept = (
            spark.read.parquet(snap)
            .where(~erased_pred)
            .localCheckpoint(eager=True)
        )
        kept.write.mode("overwrite").parquet(snap)
        survivors = docs.where(F.col("doc_id") % 5 != 0)
        # ghost check: the stale stats disagree with the erased postings
        stale = spark.read.parquet(f"{path}/stats/v={v}")
        assert (
            stale.where(F.col("n_docs") == docs.count()).count()
            == stale.count()
        )
        # the re-run removes nothing (postings already erased) ...
        removed = postings_erase_ids(
            spark,
            path,
            docs.where(F.col("doc_id") % 5 == 0).select(
                F.col("doc_id").alias("id")
            ),
        )
        assert removed == 0
        # ... but the stats must have converged anyway
        healed = spark.read.parquet(f"{path}/stats/v={v}")
        n_surv = survivors.count()
        assert healed.where(F.col("n_docs") != n_surv).count() == 0
        _assert_frames_equal(
            read_postings_sink_with_stats(spark, path),
            inverted_index(survivors),
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_div_is_exact_where_double_division_is_not(spark):
    """Why the DOULION scale-up and chunk-span floors use DIV: for
    values past 2^53 the double round-trip of `/` + cast loses the
    exact quotient. 2^53 + 1 is the first long a double cannot hold."""
    v = 2**53 + 1
    row = spark.createDataFrame([(v,)], "x long").select(
        F.expr("x DIV 1").alias("div_exact"),
        (F.col("x") / 1).cast("long").alias("double_path"),
    ).first()
    assert row.div_exact == v
    assert row.double_path != v  # the bug DIV avoids


def test_triangle_estimate_scale_up_exact_past_double_precision(spark):
    """est = sampled * keep_den**3 DIV keep_num**3 stays exact for
    counts a double cannot represent (den=2 -> *8; the product of a
    (2^53+1)-ish count is far past 2^53)."""
    from projet_etl_a_rien_spark.operators import graph as _g

    big = 2**53 + 1
    got = (
        spark.createDataFrame([(big,)], "n_sampled_triangles long")
        .select(
            F.expr("n_sampled_triangles * 8 DIV 1")
            .cast("long")
            .alias("est")
        )
        .first()
        .est
    )
    assert got == big * 8
    # and the operator itself still agrees with a hand count on a
    # small graph (4-clique = 4 triangles; p=1 keeps every edge)
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "src long, dst long",
    )
    est = _g.triangle_count_estimate(
        edges, keep_num=1, keep_den=1
    ).first()
    assert est.n_sampled_triangles == 4
    assert est.est_triangles == 4


def test_zero_norm_centroid_cosine_is_null(spark):
    """A label whose centroid quantizes to the zero vector (components
    below the 1e-6 grid) yields cos = NULL for its pairs — never
    NaN/Inf, whose long-cast behavior diverges between engines."""
    rows = [
        (1, "a", [1.0, 0.0]),
        (2, "a", [1.0, 0.0]),
        (3, "zero", [1e-9, -1e-9]),
        (4, "b", [0.0, 2.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    out = label_centroid_cosines(df).collect()
    got = {(r.label_a, r.label_b): r.cos for r in out}
    assert got[("a", "b")] == 0.0
    assert got[("a", "zero")] is None
    assert got[("b", "zero")] is None


# ---------------------------------------------------------------------------
# Byte-level BPE twin (operators/bpe.py BBPE half) — property tests vs a
# pure-Python reference on multibyte/whitespace edge cases (the r8
# verdict's done-criterion for the tokenizer ask).
# ---------------------------------------------------------------------------

import re as _re
import collections as _collections

from projet_etl_a_rien_spark.operators import bpe as _bpe


def _py_pretokens(text):
    return _re.findall(r"  +| ?[^ ]+| +", text)


def _py_bbpe_learn(texts, num_merges=10, min_count=2):
    wc = _collections.Counter()
    for t in texts:
        wc.update(_py_pretokens(t))
    seqs = {
        pt: [f"{b:02X}" for b in pt.encode("utf-8")] for pt in wc
    }
    merges = []
    for rank in range(1, num_merges + 1):
        pc = _collections.Counter()
        for pt, syms in seqs.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wc[pt]
        if not pc:
            break
        (left, right), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_count:
            break
        merges.append((rank, left, right, n))
        seqs = {
            pt: _py_apply(syms, left, right) for pt, syms in seqs.items()
        }
    return merges


def _py_apply(syms, left, right):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def test_byte_symbols_multibyte_and_space(spark):
    """UTF-8 bytes as hex pairs: multibyte chars split into their bytes
    (mergeable, GPT-2-style), leading space travels inside the token."""
    got = (
        spark.createDataFrame([(" é",), ("ab",), ("’",)], "t string")
        .select(F.col("t"), _bpe.byte_symbols(F.col("t")).alias("s"))
        .collect()
    )
    m = {r.t: r.s for r in got}
    assert m[" é"] == ["20", "C3", "A9"]
    assert m["ab"] == ["61", "62"]
    assert m["’"] == ["E2", "80", "99"]  # U+2019, three UTF-8 bytes


def test_bbpe_learn_matches_python_on_multibyte_whitespace(spark):
    """Distributed byte-level learning == the pure-Python reference on a
    corpus exercising multibyte chars, double spaces, leading/trailing
    space, and merge chains that cross a codepoint's byte boundary."""
    texts = [
        "café  münchen ’quote",
        "a  a a",
        "the cat  sat",
        " lead tail ",
        "naïve naïve café",
        "’’ ’’",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = _bpe.learn_bbpe_merges(df, num_merges=12, min_pair_count=2)
    want = _py_bbpe_learn(texts, num_merges=12, min_count=2)
    assert got == want
    # byte-level signature: some learned token must span a multibyte
    # char's bytes or carry a leading space byte
    assert any(l.startswith("20") or l in ("E2", "C3") for _, l, _r, _ in got) or any(
        r in ("80", "99", "A9", "AF") for _, _l, r, _ in got
    )


def test_bbpe_encode_stats_match_python(spark):
    """apply_bbpe_merges per-doc counts == encoding every doc with the
    pure-Python reference under the same frozen merge list."""
    texts = [
        (1, "café café  münchen"),
        (2, " the cat sat "),
        (3, "’a’ b"),
    ]
    merges = _py_bbpe_learn([t for _, t in texts], num_merges=6, min_count=2)
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_pretokens, r.n_bytes, r.n_bbpe_tokens)
        for r in _bpe.apply_bbpe_merges(df, merges).collect()
    }
    for doc_id, text in texts:
        pts = _py_pretokens(text)
        n_tok = 0
        n_bytes = 0
        for pt in pts:
            syms = [f"{b:02X}" for b in pt.encode("utf-8")]
            for _rank, l, r, _n in merges:
                syms = _py_apply(syms, l, r)
            n_tok += len(syms)
            n_bytes += len(pt.encode("utf-8"))
        assert got[doc_id] == (len(pts), n_bytes, n_tok)


# ---------------------------------------------------------------------------
# IDN/punycode + NFC URL canonicalization (operators/idn.py, web.py) —
# the r8 verdict's #2 ask.
# ---------------------------------------------------------------------------

import random as _random
import unicodedata as _ud

from projet_etl_a_rien_spark.operators import idn as _idn
from projet_etl_a_rien_spark.operators import web as _W


def test_punycode_decode_matches_python_codec(spark):
    """The F.aggregate punycode fold == Python's RFC 3492 codec over
    randomized multilingual labels (Latin diacritics, Cyrillic, Greek,
    CJK), plus the all-basic trailing-delimiter form and pass-through
    of non-ACE / malformed labels."""
    _random.seed(17)
    alphabet = (
        "abcdefghijklmnopqrstuvwxyz0123456789"
        "äöüßéèêñçабвгдεζηθ中文日本"
    )
    cases = []
    for _ in range(80):
        n = _random.randint(1, 24)
        lab = _ud.normalize(
            "NFC", "".join(_random.choice(alphabet) for _ in range(n))
        )
        ace = "xn--" + lab.encode("punycode").decode("ascii")
        cases.append((ace, lab))
    cases += [
        ("xn--mnchen-3ya", "münchen"),
        ("xn--caf-dma", "café"),
        ("xn--y-", "y"),  # all-basic form: empty extended part
        ("plain", "plain"),  # not ACE: pass through
        ("xn--", "xn--"),  # degenerate: no delimiter, no digits
        ("xn--a_b-", "xn--a_b-"),  # invalid basic? ext empty+dash: "a_b"
    ]
    # the last case: ext empty with trailing dash IS the all-basic form,
    # so expected is the basic part verbatim
    cases[-1] = ("xn--a_b-", "a_b")
    df = spark.createDataFrame([(a,) for a, _ in cases], "label string")
    got = {
        r.label: r.dec
        for r in df.select(
            "label", _idn.decode_idn_label(F.col("label")).alias("dec")
        ).collect()
    }
    for ace, want in cases:
        assert got[ace] == want, (ace, got[ace], want)


def test_nfc_compose_matches_unicodedata(spark):
    """The composition fold == unicodedata NFC on canonically-ordered
    input: precomposed, NFD, iterative multi-mark composition (ệ), and
    the blocked same-class sequence (stays decomposed)."""
    cases = [
        "café",
        "café",
        "münchen",
        "ệ",  # -> U+1EC7 via two pair compositions
        "ascii only",
        "q̣̇x",  # dot-below then dot-above
        "ά",  # greek alpha + acute
        "ё",  # cyrillic e + diaeresis -> ё
    ]
    df = spark.createDataFrame([(t,) for t in cases], "s string")
    got = {
        r.s: r.c
        for r in df.select(
            "s", _idn.nfc_compose(F.col("s")).alias("c")
        ).collect()
    }
    for t in cases:
        assert got[t] == _ud.normalize("NFC", t), (
            t.encode("unicode_escape"),
            got[t].encode("unicode_escape"),
        )


def test_idn_variant_urls_collapse_to_one_canonical(spark):
    """All spellings of one IDN resource — uppercase ACE, precomposed,
    decomposed, with/without www./default port — canonicalize to ONE
    URL whose host is the precomposed Unicode form."""
    urls = [
        "https://XN--MNCHEN-3YA.example.com/a?x=1",
        "https://münchen.example.com/a?x=1",
        "https://münchen.example.com/a?x=1",
        "https://WWW.xn--mnchen-3ya.example.com:443/a?x=1",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = (
        df.select(_W.canonical_url(F.col("url")).alias("c"))
        .distinct()
        .collect()
    )
    assert len(got) == 1
    assert got[0].c == "https://münchen.example.com/a?x=1"


def test_nfd_path_segment_composes(spark):
    """NFC and NFD spellings of a non-ASCII path segment collide."""
    urls = [
        "https://h.example.com/café/1",
        "https://h.example.com/café/1",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = (
        df.select(_W.canonical_url(F.col("url")).alias("c"))
        .distinct()
        .collect()
    )
    assert len(got) == 1
    assert got[0].c == "https://h.example.com/café/1"


def test_synth_idn_variants_dedup_to_one_keeper(spark):
    """End-to-end over the synthesized corpus: a rid % 13 == 7 resource
    is spelled three ways across its doc_id group (ACE / NFC / NFD) and
    still dedups to ONE keeper with all group members counted."""
    g = _W.URL_GROUP_DIV
    rid = 7  # rid % 13 == 7
    ids = [rid * g + k for k in range(g)]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    urls = df.select("doc_id", _W.synth_url().alias("url"))
    # the three spellings really differ pre-canonicalization
    assert urls.select("url").distinct().count() == g
    keep = _W.url_dedup_keepers(urls).collect()
    assert len(keep) == 1
    assert keep[0].n_docs == g
    assert keep[0].keeper_id == min(ids)
    assert "münchen" in keep[0].url_canon
    assert "xn--" not in keep[0].url_canon


# ---------------------------------------------------------------------------
# DOULION p-knob (verdict #4): the p = 1/10 operating point is bounded
# and integer-exact, and the policy function is monotone.
# ---------------------------------------------------------------------------


def test_triangle_estimate_p10_error_bound_sf001(spark):
    """At sf0.01 the deterministic p=1/10 coin keeps ~10% of edges, the
    estimate is exactly 1000x the sampled count (integer scaling), and
    the relative error vs the exact count stays under 15% (measured:
    6.2% with 388 sampled triangles — 1/sqrt(n) noise at this scale;
    at the 10^9-edge scale the policy targets, the sampled triangle
    count is millions and the bound tightens accordingly)."""
    from projet_etl_a_rien_spark import queries_graph as G
    from projet_etl_a_rien_spark.operators import graph

    sf = "/root/testdata/sf0.01"
    edges = G._copurchase_edges(spark, sf)
    exact = (
        graph.triangle_counts(edges)
        .agg(F.expr("sum(n_triangles) DIV 3").alias("t"))
        .collect()[0]
        .t
    )
    row = G.q_parts_triangle_estimate_p10(spark, sf).collect()[0]
    assert row.est_triangles == row.n_sampled_triangles * 1000
    assert abs(row.est_triangles - exact) / exact < 0.15
    n_edges = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .count()
    )
    assert 0.07 * n_edges < row.n_sampled_edges < 0.13 * n_edges


def test_doulion_keep_policy_tiers():
    """The documented p-by-|E| policy: exact below the pain threshold,
    monotonically more aggressive sampling as E grows, never below the
    p that keeps the sampled graph billions of edges at web scale."""
    from projet_etl_a_rien_spark.operators.graph import doulion_keep_policy

    assert doulion_keep_policy(1_000) == (1, 1)
    assert doulion_keep_policy(10_000_000) == (1, 2)
    assert doulion_keep_policy(1_000_000_000) == (1, 10)
    assert doulion_keep_policy(200_000_000_000) == (1, 32)
    # monotone keep-rate
    prev = 1.0
    for e in (1, 10**7, 10**9, 10**11, 10**13):
        n, d = doulion_keep_policy(e)
        p = n / d
        assert p <= prev
        prev = p


# ---------------------------------------------------------------------------
# order_buckets sizing rule (verdict #5): the helper's bound holds and
# the chunk layout stays exact at ANY bucket count.
# ---------------------------------------------------------------------------


def test_order_buckets_for_rule():
    from projet_etl_a_rien_spark.operators.text import order_buckets_for

    assert order_buckets_for(1_000) == 256  # floor
    assert order_buckets_for(10**9) == 256  # 250 raw, floored to 256
    assert order_buckets_for(10**10) == 2500
    assert order_buckets_for(10**12) == 250_000  # 100 TB class
    # every bucket's EXPECTED population is the target
    for n in (10**10, 10**12):
        b = order_buckets_for(n)
        assert n / b <= 4_000_000


def test_chunk_index_bucket_populations_bounded(spark, sf_dir):
    """Hash bucketing keeps window partitions balanced: with the
    helper's floor at sf0.001 the max bucket population stays within
    3x the mean (binomial tail at tiny expected counts; the ratio
    tightens toward 1 as expected-per-bucket grows)."""
    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators.text import (
        order_buckets_for,
        stream_chunk_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    b = order_buckets_for(n)
    assert b == 256
    idx = stream_chunk_index(docs, chunk_tokens=512, order_buckets=b)
    # recompute the operator's own bucket assignment to audit balance
    hx = F.md5(F.concat(F.lit("chunk8:"), F.col("doc_id").cast("string")))
    pops = (
        docs.select(
            (F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % b).alias(
                "bkt"
            )
        )
        .groupBy("bkt")
        .count()
        .agg(F.max("count").alias("mx"), F.avg("count").alias("mean"))
        .collect()[0]
    )
    assert pops.mx <= 3 * pops.mean
    assert idx.count() == n


def test_chunk_index_exact_at_nondefault_bucket_count(spark, sf_dir):
    """The bucket-decomposed prefix sum equals the naive global-sort
    spec at a NON-default bucket count (the bucket count participates
    in the order, so each count defines its own layout — but every
    count must match its own spec exactly)."""
    from pyspark.sql.window import Window

    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators.text import (
        stream_chunk_index,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    for b in (7, 1024):
        got = stream_chunk_index(
            docs, chunk_tokens=256, order_buckets=b
        ).select("doc_id", "global_start")
        hx = F.md5(
            F.concat(F.lit("chunk8:"), F.col("doc_id").cast("string"))
        )
        bkt = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % b
        w = Window.orderBy(F.asc("bkt"), F.asc("hx"), F.asc("doc_id")).rowsBetween(
            Window.unboundedPreceding, -1
        )
        want = docs.select(
            "doc_id",
            token_count(F.col("text")).alias("n_tokens"),
            hx.alias("hx"),
            bkt.alias("bkt"),
        ).select(
            "doc_id",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias(
                "global_start"
            ),
        )
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


# ---------------------------------------------------------------------------
# Incremental BBPE training sink + BBPE-counted chunk layout.
# ---------------------------------------------------------------------------


def test_bbpe_sink_training_equals_one_shot(spark, sf_dir):
    """Merges learned from the additive pre-token count sink (two
    compacted batches + one uncompacted partial) == one-shot training
    over the full corpus; replaying a partial (idempotent overwrite)
    changes nothing."""
    import shutil
    import tempfile

    from projet_etl_a_rien_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="bbpesinkt_")
    try:
        _bpe.write_pretoken_counts_partial(
            docs.where(F.col("doc_id") % 3 == 0), path, 0
        )
        _bpe.write_pretoken_counts_partial(
            docs.where(F.col("doc_id") % 3 == 1), path, 1
        )
        _bpe.compact_pretoken_counts(spark, path)
        _bpe.write_pretoken_counts_partial(
            docs.where(F.col("doc_id") % 3 == 2), path, 2
        )
        # idempotent replay of the last batch
        _bpe.write_pretoken_counts_partial(
            docs.where(F.col("doc_id") % 3 == 2), path, 2
        )
        got = _bpe.learn_bbpe_merges_from_sink(spark, path, num_merges=6)
        want = _bpe.learn_bbpe_merges(docs, num_merges=6)
        assert got == want
        # the folded counts equal a one-shot count
        sink = {
            r.pt: r.cnt
            for r in _bpe.read_pretoken_counts(spark, path).collect()
        }
        ref = {
            r.pt: r.cnt
            for r in _bpe.pretoken_symbol_table(docs)
            .select("pt", "cnt")
            .collect()
        }
        assert sink == ref
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_chunk_index_with_precomputed_counts(spark, sf_dir):
    """stream_chunk_index(n_tokens_col=...) consumes a precomputed
    count column verbatim: the emitted n_tokens equal the inputs and
    the layout is the prefix sum of those counts in hash order."""
    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators.text import stream_chunk_index

    docs = load_table(spark, sf_dir, "documents").limit(200)
    counts = _bpe.apply_bbpe_merges(docs, _bpe.FIXED_BYTE_MERGES).select(
        "doc_id", "n_bbpe_tokens"
    )
    idx = stream_chunk_index(
        counts, chunk_tokens=512, n_tokens_col="n_bbpe_tokens"
    )
    joined = idx.join(
        counts.withColumnRenamed("n_bbpe_tokens", "want"), "doc_id"
    )
    assert joined.where(F.col("n_tokens") != F.col("want")).count() == 0
    total = counts.agg(F.sum("n_bbpe_tokens")).collect()[0][0]
    assert (
        idx.agg(F.max(F.col("global_start") + F.col("n_tokens"))).collect()[
            0
        ][0]
        == total
    )


def test_nfc_hangul_and_astral(spark):
    """Hangul jamo sequences compose arithmetically (L+V, L+V+T — the
    algorithmic NFC branch the pair map excludes) and astral
    codepoints survive the whole pipeline: an emoji ACE label decodes
    to its emoji (xn--ls8h is 💩.la's famous label)."""
    cases = [
        "한",  # NFD 한 (L+V+T) -> U+D55C
        "가",  # L+V -> 가 U+AC00
        "한ᆫ테스트",  # mixed: precomposed + trailing jamo
        "ascii",
    ]
    df = spark.createDataFrame([(t,) for t in cases], "s string")
    got = {
        r.s: r.c
        for r in df.select(
            "s", _idn.nfc_compose(F.col("s")).alias("c")
        ).collect()
    }
    for t in cases:
        assert got[t] == _ud.normalize("NFC", t), (
            t.encode("unicode_escape"),
            got[t].encode("unicode_escape"),
        )
    emoji = (
        spark.createDataFrame([("xn--ls8h",)], "label string")
        .select(_idn.decode_idn_label(F.col("label")).alias("d"))
        .first()
        .d
    )
    assert emoji == "\U0001F4A9"


# ---------------------------------------------------------------------------
# Count-min sketch (operators/sketches.py)
# ---------------------------------------------------------------------------


def test_cms_one_sided_and_merge(spark, sf_dir):
    """est >= true for EVERY token (the count-min guarantee), exact at
    generous width, and the grid is additive: cell-wise sum of two
    half-corpus grids == the full-corpus grid."""
    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    tokc = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    cms = sketches.token_cms(docs, depth=4, width=512)
    est = sketches.cms_estimate(
        cms, tokc.select(F.col("t").alias("token")), depth=4, width=512
    )
    j = tokc.join(est, tokc.t == est.token)
    assert j.where(F.col("cms_est") < F.col("c")).count() == 0  # one-sided
    # additivity: two half grids summed == full grid
    a = sketches.token_cms(docs.where(F.col("doc_id") % 2 == 0), 4, 512)
    b = sketches.token_cms(docs.where(F.col("doc_id") % 2 == 1), 4, 512)
    merged = (
        a.unionByName(b)
        .groupBy("j", "b")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert merged.exceptAll(cms).count() == 0
    assert cms.exceptAll(merged).count() == 0
    # grid is bounded: never more than d*w cells
    assert cms.count() <= 4 * 512


def test_cms_tiny_width_overestimates_but_never_under(spark):
    """At a deliberately tiny width collisions force overestimates —
    still never an underestimate (the failure mode CMS cannot have)."""
    from projet_etl_a_rien_spark.operators import sketches

    rows = [(f"tok{i % 7} " * (i % 5 + 1),) for i in range(50)]
    df = spark.createDataFrame(rows, "text string")
    tokc = (
        df.select(F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    cms = sketches.token_cms(df, depth=2, width=4)
    est = sketches.cms_estimate(
        cms, tokc.select(F.col("t").alias("token")), depth=2, width=4
    )
    j = tokc.join(est, tokc.t == est.token).collect()
    assert all(r.cms_est >= r.c for r in j)
    assert any(r.cms_est > r.c for r in j)  # collisions at w=4
