"""Round-7 regression tests for the r6 ADVICE corners:

- snapshot_diff side-presence is literal flags, not key nullness —
  all-NULL-key rows (legitimately matchable under eqNullSafe) must diff
  and roundtrip correctly;
- the DSIR LLR model is DENSE (all n_buckets rows), so a streamed token
  hashing to a bucket unseen at fit time scores with the smoothed prior
  instead of silently vanishing;
- DSIR budget selection consumes the EXACT BIGINT nano sum instead of
  reconstructing it from the double (exact past 2^52);
- BPE pair argmax carries struct<l,r>, so symbols containing the old
  \\x1f separator can't corrupt the decode.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from projet_etl_a_rien_spark.operators import bpe, selection
from projet_etl_a_rien_spark.operators.compaction import (
    apply_changes,
    snapshot_diff,
)


# ------------------------------------------------- snapshot_diff NULL keys


def test_snapshot_diff_all_null_key_rows(spark):
    """An all-NULL-key row is a matchable key under eqNullSafe: identical
    rows emit nothing, a changed value emits 'U', a new-only NULL-key
    row is 'U' (not a spurious 'D'), an old-only one is 'D'."""
    schema = "k int, v int"
    # identical all-NULL-key rows → no change row at all
    old = spark.createDataFrame([(None, 1), (7, 7)], schema)
    new = spark.createDataFrame([(None, 1), (7, 7)], schema)
    assert snapshot_diff(old, new, ["k"]).count() == 0

    # NULL-key value change → exactly one 'U' carrying the NEW value
    new2 = spark.createDataFrame([(None, 2), (7, 7)], schema)
    got = snapshot_diff(old, new2, ["k"]).collect()
    assert [(r.k, r.v, r.op) for r in got] == [(None, 2, "U")]

    # new-only NULL-key row → 'U'; old-only NULL-key row → 'D'
    empty = spark.createDataFrame([], schema)
    ins = {(r.k, r.v, r.op) for r in snapshot_diff(empty, old, ["k"]).collect()}
    assert ins == {(None, 1, "U"), (7, 7, "U")}
    dels = {(r.k, r.v, r.op) for r in snapshot_diff(old, empty, ["k"]).collect()}
    assert dels == {(None, 1, "D"), (7, 7, "D")}


def test_snapshot_diff_null_key_roundtrip(spark):
    """apply_changes(old, snapshot_diff(old, new)) == new even when key
    columns contain NULLs (window partitionBy groups NULL keys, matching
    the diff's eqNullSafe join)."""
    schema = "k1 int, k2 string, v int"
    old = spark.createDataFrame(
        [(None, None, 1), (None, "a", 2), (1, None, 3), (1, "a", 4)], schema
    )
    new = spark.createDataFrame(
        [(None, None, 9), (1, None, 3), (2, "b", 5)], schema
    )
    diff = snapshot_diff(old, new, ["k1", "k2"]).withColumn(
        "seq", F.lit(1).cast("long")
    )
    applied = apply_changes(old, diff, ["k1", "k2"], "seq")
    assert {tuple(r) for r in applied.collect()} == {
        tuple(r) for r in new.collect()
    }


# ------------------------------------------------------- dense DSIR model


def test_dsir_llr_table_is_dense(spark):
    """All n_buckets rows exist even when the fit corpus observes only a
    few, and observed buckets keep the exact counts-driven LLR."""
    docs = spark.createDataFrame(
        [(1, "alpha alpha", "src0"), (2, "beta", "src1")],
        "doc_id long, text string, source string",
    )
    llr = selection.dsir_llr_table(
        docs, F.col("source") == "src0", n_buckets=64
    )
    rows = llr.collect()
    assert len(rows) == 64
    assert {r.b for r in rows} == set(range(64))
    # unseen buckets all share the smoothed prior: ln(1/(2+64)) - ln(1/(3+64))
    import math

    prior = round((math.log(1 / 66) - math.log(1 / 67)) * 1e9)
    seen = {
        r.b
        for r in docs.select(F.explode(F.split("text", " ")).alias("t"))
        .select(selection._feature_bucket(F.col("t"), 64).alias("b"))
        .collect()
    }
    for r in rows:
        if r.b not in seen:
            assert r.llr_nano == prior


def test_dsir_stream_scores_unseen_buckets(spark):
    """A scored token hashing to a bucket absent from the fit corpus
    still contributes to n_tokens and logweight (smoothed prior), so
    the gate's docstring claim — the LLR is defined everywhere — holds."""
    fit = spark.createDataFrame(
        [(1, "alpha alpha", "src0"), (2, "beta", "src1")],
        "doc_id long, text string, source string",
    )
    llr = selection.dsir_llr_table(fit, F.col("source") == "src0", n_buckets=64)
    # pick a token whose bucket is NOT observed at fit time
    seen = {
        r.b
        for r in fit.select(F.explode(F.split("text", " ")).alias("t"))
        .select(selection._feature_bucket(F.col("t"), 64).alias("b"))
        .collect()
    }
    probe = next(
        w
        for w in ("zeta", "omega", "kappa", "sigma", "theta", "lambda0")
        if next(
            iter(
                spark.range(1)
                .select(selection._feature_bucket(F.lit(w), 64).alias("b"))
                .collect()
            )
        ).b
        not in seen
    )
    stream = spark.createDataFrame(
        [(10, f"alpha {probe}")], "doc_id long, text string"
    )
    out = selection.dsir_score_stream(stream, llr, n_buckets=64).collect()
    assert len(out) == 1
    assert out[0].n_tokens == 2  # the unseen-bucket token is NOT dropped
    assert out[0].logweight == pytest.approx(out[0].lw_nano / 1e9)


def test_dsir_logweights_nano_is_exact_bigint(spark, sf_dir):
    """with_nano=True exposes the exact BIGINT fold; the double column is
    its /1e9 image, and the budget selector consumes the integer."""
    from projet_etl_a_rien_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = selection.dsir_logweights(
        docs, F.col("source") == "src0", n_buckets=64, with_nano=True
    ).collect()
    assert rows
    for r in rows:
        assert isinstance(r.lw_nano, int)
        assert r.logweight == pytest.approx(r.lw_nano / 1e9)


# ----------------------------------------------------- BPE separator-proof


def test_bpe_handles_tokens_containing_control_chars(spark):
    """Symbols containing \\x1f (the old pair separator) learn and decode
    correctly now that pairs travel as struct<l,r>."""
    from tests.test_round6 import _ref_bpe

    texts = ["a\x1fb a\x1fb a\x1fb", "a\x1fb xy xy"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = bpe.learn_bpe_merges(df, num_merges=4)
    want = _ref_bpe(texts, num_merges=4)
    assert got == want
    # the merge chain assembles the \x1f-bearing word (with its END
    # marker) from correctly-decoded halves
    assert any(left + right == "a\x1fb" + bpe.END for _, left, right, _ in got)


# ------------------------------------------------ frozen-merge BPE encode


def test_bpe_fixed_merges_encode_matches_python(spark, sf_dir):
    """corpus_bpe_encode_stats now encodes with the FROZEN shipped merge
    table (bpe.FIXED_MERGES) — the Spark fold chain must equal a pure-
    Python rank-ordered greedy application of the same table."""
    from projet_etl_a_rien_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}

    def encode_len(word: str) -> int:
        syms = list(word) + [bpe.END]
        for _rank, left, right, _n in bpe.FIXED_MERGES:
            out, pend = [], None
            for s in syms:
                if pend == left and s == right:
                    out.append(left + right)
                    pend = None
                else:
                    if pend is not None:
                        out.append(pend)
                    pend = s
            if pend is not None:
                out.append(pend)
            syms = out
        return len(syms)

    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in bpe.apply_bpe_merges(docs, bpe.FIXED_MERGES).collect()
    }
    for doc_id, text in texts.items():
        words = [w for w in text.split(" ") if w != ""]
        want = (len(words), sum(encode_len(w) for w in words))
        assert got[doc_id] == want, doc_id


def test_bpe_encode_oracle_replace_chain_semantics(spark):
    """The DuckDB oracle's anchored replace-chain rewrite is the greedy
    fold: verified on the adversarial back-to-back cases directly in
    DuckDB against the Spark fold."""
    import duckdb

    from projet_etl_a_rien_spark.queries_tokenizer import _bpe_encode_oracle

    merges = [(1, "a", "a", 9), (2, "aa", "a", 5), (3, "aa", "aa", 3)]
    texts = ["aaaa aaa aa a", "aaaaa b ab ba", "aaaaaaaa"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in bpe.apply_bpe_merges(df, merges).collect()
    }
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = {
        r[0]: (r[1], r[2])
        for r in con.sql(_bpe_encode_oracle(merges)).fetchall()
    }
    assert got == want


# ------------------------------------------------- raw-web normalization


def test_html_to_text_semantics(spark):
    """Script/style/comment blocks vanish, tags become spaces, entities
    decode (&amp; LAST so double-escapes yield literals), whitespace
    collapses."""
    from projet_etl_a_rien_spark.operators import text as T

    cases = [
        (
            '<p>hello <b>world</b></p><script>x = "<y>"; a && b;</script>ok',
            "hello world ok",
        ),
        ("<style>p { color: red; }</style>done", "done"),
        ("<!-- note --><div>a</div>", "a"),
        ("a&amp;b &lt;tag&gt; &quot;q&quot; &#39;s&#39;", 'a&b <tag> "q" \'s\''),
        ("&amp;lt;literal&amp;gt;", "&lt;literal&gt;"),
        ("  lots   of\tspace  ", "lots of space"),
        ("<SCRIPT>upper</SCRIPT>kept", "kept"),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(cases)], "i long, raw string"
    )
    got = {
        r.i: r.clean
        for r in df.select("i", T.html_to_text("raw").alias("clean")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_unicode_repair_semantics(spark):
    """Mojibake repairs (longest first), punctuation folding, control
    strip, collapse."""
    from projet_etl_a_rien_spark.operators import text as T

    cases = [
        ("cafÃ©", "café"),
        ("naÃ¯ve dÃ©jÃ vu", "naïve déjàvu"),
        ("â€œhiâ€™", "\"hi'"),
        ("dash â€” here", "dash - here"),
        ("curly ’ “ ” – fold", "curly ' \" \" - fold"),
        ("nb sp", "nb sp"),
        ("ctrl\x07gone", "ctrlgone"),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(cases)], "i long, raw string"
    )
    got = {
        r.i: r.clean
        for r in df.select(
            "i", T.unicode_repair("raw").alias("clean")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_html_noise_roundtrip_recovers_text(spark, sf_dir):
    """Stripping the synthesized page recovers the original document text
    followed by the fixed entity-decoded suffix — for every doc."""
    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = "\"end of doc\" & 'fin' <eof> &lt;literal&gt;"
    out = docs.select(
        "doc_id",
        "text",
        T.html_to_text(T.html_noise("text", "doc_id")).alias("clean"),
    ).collect()
    assert out
    for r in out:
        assert r.clean == f"d{r.doc_id} {r.text} {suffix}", r.doc_id


# ------------------------------------------- erasure in the stateful sinks


def test_neardup_sink_erasure(spark):
    """Ingest → erase → re-probe: after erasing an accepted doc from the
    near-dup sink, (a) the band index carries no trace of it, (b) a
    previously-rejected near-dup of it now ingests cleanly, (c) the
    xs/bands row-count invariant holds (bands == xs × bands_per_doc)."""
    import shutil
    import tempfile

    from projet_etl_a_rien_spark.operators.dedup import (
        neardup_erase_ids,
        neardup_merge_batch,
    )

    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    other = "zero one two three four five six seven eight nine ten eleven"
    batch1 = spark.createDataFrame(
        [(1, words), (2, other)], "doc_id long, text string"
    )
    # doc 11 is a near-dup of doc 1 (one word changed); doc 12 is novel
    batch2 = spark.createDataFrame(
        [(11, words.replace("juliet", "kilo")), (12, "p q r s t u v w x y z aa")],
        "doc_id long, text string",
    )
    path = tempfile.mkdtemp(prefix="nderase_")
    try:
        neardup_merge_batch(batch1, path)
        neardup_merge_batch(batch2, path)
        accepted = {r.id for r in spark.read.parquet(f"{path}/xs").collect()}
        assert 1 in accepted and 2 in accepted and 12 in accepted
        assert 11 not in accepted  # rejected as near-dup of 1

        n = neardup_erase_ids(spark, path, [1, 999])
        assert n == 1  # 999 was never in the sink
        xs_ids = {r.id for r in spark.read.parquet(f"{path}/xs").collect()}
        band_ids = {r.id for r in spark.read.parquet(f"{path}/bands").collect()}
        assert 1 not in xs_ids and 1 not in band_ids
        assert xs_ids == band_ids == accepted - {1}

        # the near-dup of the erased doc now ingests (nothing to match)
        neardup_merge_batch(batch2, path)
        xs_ids2 = {r.id for r in spark.read.parquet(f"{path}/xs").collect()}
        assert 11 in xs_ids2
        # row-count invariant intact after erase + re-merge
        assert (
            spark.read.parquet(f"{path}/bands").count()
            == spark.read.parquet(f"{path}/xs").count() * 4
        )
        # idempotent: erasing again removes nothing
        assert neardup_erase_ids(spark, path, [1]) == 0
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_postings_sink_erasure_rewrites_history(spark, sf_dir):
    """Erasure drops the ids from the live index, from uncompacted
    partials, AND from every retained time-travel snapshot — reads older
    than the erasure also stop serving them."""
    import shutil
    import tempfile

    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators.compaction import (
        compact_postings_sink,
        postings_erase_ids,
        read_postings_sink,
    )
    from projet_etl_a_rien_spark.operators.compaction import (
        write_postings_partial,
    )

    docs = load_table(spark, sf_dir, "documents").limit(60).localCheckpoint()
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    half1 = docs.where(F.col("doc_id").isin(ids[:30]))
    half2 = docs.where(F.col("doc_id").isin(ids[30:55]))
    late = ids[55]  # arrives after the last compaction, stays uncompacted
    ingested = set(ids[:56])
    erase = ids[:3] + ids[50:53]

    path = tempfile.mkdtemp(prefix="posterase_")
    try:
        write_postings_partial(half1, path, 0)
        v0 = compact_postings_sink(spark, path, retain_snapshots=2)
        write_postings_partial(half2, path, v0 + 1)
        v1 = compact_postings_sink(spark, path, retain_snapshots=2)
        # leave one UNCOMPACTED partial too
        write_postings_partial(docs.where(F.col("doc_id") == late), path, v1 + 1)

        removed = postings_erase_ids(spark, path, erase)
        assert removed > 0

        live_ids = {
            r.id for r in read_postings_sink(spark, path).select("id").collect()
        }
        assert live_ids.isdisjoint(set(erase))
        # the late (not erased) doc still present via its uncompacted partial
        assert late in live_ids

        # time travel to BOTH retained snapshots: erased ids gone there too
        for v in (v0, v1):
            old_ids = {
                r.id
                for r in read_postings_sink(spark, path, as_of=v)
                .select("id")
                .collect()
            }
            assert old_ids.isdisjoint(set(erase)), v

        # surviving docs keep their full postings (compare against a
        # fresh batch index over the surviving documents)
        from projet_etl_a_rien_spark.operators.retrieval import doc_postings

        want = doc_postings(
            docs.where(
                F.col("doc_id").isin(list(ingested - set(erase)))
            )
        )
        got = read_postings_sink(spark, path).select(*want.columns)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

        # idempotent
        assert postings_erase_ids(spark, path, erase) == 0
    finally:
        shutil.rmtree(path, ignore_errors=True)


# --------------------------------------------- graph peeling-cap firing


def test_kcore_raises_when_peeling_exceeds_cap(spark):
    """A long path under k=2 peels two endpoints per round (peeling depth
    ~len/2) — with max_iter=2 the cap must FIRE, not silently return a
    partial core."""
    from projet_etl_a_rien_spark.operators.graph import kcore

    path_edges = [(i, i + 1) for i in range(12)]
    e = spark.createDataFrame(path_edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(e, k=2, max_iter=2)
    # the same graph converges (to the empty core) with enough budget
    assert kcore(e, k=2, max_iter=12).count() == 0


def test_ktruss_raises_when_peeling_exceeds_cap(spark):
    """An edge-sharing triangle chain under k=4 peels one triangle per
    round from each end — with max_iter=1 the cap must fire."""
    from projet_etl_a_rien_spark.operators.graph import ktruss

    # triangles (i, i+1, i+2) for i in 0..7 share edges with neighbors:
    # interior edges sit in 2 triangles, the chain ends in 1 — k=4
    # (support >= 2) erodes inward one layer per peel.
    edges = set()
    for i in range(8):
        edges |= {(i, i + 1), (i + 1, i + 2), (i, i + 2)}
    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        ktruss(e, k=4, max_iter=1)
    # converges (to empty — erosion consumes the whole chain) with budget
    assert ktruss(e, k=4, max_iter=10).count() == 0
