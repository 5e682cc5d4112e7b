"""Retrieval / corpus-LM scoring operators for training-data pipelines.

Two relational constructions a large corpus pipeline needs that the
reference's surface implies but never names:

- **BM25 scoring** — rank documents against a fixed query-term set with
  the Okapi BM25 formula computed entirely as join + agg over a term
  statistics table. No inverted-index service, no UDF: df(t) and tf(t,d)
  are one groupBy each, the score is a sum over matched terms. At 100 TB
  the per-term statistics table is vocabulary-sized (tiny next to the
  corpus) and broadcast; the per-(doc, term) tf table is the only
  corpus-scale shuffle and is keyed by term, so AQE handles stopword-like
  skew with skew-join splitting.

- **Unigram log-probability scoring** — the classic KenLM-lite corpus
  quality proxy (CCNet uses a 5-gram LM; the unigram form is the same
  plumbing with a vocabulary-sized model table): score(d) = mean over
  token OCCURRENCES of ln P(token) where P is the corpus unigram MLE.
  Documents whose tokens are globally rare score low — a cheap fluency /
  outlier signal. Model estimation and scoring are each one shuffle.

Both are pure ``pyspark.sql.functions`` lineages (whole-stage codegen,
no Python), mirrored exactly by DuckDB oracles in
``queries_curation.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import widen_input
from .text import tokens


def term_doc_tf(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, token, tf) term frequencies — explode + count, the one
    corpus-scale shuffle both operators below share."""
    return (
        widen_input(df, id_col)
        .select(
            F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("token")
        )
        .groupBy("id", "token")
        .agg(F.count("*").alias("tf"))
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 score of every document containing >= 1 query term.

    score(d) = sum over query terms t in d of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    with the BM25+-style non-negative idf(t) = ln(1 + (N - df + 0.5) /
    (df + 0.5)). Returns (doc_id, n_terms_matched, bm25) — no top-k cut:
    ranking is an ORDER BY away and leaving the cut to the caller keeps
    the result set deterministic under float tie jitter.

    Scale shape: tf table shuffles once on (id, token); df(t) and the
    corpus length stats are vocabulary- and scalar-sized aggregates that
    broadcast onto the query-term-filtered tf rows (a tiny fraction of
    the corpus once the semi-join on ``query_terms`` pushes down).
    """
    q = [t for t in query_terms]
    tf = term_doc_tf(df, text_col, id_col).where(F.col("token").isin(q))
    dl = df.select(
        F.col(id_col).alias("id"), F.size(tokens(text_col)).alias("dl")
    )
    # corpus constants: N docs and mean doc length — a 1-row broadcast
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # df(t) over the query terms only
    dfreq = tf.groupBy("token").agg(F.count("*").alias("dfreq"))
    idf = (
        dfreq.crossJoin(F.broadcast(stats))
        .select(
            "token",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("dfreq") + 0.5)
                / (F.col("dfreq") + 0.5)
            ).alias("idf"),
        )
    )
    per_term = (
        tf.join(F.broadcast(idf), "token")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .select(
            "id",
            # Parity rule (exactmath): the per-term weight is quantized
            # to integer nano-units and summed as BIGINT — a double SUM's
            # low bits depend on accumulation order (and ln() itself can
            # differ cross-engine in the last ulp), an integer sum of
            # pre-rounded terms cannot.
            F.round(
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
                * 1_000_000_000
            )
            .cast("long")
            .alias("w_nano"),
        )
    )
    return per_term.groupBy(F.col("id").alias("doc_id")).agg(
        F.count("*").alias("n_terms_matched"),
        (F.sum("w_nano") / F.lit(1e9)).alias("bm25"),
    )


def unigram_logprob_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mean unigram log-probability per document (corpus-MLE model).

    P(t) = corpus occurrences of t / total corpus tokens; score(d) =
    (1/|d|) * sum over token occurrences of ln P(t). Every scored token
    is by construction in the model (the model IS the corpus), so no
    smoothing term is needed and the score is exact MLE.

    Two shuffles total: the (token → count) model build and the
    (id, token) re-join of doc tokens against the model. The model table
    is vocabulary-sized, which GROWS with the corpus (Heaps' law) — the
    re-join carries no broadcast hint: AQE broadcasts the model when it
    fits and uses a token-keyed shuffle join when it doesn't (forcing
    the hint would OOM at web-corpus vocabulary sizes).
    """
    occ = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("token")
    )
    model = occ.groupBy("token").agg(F.count("*").alias("cnt"))
    total = model.agg(F.sum("cnt").alias("total"))
    # Parity rule (exactmath): per-token logprobs are quantized to integer
    # nano-units at the VOCAB level (one rounding per distinct token, not
    # per occurrence) and summed as BIGINT — the mean is then exact-int /
    # exact-int / 1e9, bitwise deterministic; AVG over raw doubles is
    # accumulation-order-dependent and ln() can differ cross-engine in
    # the last ulp.
    lp = (
        model.crossJoin(F.broadcast(total))
        .select(
            "token",
            F.round(F.log(F.col("cnt") / F.col("total")) * 1_000_000_000)
            .cast("long")
            .alias("lp_nano"),
        )
    )
    return (
        occ.join(lp, "token")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_tokens"),
            (F.sum("lp_nano") / F.count("*") / F.lit(1e9)).alias(
                "mean_logprob"
            ),
        )
    )


def bigram_logprob_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mean bigram log-probability per document (corpus-MLE model) — the
    order-sensitive upgrade of :func:`unigram_logprob_scores`: shuffled
    or templated token soup that fools a unigram model scores poorly
    here, because P(t2|t1) = corpus count of the bigram "t1 t2" over the
    corpus count of t1. Every scored bigram is in the model by
    construction (the model IS the corpus), so no smoothing is needed;
    documents with fewer than two tokens have no bigrams and are absent.

    Plan shape: one explode for the bigram occurrences (built by a
    ``_bind_once``-bound HOF over the token array — CollapseProject
    cannot re-inline the split per element), a bigram-model groupBy, a
    unigram-model groupBy joined at the VOCAB level (one ln+rounding per
    distinct bigram, integer-nano grid — the exactmath parity rule), and
    the occurrence re-join. Model tables grow with the corpus, so no
    broadcast hints — AQE decides (cf. unigram_logprob_scores).
    """
    from .dedup import _bind_once

    df = widen_input(df, id_col)
    # pairs travel as struct<t1,t2>, never a separator-joined string —
    # a token may legally contain ANY character, so no separator is safe
    bigram_arr = _bind_once(
        tokens(text_col),
        lambda ts: F.transform(
            F.sequence(F.lit(1), F.size(ts) - 1),
            lambda i: F.struct(
                F.element_at(ts, i).alias("t1"),
                F.element_at(ts, i + 1).alias("t2"),
            ),
        ),
    )
    occ = (
        df.where(F.size(tokens(text_col)) >= 2)
        .select(F.col(id_col).alias("id"), F.explode(bigram_arr).alias("bigram"))
    )
    uni = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt_u"))
    )
    bmodel = occ.groupBy("bigram").agg(F.count("*").alias("cnt_b"))
    lp = (
        bmodel.withColumn("token", F.col("bigram.t1"))
        .join(uni, "token")
        .select(
            "bigram",
            F.round(F.log(F.col("cnt_b") / F.col("cnt_u")) * 1_000_000_000)
            .cast("long")
            .alias("lp_nano"),
        )
    )
    return (
        occ.join(lp, "bigram")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.sum("lp_nano") / F.count("*") / F.lit(1e9)).alias(
                "mean_logprob"
            ),
        )
    )


def hashed_bigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bigram_buckets: int = 4096,
    n_unigram_buckets: int = 1024,
) -> DataFrame:
    """Mean bigram log-probability per document under a HASHED bucket
    model — the bounded-model variant of :func:`bigram_logprob_scores`.

    The exact bigram model's stat table grows with corpus vocabulary²
    (measured 3.6× at 10× rows on the derived scale corpus); hashing
    bigrams into ``n_bigram_buckets`` and context unigrams into
    ``n_unigram_buckets`` (the DSIR trick — selection._feature_bucket's
    portable md5 idiom over 't1<US>t2') caps BOTH model tables at a
    CONSTANT size regardless of corpus scale: P(t2|t1) ≈ cnt_bb[h(t1,
    t2)] / cnt_ub[h(t1)]. Hash collisions perturb the estimate (strictly
    identically on both engines), exactly as in DSIR/feature-hashing
    LMs — the score stays a corpus-calibrated fluency signal while the
    model becomes broadcastable at 100 TB.

    Parity: ln is quantized to the nano grid ONCE PER BUCKET in each
    table (lnb_nano, lnu_nano); a bigram occurrence's logprob is their
    integer difference, per-doc sums stay BIGINT, one final /1e9.

    Plan shape: one bigram explode, two FIXED-size bucket groupBys
    (legitimately force-broadcast — they are O(n_buckets), not
    vocabulary-sized), map-side joins, one per-doc fold. No
    vocabulary-scale join anywhere.
    """
    from .dedup import _bind_once
    from .selection import _feature_bucket

    df = widen_input(df, id_col)
    US = "\x1f"  # hash-input delimiter only: collisions just move buckets
    bigram_arr = _bind_once(
        tokens(text_col),
        lambda ts: F.transform(
            F.sequence(F.lit(1), F.size(ts) - 1),
            lambda i: F.struct(
                F.element_at(ts, i).alias("t1"),
                F.element_at(ts, i + 1).alias("t2"),
            ),
        ),
    )
    occ = (
        df.where(F.size(tokens(text_col)) >= 2)
        .select(F.col(id_col).alias("id"), F.explode(bigram_arr).alias("bg"))
        .select(
            "id",
            _feature_bucket(
                F.concat_ws(US, F.col("bg.t1"), F.col("bg.t2")),
                n_bigram_buckets,
            ).alias("bb"),
            _feature_bucket(F.col("bg.t1"), n_unigram_buckets).alias("ub"),
        )
    )
    bb = occ.groupBy("bb").agg(
        F.round(F.log(F.count("*")) * 1_000_000_000)
        .cast("long")
        .alias("lnb_nano")
    )
    ub = occ.groupBy("ub").agg(
        F.round(F.log(F.count("*")) * 1_000_000_000)
        .cast("long")
        .alias("lnu_nano")
    )
    return (
        occ.join(F.broadcast(bb), "bb")
        .join(F.broadcast(ub), "ub")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                F.sum(F.col("lnb_nano") - F.col("lnu_nano"))
                / F.count("*")
                / F.lit(1e9)
            ).alias("mean_logprob"),
        )
    )


def inverted_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Positional inverted-index postings: one row per (token, doc)
    with term frequency, first/last occurrence position (1-based), the
    token's document frequency / corpus frequency, and a smoothed idf.

    The relational form of the search-engine index build (the reference
    surface has TF-IDF ranking, ``tfidf_top_terms``; this materializes
    the index itself — the artifact a retrieval system ships):

    - ``posexplode`` over the token array → (id, pos, token);
    - postings = groupBy (token, id): tf + min/max position — the one
      corpus-scale shuffle, keyed by (token, id) so hot tokens spread
      over their documents instead of piling on one reducer (grouping
      by token alone would put every posting of a stopword in one
      partition);
    - token stats (df, cf) = second agg over the postings (vocab-sized
      output); idf = ln((N+1)/(df+1)) rounded to integer nanos at the
      VOCAB level (exactmath parity rule), attached by a token join the
      optimizer is free to broadcast (vocabulary-sized, no forced hint
      — Heaps' law growth, cf. unigram_logprob_scores).

    At 100 TB the output IS the big table (≈ one row per distinct
    (token, doc)) — it streams out of the final join without any
    driver materialization.
    """
    postings = doc_postings(df, text_col, id_col)
    return postings_with_stats(postings)


def doc_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Raw positional postings (token, id, tf, first_pos, last_pos) —
    the per-document half of the index build. Postings for distinct
    documents are DISJOINT rows, which is what makes the index
    incrementally maintainable: a new batch of documents contributes new
    posting rows and touches nothing existing (see
    ``streaming.windows.run_incremental_postings_sink``)."""
    df = widen_input(df, id_col)
    occ = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "token"),
    )
    # Force the aggregation exchange onto (token, id): ClusteredDistribution
    # is satisfied by any SUBSET partitioning, so without the explicit
    # repartition Catalyst picks token-only partitioning to reuse the
    # exchange for the downstream stats join — sending EVERY posting of a
    # stopword to one reducer (no map-side collapse across doc ids). With
    # (token, id) keying the agg spreads hub tokens over their documents;
    # the later token-keyed join exchange is skew-safe separately (partial
    # aggregation collapses stats map-side, AQE skew-splits the SMJ).
    return occ.repartition(F.col("token"), F.col("id")).groupBy(
        "token", "id"
    ).agg(
        F.count("*").alias("tf"),
        (F.min("pos") + 1).cast("long").alias("first_pos"),
        (F.max("pos") + 1).cast("long").alias("last_pos"),
        # full 1-based position list, sorted — what makes the index
        # POSITIONAL (phrase/proximity queries); capped by per-doc token
        # count, so no array outgrows a document
        F.array_sort(
            F.collect_list((F.col("pos") + 1).cast("long"))
        ).alias("positions"),
    )


def postings_token_stats(postings: DataFrame) -> DataFrame:
    """Vocab-sized per-token statistics of a postings table: ``(token,
    df_docs, cf, n_docs)``. ``n_docs`` is repeated per row — a constant
    column that parquet RLE-compresses to nothing — so the table is
    self-contained when persisted into a compacted index snapshot
    (``compaction.compact_postings_sink``). Because documents arrive
    exactly once and postings of distinct documents are disjoint rows,
    df_docs/cf/n_docs are ADDITIVE across batches — stored snapshot
    stats merge with incremental partial stats by plain summation."""
    stats = postings.groupBy("token").agg(
        F.count("*").alias("df_docs"), F.sum("tf").alias("cf")
    )
    n_docs = postings.agg(F.countDistinct("id").alias("n_docs"))
    return stats.crossJoin(F.broadcast(n_docs))


def attach_token_stats(postings: DataFrame, stats: DataFrame) -> DataFrame:
    """Join a postings table with precomputed ``(token, df_docs, cf,
    n_docs)`` statistics, deriving the smoothed nano-rounded idf —
    shared by the derive-at-read path (:func:`postings_with_stats`) and
    the stored-stats serve path
    (``compaction.read_postings_sink_with_stats``), so both are
    bit-identical by construction."""
    stats = stats.select(
        "token",
        "df_docs",
        "cf",
        (
            F.round(
                F.log((F.col("n_docs") + 1) / (F.col("df_docs") + 1))
                * 1_000_000_000
            ).cast("long")
            / F.lit(1e9)
        ).alias("idf"),
    )
    return postings.join(stats, "token").select(
        "token",
        F.col("id").alias("doc_id"),
        "tf",
        "first_pos",
        "last_pos",
        "df_docs",
        "cf",
        "idf",
    )


def postings_doc_lengths(postings: DataFrame) -> DataFrame:
    """Per-document token counts ``(id, dl)`` from a postings table
    (every token occurrence owns exactly one posting slot, so dl is the
    per-doc sum of tf). Doc-count-sized; additive across disjoint
    document batches — what compaction materializes under ``dlen/v=N``
    so BM25 serves never re-scan the index for lengths."""
    return postings.groupBy("id").agg(
        F.sum("tf").cast("long").alias("dl")
    )


def postings_with_stats(postings: DataFrame) -> DataFrame:
    """Attach corpus-level token statistics (df, cf, smoothed idf) to a
    postings table, deriving them from the postings themselves
    (``n_docs`` works because every document owns >= 1 posting — a
    whitespace split never returns an empty array), so the same fold
    works on a freshly-built index and on one reassembled from
    incremental sink batches. For a COMPACTED sink prefer
    ``compaction.read_postings_sink_with_stats``, which serves the
    stats stored at compaction time instead of re-aggregating the full
    postings on every read."""
    return attach_token_stats(postings, postings_token_stats(postings))


def phrase_search_postings(
    postings: DataFrame, phrase: list[str]
) -> DataFrame:
    """Exact phrase query served FROM a positional postings table (the
    output of :func:`doc_postings`, fresh or reassembled from the
    incremental sink) — no access to document text: explode each phrase
    token's position lists and chain (id, pos + offset) equi-joins,
    identical semantics to :func:`phrase_search` (equality pinned by
    oracle + tests). The index-serves-queries half of the ingest loop.
    """
    if len(phrase) < 1:
        raise ValueError("phrase must have at least one token")
    occ = postings.where(F.col("token").isin(phrase)).select(
        "id", "token", F.explode("positions").alias("pos")
    )
    matched = occ.where(F.col("token") == phrase[0]).select("id", "pos")
    for i, tok in enumerate(phrase[1:], start=1):
        nxt = (
            occ.where(F.col("token") == tok)
            .select("id", (F.col("pos") - i).alias("pos"))
        )
        matched = matched.join(nxt, ["id", "pos"])
    return matched.groupBy(F.col("id").alias("doc_id")).agg(
        F.count("*").alias("n_matches"),
        F.min("pos").cast("long").alias("first_pos"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Top-k collocations (adjacent token pairs) by pointwise mutual
    information: pmi(x,y) = ln( (c_xy/N_b) / ((c_x/N_u)(c_y/N_u)) ) with
    N_b total bigram occurrences and N_u total token occurrences —
    phrases whose parts co-occur far above chance ("New York"-finder;
    Church & Hanks 1990). ``min_count`` suppresses the classic PMI
    rare-pair artifact (a hapax pair of two hapax words maxes the score).

    Plan: bigram + unigram model groupBys (both vocab-sized outputs),
    two unigram joins onto the bigram model, scalar totals broadcast,
    pmi rounded to integer nanos per distinct pair (exactmath rule),
    then a global top-k that compiles to TakeOrderedAndProject (per-
    partition heaps + driver merge of k rows, never a full sort).
    Deterministic tie-break: (pmi desc, t1, t2).
    """
    from .dedup import _bind_once

    df = widen_input(df)
    # pairs travel as struct<t1,t2>, never a separator-joined string —
    # a token may legally contain ANY character, so no separator is safe
    bigram_arr = _bind_once(
        tokens(text_col),
        lambda ts: F.transform(
            F.sequence(F.lit(1), F.size(ts) - 1),
            lambda i: F.struct(
                F.element_at(ts, i).alias("t1"),
                F.element_at(ts, i + 1).alias("t2"),
            ),
        ),
    )
    bi = (
        df.where(F.size(tokens(text_col)) >= 2)
        .select(F.explode(bigram_arr).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("c_xy"))
        .where(F.col("c_xy") >= min_count)
        .select(
            F.col("bigram.t1").alias("t1"),
            F.col("bigram.t2").alias("t2"),
            "c_xy",
        )
    )
    uni = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c_t"))
    )
    totals = (
        df.select(
            F.size(tokens(text_col)).cast("long").alias("nu"),
            F.greatest(
                F.size(tokens(text_col)).cast("long") - 1, F.lit(0).cast("long")
            ).alias("nb"),
        )
        .agg(F.sum("nu").alias("n_uni"), F.sum("nb").alias("n_bi"))
    )
    scored = (
        bi.join(uni.withColumnRenamed("token", "t1").withColumnRenamed("c_t", "c_x"), "t1")
        .join(uni.withColumnRenamed("token", "t2").withColumnRenamed("c_t", "c_y"), "t2")
        .crossJoin(F.broadcast(totals))
        .select(
            "t1",
            "t2",
            "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy") / F.col("n_bi"))
                    / ((F.col("c_x") / F.col("n_uni")) * (F.col("c_y") / F.col("n_uni")))
                )
                * 1_000_000_000
            )
            .cast("long")
            .alias("pmi_nano"),
        )
    )
    return (
        scored.orderBy(F.desc("pmi_nano"), "t1", "t2")
        .limit(top_k)
        .select("t1", "t2", "c_xy", (F.col("pmi_nano") / F.lit(1e9)).alias("pmi"))
    )


def phrase_search(
    df: DataFrame,
    phrase: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase query — the workload a POSITIONAL index exists for
    (document-level postings can only say "both words occur somewhere";
    adjacency needs positions). Returns (doc_id, n_matches, first_pos)
    for documents containing the phrase's tokens at consecutive
    positions, with occurrence counts and the 1-based position of the
    first match.

    Plan: one posexplode filtered to the phrase's tokens — the filter
    prunes the exploded stream to phrase-term postings only, a tiny
    fraction of the corpus — then a chain of equi-joins on
    (id, pos + offset), each co-partitioned on the id. Candidate volume
    after the first join is bounded by the rarer token's posting list,
    exactly how a positional inverted index serves phrases; no
    substring scan of full documents ever happens.
    """
    if len(phrase) < 1:
        raise ValueError("phrase must have at least one token")
    occ = widen_input(df, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "token"),
    ).where(F.col("token").isin(phrase))
    first = occ.where(F.col("token") == phrase[0]).select("id", "pos")
    matched = first
    for i, tok in enumerate(phrase[1:], start=1):
        nxt = (
            occ.where(F.col("token") == tok)
            .select("id", (F.col("pos") - i).alias("pos"))
        )
        matched = matched.join(nxt, ["id", "pos"])
    return matched.groupBy(F.col("id").alias("doc_id")).agg(
        F.count("*").alias("n_matches"),
        (F.min("pos") + 1).cast("long").alias("first_pos"),
    )


def conjunctive_bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k search: documents containing ALL query terms (conjunctive /
    AND semantics — the default retrieval mode), ranked by BM25. The
    missing half of ``bm25_scores``, which scores any-term matches
    without selecting.

    The conjunctive filter is a HAVING over matched-term count (the
    per-(doc, term) tf table already exists for scoring — distinct
    terms per doc == len(query) means all present), so selection adds
    no extra corpus pass; the top-k compiles to TakeOrderedAndProject
    (per-partition heaps, driver merges k rows). Deterministic
    tie-break (score desc, doc_id asc).
    """
    scored = bm25_scores(df, query_terms, text_col, id_col)
    return (
        scored.where(F.col("n_terms_matched") == len(set(query_terms)))
        .withColumn("bm25_nano", F.round(F.col("bm25") * 1e9).cast("long"))
        .orderBy(F.desc("bm25_nano"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "n_terms_matched", "bm25")
    )


def bm25_from_postings(
    postings: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 scoring served FROM a positional postings table —
    no document text: tf comes from the matching postings, document
    length is the per-doc sum of tf over ALL postings (every token
    occurrence owns exactly one posting slot), df and the corpus
    constants from the same table. Bit-identical to
    :func:`bm25_scores` over the source corpus (pinned by test), so an
    incrementally-maintained index (``run_incremental_postings_sink``)
    gives incrementally-correct ranking for free.

    Scale shape mirrors ``bm25_scores``: the only corpus-scale pass is
    the doc-length aggregate (keyed on the doc id — fine-grained, no
    hub); the term-filtered tf rows are query-sized.
    """
    q = [t for t in query_terms]
    tf = postings.where(F.col("token").isin(q)).select("id", "token", "tf")
    dl = postings.groupBy("id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("dfreq"))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "token",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5)
        ).alias("idf"),
    )
    per_term = (
        tf.join(F.broadcast(idf), "token")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .select(
            "id",
            F.round(
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
                * 1_000_000_000
            )
            .cast("long")
            .alias("w_nano"),
        )
    )
    return per_term.groupBy(F.col("id").alias("doc_id")).agg(
        F.count("*").alias("n_terms_matched"),
        (F.sum("w_nano") / F.lit(1e9)).alias("bm25"),
    )
