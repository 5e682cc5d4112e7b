"""Data-selection operators: DSIR importance weighting.

DSIR (Data Selection via Importance Resampling; Xie et al., NeurIPS
2023) scores every raw-corpus document by how target-like it is under
two bag-of-hashed-ngrams language models: log w(d) = Σ_features
n_f(d) · (log p_target(f) − log p_raw(f)). Documents are then sampled
proportionally to w — the standard recipe for tilting a 100 TB crawl
toward a high-quality target corpus (Wikipedia/books) without training
a classifier.

Spark shape (everything pyspark.sql.functions, whole-stage codegen):

- features are hashed unigrams — md5-prefix int64 mod ``n_buckets``
  (the same portable hash idiom as the MinHash family, so the DuckDB
  oracle reproduces it bit-for-bit);
- the two feature distributions are ``n_buckets``-row aggregates
  (one corpus-scale explode+groupBy each — the target side prunes its
  scan with the membership predicate first);
- their add-one-smoothed log-likelihood-ratio table is rounded to
  integer nanos per BUCKET (exactmath vocab-level quantization), then
  broadcast — it is n_buckets rows by construction, the one table here
  that is genuinely O(1) in corpus size (unlike vocabulary tables,
  which grow by Heaps' law and must never carry a forced broadcast);
- per-doc weights are one more groupBy: Σ n_b(d)·llr_nano(b) as exact
  BIGINT, divided back to a double at the end.

Two corpus-scale shuffles total (feature histogram, per-doc fold); the
score join is map-side against the broadcast LLR table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog import widen_input
from .text import tokens


def _feature_bucket(token: Column, n_buckets: int) -> Column:
    """Portable hashed-feature id: first 8 md5 hex chars → int64 → mod
    buckets. Matches DuckDB ``CAST('0x' || substr(md5(t),1,8) AS
    BIGINT) % n`` exactly."""
    return (
        F.conv(F.substring(F.md5(token), 1, 8), 16, 10).cast("bigint")
        % n_buckets
    )


def dsir_llr_table(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """The fitted DSIR model: (b, llr_nano) add-one-smoothed target-vs-
    raw log-likelihood ratios per hashed-unigram bucket — ``n_buckets``
    rows by construction. Factored out so a STREAMING scorer can fit on
    the batch corpus and apply in the ingest path (stream-static join),
    exactly how DSIR deploys: the model is frozen, the stream is scored.

    The model is DENSE: all ``n_buckets`` rows are emitted, including
    buckets never observed at fit time (their counts are 0, so add-one
    smoothing still defines a finite LLR). A streamed token hashing to
    an unseen bucket therefore scores with the smoothed prior instead
    of silently vanishing from the doc's n_tokens/logweight — the
    fit-once / gate-the-firehose deployment must be total over the
    feature space, not over the fit sample. Densifying changes nothing
    for observed buckets (added rows are zero-count, so the totals are
    already the corpus totals).
    """
    occ = widen_input(df).select(
        target_pred.alias("is_target"),
        F.explode(tokens(text_col)).alias("token"),
    ).select("is_target", _feature_bucket(F.col("token"), n_buckets).alias("b"))
    hist = occ.groupBy("b").agg(
        F.count("*").alias("cnt_raw"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("cnt_tgt"),
    )
    all_b = df.sparkSession.range(n_buckets).select(F.col("id").alias("b"))
    hist = all_b.join(hist, "b", "left").select(
        "b",
        F.coalesce(F.col("cnt_raw"), F.lit(0)).alias("cnt_raw"),
        F.coalesce(F.col("cnt_tgt"), F.lit(0)).alias("cnt_tgt"),
    )
    totals = hist.agg(
        F.sum("cnt_raw").alias("tot_raw"), F.sum("cnt_tgt").alias("tot_tgt")
    )
    return hist.crossJoin(F.broadcast(totals)).select(
        "b",
        F.round(
            (
                F.log(
                    (F.col("cnt_tgt") + 1) / (F.col("tot_tgt") + F.lit(n_buckets))
                )
                - F.log(
                    (F.col("cnt_raw") + 1) / (F.col("tot_raw") + F.lit(n_buckets))
                )
            )
            * 1_000_000_000
        )
        .cast("long")
        .alias("llr_nano"),
    )


def dsir_score_stream(
    doc_stream: DataFrame,
    llr: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Score a DOCUMENT STREAM against a frozen LLR model: per-token
    bucket → stream-static broadcast join onto the model → ONE stateful
    per-doc aggregation (summing llr_nano per occurrence is integer-
    identical to the batch per-bucket fold — Σ_tokens llr ==
    Σ_buckets n_b·llr). Returns the streaming DataFrame (doc_id,
    n_tokens, lw_nano, logweight) — ``lw_nano`` is the EXACT BIGINT
    nano sum (consume it for integer-exact thresholds instead of
    reconstructing from the double, which loses bits past ~2^52); run
    it bounded and filter for the gate."""
    occ = doc_stream.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(text_col)).alias("token"),
    ).select("id", _feature_bucket(F.col("token"), n_buckets).alias("b"))
    return (
        occ.join(F.broadcast(llr), "b")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("llr_nano").alias("lw_nano"),
        )
        .withColumn("logweight", F.col("lw_nano") / F.lit(1e9))
    )


def dsir_logweights(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    with_nano: bool = False,
) -> DataFrame:
    """Per-document DSIR log importance weight against the target slice.

    ``target_pred`` selects the target distribution's documents from
    ``df`` itself (e.g. ``F.col("source") == "src0"``) — the common
    in-corpus setup where a trusted slice defines "good". Returns
    (doc_id, n_tokens, logweight) for EVERY document, target rows
    included (their weights are typically high — a useful sanity
    signal, and the resampling step downstream decides what to keep).

    Smoothing: p(b) = (cnt(b) + 1) / (total + n_buckets) on both sides,
    so empty buckets are defined and the LLR is finite everywhere.
    """
    occ = widen_input(df, id_col).select(
        F.col(id_col).alias("id"),
        target_pred.alias("is_target"),
        F.explode(tokens(text_col)).alias("token"),
    ).select("id", "is_target", _feature_bucket(F.col("token"), n_buckets).alias("b"))

    hist = occ.groupBy("b").agg(
        F.count("*").alias("cnt_raw"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("cnt_tgt"),
    )
    totals = hist.agg(
        F.sum("cnt_raw").alias("tot_raw"), F.sum("cnt_tgt").alias("tot_tgt")
    )
    # n_buckets rows — the one legitimately-broadcast model table here.
    llr = (
        hist.crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.round(
                (
                    F.log(
                        (F.col("cnt_tgt") + 1)
                        / (F.col("tot_tgt") + F.lit(n_buckets))
                    )
                    - F.log(
                        (F.col("cnt_raw") + 1)
                        / (F.col("tot_raw") + F.lit(n_buckets))
                    )
                )
                * 1_000_000_000
            )
            .cast("long")
            .alias("llr_nano"),
        )
    )
    per_doc_bucket = occ.groupBy("id", "b").agg(F.count("*").alias("n_b"))
    out = (
        per_doc_bucket.join(F.broadcast(llr), "b")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.sum("n_b").alias("n_tokens"),
            F.sum(F.col("n_b") * F.col("llr_nano")).alias("lw_nano"),
        )
        .withColumn("logweight", F.col("lw_nano") / F.lit(1e9))
    )
    if with_nano:
        # lw_nano is the EXACT BIGINT nano sum — downstream integer
        # comparisons (budget selection, gates) must consume it instead
        # of round(logweight * 1e9), which only roundtrips |x| < ~2^52.
        return out.select("doc_id", "n_tokens", "lw_nano", "logweight")
    return out.select("doc_id", "n_tokens", "logweight")


def dsir_token_budget_selection(
    df: DataFrame,
    target_pred: Column,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    quality_buckets: int = 1000,
) -> DataFrame:
    """DSIR-ranked greedy selection under a total token budget: keep the
    most target-like documents first until the budget is spent — the
    composition a real curation run executes (importance weighting says
    WHAT is good; the budget selector takes the best N tokens).

    Spec (what the DuckDB oracle runs): cumulative token prefix sum over
    the total order (logweight DESC, id ASC); keep docs whose preceding
    tokens are under ``budget``. A literal window over that order is a
    single-reducer global sort at 100 TB, so the prefix sum decomposes
    over AFFINE nano-weight buckets exactly like
    ``text.token_budget_selection``'s quality buckets:

        qb = (lw_nano - lo) * quality_buckets // (hi - lo + 1)

    with (lo, hi) the global min/max nano-weight (a 2-value broadcast
    aggregate). The bucketing is integer and MONOTONE in the weight, so
    (qb DESC, lw_nano DESC, id) is exactly the spec order; bucket
    totals are a quality_buckets-row broadcast and the within-bucket
    window never holds more than one bucket's docs.

    Returns (doc_id, n_tokens, logweight, tokens_before), selected only.
    """
    from pyspark.sql.window import Window

    scored = dsir_logweights(
        df, target_pred, text_col, id_col, n_buckets, with_nano=True
    ).select("doc_id", "n_tokens", "lw_nano")
    rng = scored.agg(
        F.min("lw_nano").alias("lo"), F.max("lw_nano").alias("hi")
    )
    # integer `div`, not double `/`: (lw-lo)*buckets can exceed 2^53,
    # where double division mis-buckets boundary values cross-engine
    d = scored.crossJoin(F.broadcast(rng)).select(
        "doc_id",
        "n_tokens",
        "lw_nano",
        F.expr(
            f"((lw_nano - lo) * {quality_buckets}) div (hi - lo + 1)"
        ).alias("qb"),
    )
    per_bucket = d.groupBy("qb").agg(F.sum("n_tokens").alias("bucket_tokens"))
    wb = Window.orderBy(F.desc("qb")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per_bucket.select(
        "qb",
        F.coalesce(F.sum("bucket_tokens").over(wb), F.lit(0)).alias(
            "bucket_tokens_before"
        ),
    )
    wd = (
        Window.partitionBy("qb")
        .orderBy(F.desc("lw_nano"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(F.broadcast(cum), "qb")
        .withColumn(
            "tokens_before",
            F.col("bucket_tokens_before")
            + F.coalesce(F.sum("n_tokens").over(wd), F.lit(0)),
        )
        .where(F.col("tokens_before") < budget)
        .select(
            "doc_id",
            "n_tokens",
            (F.col("lw_nano") / F.lit(1e9)).alias("logweight"),
            "tokens_before",
        )
    )
