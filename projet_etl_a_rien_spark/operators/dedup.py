"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

The dedup family a training-data pipeline needs, each expressed as a
declarative DataFrame lineage (no Python in the hot path):

- **exact**: md5-fingerprint groupBy — one shuffle on the fingerprint,
  scales to any size.
- **MinHash + LSH banding**: the 100 TB near-dup path. Signatures are
  per-row array math (k independent min-hashes over the shingle set);
  banding turns O(n²) pair comparison into equality joins on
  (band, bucket) — only same-bucket candidates are verified with true
  Jaccard. Hashes are md5 *hex strings* compared lexicographically:
  deterministic, seedable, and identically computable by any engine
  (the DuckDB oracle runs the same construction), unlike engine-private
  xxhash64.
- **n-gram Jaccard (exact, blocked)**: inverted-index self-join within a
  blocking key — the exact baseline LSH approximates; quadratic within a
  block, so blocks must be bounded (here: ``source``).
- **SimHash**: 64-bit bitwise fingerprint via per-token hash sign sums;
  Hamming-adjacent docs are near-dups.

Cache contract (minhash/simhash): the expensive per-doc representation
(hashed shingle set / fingerprint) is ``persist``ed because it feeds both
the band index and the verify join of one returned lineage. The returned
DataFrame is lazy, so the operator has no action to unpersist after —
CALLERS own cleanup: run your action, then ``spark.catalog.clearCache()``
(bench.py and the oracle sweeps do this between queries).

At 100 TB: minhash shuffle volume is (docs × bands) rows of (bucket,
doc_id) — independent of document length; skewed buckets (boilerplate
shingles) are handled because verification re-filters by true Jaccard,
so a hot bucket only costs time, never correctness. AQE skew-join
splitting covers the join itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .compaction import compact_sink, fold_inputs, write_partial
from .text import fingerprint, tokens


# ---------------------------------------------------------------- exact ----


def exact_dup_clusters(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Fingerprint clusters with >1 member: (fingerprint, n_docs, keeper_id)."""
    return (
        df.groupBy(fingerprint(text_col).alias("fingerprint"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .where(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id document per fingerprint (deterministic keeper)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(fingerprint(text_col)).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# -------------------------------------------------------------- shingles ----


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a space-tokenized text column.

    Guarded for texts shorter than n tokens (→ empty array): Spark's
    ``sequence(0, negative)`` would otherwise count *down*.
    """
    toks = tokens(col)
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


# Mersenne prime 2^31-1: base hashes and permutation params live in
# [0, P), so a*x + b < 2^62 never overflows signed 64-bit on either
# engine — the classic universal-hash family (a*x + b) mod p.
MINHASH_P = 2_147_483_647


def minhash_params(k: int, seed: int = 0x5EED) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) permutation constants, a_j != 0. Baked as
    literals into both the Spark plan and the generated oracle SQL, so
    cross-engine parity is by construction."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, MINHASH_P), rnd.randrange(0, MINHASH_P))
        for _ in range(k)
    ]


def shingle_hashes(col: Column | str) -> Column:
    """One 32-bit base hash per shingle: first 8 md5 hex chars → bigint,
    reduced mod MINHASH_P. The ONE cryptographic hash per shingle — the k
    minhash permutations are multiply-adds over this array, not k more
    md5 passes (16× less hashing than the naive per-seed-md5 form)."""
    sh = col if isinstance(col, Column) else F.col(col)
    return F.transform(
        sh,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")
        % MINHASH_P,
    )


# Polynomial base for combining word hashes into a shingle hash. B < 2^15
# keeps every intermediate under 2^46 ((P-1)*B + P), far inside signed
# 64-bit, on both engines.
SHINGLE_B = 31337


def word_hashes(toks: Column) -> Column:
    """One md5-derived 31-bit hash per TOKEN (not per shingle): each word
    is hashed once however many shingles it appears in."""
    return F.transform(
        toks,
        lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("bigint")
        % MINHASH_P,
    )


def _bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` exactly once per row and pass it to ``fn`` as a
    lambda-bound variable.

    Catalyst's CollapseProject will inline a projected alias into every
    one of its references when merging adjacent projections — for an
    expensive array expression referenced inside a higher-order lambda
    that turns O(n) work into O(n²) (measured: the word-hash array
    inlined into per-shingle ``element_at`` accesses made minhash 15×
    slower — the array was re-computed per element). A HOF lambda
    variable, by contrast, is a bound slot the optimizer cannot inline
    through: ``transform(array(expr), x -> body)[1]`` evaluates expr
    once and every reference in ``body`` reads the binding. The
    single-element array wrapper costs one allocation per row.
    """
    return F.element_at(F.transform(F.array(expr), fn), 1)


def hashed_shingles_from_word_hashes(wh: Column, n: int = 3) -> Column:
    """Distinct shingle-hash set from a word-hash array: shingle i =
    polynomial combination of the n word hashes starting at i (Horner
    steps, mod P between multiplies).

    This replaces the string pipeline (concat_ws per shingle → md5 per
    shingle → string array_distinct) with pure int64 algebra over an
    array computed once per row — each word is md5-hashed once instead of
    n times, and no shingle strings are ever allocated. ``wh`` MUST be
    evaluated once per row — pass a lambda-bound variable via
    ``_bind_once``, NOT a projected alias (CollapseProject inlines
    aliases into each reference; see ``_bind_once``).

    Collision note: distinct-on-hash equals distinct-on-shingle up to
    ~|shingles|/2^31 collision probability, same bound the md5-prefix
    construction already accepts; the DuckDB oracles replay this exact
    arithmetic so cross-engine parity is by construction.
    """
    return F.when(
        F.size(wh) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(wh) - n),
                lambda i: _poly_combine(wh, i, n),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def hashed_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct shingle-hash set of a text column, single expression:
    one md5 per word (evaluated once via ``_bind_once``), then int64
    polynomial shingle combination."""
    return _bind_once(
        word_hashes(tokens(col)),
        lambda wh: hashed_shingles_from_word_hashes(wh, n),
    )


def _poly_combine(wh: Column, i: Column, n: int) -> Column:
    """Horner fold of wh[i+1..i+n] (1-based element_at), mod P each step."""
    acc = F.element_at(wh, (i + 1).cast("int"))
    for j in range(1, n):
        acc = (acc * SHINGLE_B + F.element_at(wh, (i + 1 + j).cast("int"))) % MINHASH_P
    return acc


def minhash_signature(col: Column | str, k: int = 16) -> Column:
    """k-element MinHash signature over a pre-hashed int array (see
    ``shingle_hashes``): element j = min over shingles of
    (a_j*x + b_j) mod p. All-integer column algebra, engine-portable.

    Single ``aggregate`` fold, not k separate ``array_min(transform(...))``
    passes: the accumulator is the k-vector of running minima and each
    shingle updates all k lanes via one ``transform`` over the constant
    a/b arrays. Same arithmetic, but one traversal of the shingle array
    and a k×-smaller codegen tree — measured 5.7 s → 2.4 s cold at sf0.1
    (the k-pass form spends most of that compiling 16 generated loops).
    """
    xs = col if isinstance(col, Column) else F.col(col)
    params = minhash_params(k)
    a_arr = F.array(*[F.lit(a) for a, _ in params])
    b_arr = F.array(*[F.lit(b) for _, b in params])
    init = F.array_repeat(F.lit(MINHASH_P).cast("long"), k)

    def fold(acc: Column, x: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.lit(k)),
            lambda j: F.least(
                F.element_at(acc, j.cast("int")),
                (
                    x * F.element_at(a_arr, j.cast("int"))
                    + F.element_at(b_arr, j.cast("int"))
                )
                % MINHASH_P,
            ),
        )

    return F.aggregate(xs, init, fold)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)



def band_rows(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """LSH band rows (id, band, bucket) from (id, sig): bucket = md5 of
    the band's signature slice. Narrow by construction — band rows never
    carry signatures, shingle sets, or text, so the band-equality join
    shuffles O(docs × bands) small rows regardless of document length."""
    rows = k // bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col("sig")[b * rows + r].cast("string")
                                    for r in range(rows)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def lsh_candidates(
    banded: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from LSH band rows
    (id, band, bucket): the banded self-equi-join every near-dup family
    member shares.

    ``max_bucket_size`` is the hot-bucket guard (r3 VERDICT #7):
    boilerplate shingles (license headers, templated pages) can funnel
    thousands of ids into one (band, bucket), whose candidate volume is
    |bucket|² — one hot bucket of 100k docs is 10^10 pairs before any
    verify. With the cap, buckets larger than the cap are DROPPED from
    candidate generation, with a driver-side log of how many buckets and
    band rows were lost. Precision is unaffected (verify is exact
    Jaccard); recall: a pair is lost only if every band bucket it shares
    is hot — boilerplate-dominated pairs, exactly the ones a curation
    run wants to handle via the exact-dup/fingerprint path instead. The
    size probe is one groupBy on the same (band, bucket) key the join
    shuffles on, so AQE reuses the exchange."""
    if max_bucket_size is not None:
        import logging

        # NB: setting the cap makes construction EAGER — the "no silent
        # caps" rule wants the dropped-bucket count logged, and that
        # requires executing the bucket-size probe here. The over-cap
        # set is localCheckpointed (bounded: only over-cap buckets) so
        # the probe runs ONCE and both the log aggregate and the
        # anti-join read the materialized result instead of each
        # re-running the groupBy lineage.
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > max_bucket_size)
            .localCheckpoint(eager=True)
        )
        stats = hot.agg(
            F.count("*").alias("buckets"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("rows"),
        ).first()
        if stats["buckets"]:
            logging.getLogger("projet_etl_a_rien_spark.dedup").warning(
                "lsh_candidates: dropping %d hot buckets (%d band rows, "
                "cap %d) — pairs reachable only through them are lost; "
                "verify stays exact",
                stats["buckets"],
                stats["rows"],
                max_bucket_size,
            )
        banded = banded.join(hot.select("band", "bucket"), ["band", "bucket"], "left_anti")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash → LSH banding → candidate join → Jaccard verify.

    Returns (id_a, id_b, jacc) with id_a < id_b and jacc >= threshold.
    rows-per-doc shuffled = ``bands``; candidate pairs are only those
    agreeing on a full band (width k/bands), then verified with Jaccard
    so the result is a *superset-free* filter of true near-dups reachable
    by the banding (standard LSH recall semantics).

    Verification runs in the HASHED shingle space (distinct 31-bit
    md5-derived ints): collision error is ~|A∪B|/2^31 per pair
    (negligible), the int arrays intersect ~10× faster than shingle
    strings, and the oracle derives the identical hashes, so cross-engine
    parity is exact by construction.
    """
    rows = k // bands
    # What gets cached: the hashed shingle sets (id, array<int>) — one
    # compact table (4-8 B per shingle vs the ~10× larger strings) that
    # every consumer (signature fold, both verify sides) reads; the raw
    # text and string shingles are streamed over exactly once and never
    # retained. At 100 TB this cache is bounded by MEMORY_AND_DISK spill
    # and is the smallest possible representation that still lets verify
    # avoid re-tokenizing the corpus.
    #
    # Round-robin repartition of the RAW docs (before the shingle select!)
    # to the session's parallelism: the source is often a handful of parquet
    # files, and without the spread the shingle+hash hot loop runs on
    # however few partitions the scan produced. Measured at sf0.1
    # (local[32]): 11.7 s → 5.8 s. User-specified repartition counts are
    # preserved by AQE.
    par = df.sparkSession.sparkContext.defaultParallelism
    base = (
        df.repartition(par)
        .select(
            F.col(id_col).alias("id"),
            hashed_shingles(text_col, shingle_n).alias("xs"),
        )
        .where(F.size("xs") > 0)
        .persist()
    )
    sig = base.select("id", minhash_signature(F.col("xs"), k).alias("sig"))

    # Shuffle only (id, band, bucket) — never the shingle arrays. The
    # verify step re-joins the (narrow) candidate pairs back to the
    # shingle sets; at scale this keeps band-join shuffle volume
    # independent of document length.
    banded = band_rows(sig, k, bands)
    cand = lsh_candidates(banded, max_bucket_size)
    a, b = base.alias("a"), base.alias("b")
    return (
        cand.join(a, F.col("id_a") == F.col("a.id"))
        .join(b, F.col("id_b") == F.col("b.id"))
        .select(
            "id_a", "id_b", jaccard(F.col("a.xs"), F.col("b.xs")).alias("jacc")
        )
        .where(F.col("jacc") >= threshold)
    )


# ------------------------------------------------------ exact ngram pairs ----


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram-set Jaccard for all pairs within a blocking key.

    Inverted-index formulation: explode distinct n-gram shingles,
    self-join on (block, shingle) to count intersections, then
    |A∪B| = |A|+|B|-|A∩B|. Quadratic *within a block only* — the block
    bounds the join fan-out, which is what makes the exact variant
    runnable at scale (MinHash LSH covers the unblocked case). Pairs
    sharing no shingle never materialize (their Jaccard is 0).
    """
    # ``toks`` is consumed three times (both join sides + sizes). The raw
    # docs are round-robin repartitioned BEFORE the explode so the shingle
    # hot loop spreads across cores, and the repartition exchange is reused
    # by all three consumers (ReusedExchange) — measured faster at sf0.1
    # than persisting the exploded token table (2.6 s vs 3.6 s vs 4.2 s
    # unrepartitioned), because caching 4M exploded rows costs more than
    # recomputing the post-exchange explode 32-way.
    par = df.sparkSession.sparkContext.defaultParallelism
    # Tokens enter the inverted index as distinct 31-bit md5-derived ints
    # (same hashed-shingle space as minhash): the exploded token table is
    # the dominant shuffle of this operator, and an 8-byte key shuffles
    # and joins ~4× cheaper than the shingle strings. The oracle hashes
    # identically, so parity is exact; collision error within a block is
    # ~|doc|/2^31 per pair.
    toks = df.repartition(par).select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        F.explode(hashed_shingles(text_col, shingle_n)).alias("token"),
    )
    sizes = toks.groupBy("blk", "id").agg(F.count("*").alias("sz"))

    l, r = toks.alias("l"), toks.alias("r")
    inter = (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.token") == F.col("r.token"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(
            F.col("l.blk").alias("blk"),
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    i, sa, sb = inter.alias("i"), sizes.alias("sa"), sizes.alias("sb")
    out = (
        i.join(
            sa,
            (F.col("i.blk") == F.col("sa.blk")) & (F.col("i.id_a") == F.col("sa.id")),
        )
        .join(
            sb,
            (F.col("i.blk") == F.col("sb.blk")) & (F.col("i.id_b") == F.col("sb.id")),
        )
        .select(
            "i.id_a",
            "i.id_b",
            (
                F.col("i.n_common")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("i.n_common"))
            ).alias("jacc"),
        )
        .where(F.col("jacc") >= threshold)
    )
    return out


# ---------------------------------------------------------------- simhash ----


def simhash64(col: Column | str) -> Column:
    """64-bit SimHash over distinct tokens — engine-portable, single fold.

    Token hash = first 16 hex digits of md5 (64 bits), so any engine
    computes the identical fingerprint (the DuckDB oracle replicates the
    whole construction digit-by-digit). Classic SimHash: for each bit b,
    sum ±1 votes over tokens by the token-hash bit; fingerprint bit b =
    sign of the vote.

    One pass over the token array: each token expands to a 64-element
    0/1 bit vector (LSB-first; nibble = hex digit via ``conv``), and a
    single ``aggregate`` folds them into an array of 64 vote counters
    with ``zip_with`` adds — not 64 separate folds, which would build a
    codegen-hostile expression tree and traverse the array 64 times.
    """
    toks = F.array_distinct(tokens(col))

    def bitvec(t: Column) -> Column:
        h = F.md5(t)
        # hex digits read right-to-left (pos 16..1) = LSB nibble first
        digits = F.transform(
            F.sequence(F.lit(16), F.lit(1), F.lit(-1)),
            lambda p: F.conv(F.substr(h, p, F.lit(1)), 16, 10).cast("int"),
        )
        return F.flatten(
            F.transform(
                digits,
                lambda d: F.array(
                    d % 2,
                    F.shiftright(d, 1) % 2,
                    F.shiftright(d, 2) % 2,
                    F.shiftright(d, 3) % 2,
                ),
            )
        )

    votes = F.aggregate(
        F.transform(toks, bitvec),
        F.array_repeat(F.lit(0), 64),
        lambda acc, bv: F.zip_with(acc, bv, lambda a, x: a + x * 2 - 1),
    )
    # Reassemble the signed 64-bit fingerprint: +2^b per positive-vote bit,
    # the sign bit as the negative two's-complement term. pow(2.0, b) is a
    # power of two — exactly representable as a double, exact long cast.
    terms = F.zip_with(
        votes,
        F.sequence(F.lit(0), F.lit(63)),
        lambda v, b: F.when(v <= 0, F.lit(0).cast("long")).otherwise(
            F.when(b == 63, F.lit(-(1 << 63)).cast("long")).otherwise(
                F.pow(F.lit(2.0), b.cast("double")).cast("long")
            )
        ),
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — chunk-banded LSH.

    The 64-bit fingerprint splits into 4 chunks of 16 bits; by pigeonhole,
    any pair with Hamming distance <= 3 agrees on at least one full chunk,
    so the equality join on (chunk_index, chunk_value) has guaranteed
    recall for ``max_hamming`` <= 3 — no blocking column, no O(n²) pairs.
    This is the standard multi-index for Hamming-space dedup (the
    practical form of the rotate-and-sort index); shuffle volume is 4
    narrow rows per doc, independent of document length. Candidate
    id-pairs are ``distinct``ed BEFORE verification (a pair may agree on
    several chunks), then one exact ``bit_count(xor)`` per unique pair
    against the cached (id, sh) table — the same dedupe-then-verify
    ordering as minhash and hyperplane LSH.

    Cache contract: the (id, fingerprint) table is persisted (simhash64
    is the expensive leg and feeds both the chunk index and the verify
    join); the caller owns cleanup — run an action, then
    ``spark.catalog.clearCache()`` (bench.py and the oracle sweep do).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    base = (
        df.repartition(par)
        .select(F.col(id_col).alias("id"), simhash64(text_col).alias("sh"))
        .persist()
    )
    chunks = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        # arithmetic shift sign-extends, but the low 16 bits
                        # of the shifted value are fill-independent once masked
                        F.shiftright(F.col("sh"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    l, r = chunks.alias("l"), chunks.alias("r")
    candidates = (
        l.join(
            r,
            (F.col("l.ci") == F.col("r.ci"))
            & (F.col("l.cv") == F.col("r.cv"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    ha = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    hb = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        candidates.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------- incremental near-dup ingest ----


def recover_bands(
    spark: SparkSession, path: str, k: int = 16, bands: int = 4
) -> None:
    """Rebuild the near-dup sink's ``{path}/bands`` LSH index from its
    ``{path}/xs`` table. bands is a pure function of xs —
    ``band_rows(minhash_signature(xs))`` — so any half-written sink state
    where xs is intact (crash between the two appends of
    ``neardup_merge_batch``) is fully recoverable by one overwrite.
    ``k`` and ``bands`` must match the values the sink was built with."""
    xs = spark.read.parquet(f"{path}/xs")
    band_rows(
        xs.select("id", minhash_signature(F.col("xs"), k).alias("sig")), k, bands
    ).write.mode("overwrite").parquet(f"{path}/bands")


def neardup_merge_batch(
    batch_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> None:
    """One merge step of the SINK-IS-THE-STATE near-dup ingest: reject
    batch docs that are near-dups of the already-accepted corpus, keep
    one representative per within-batch near-dup cluster, and append the
    survivors' shingle sets and band rows to the sink.

    Sink layout (both plain parquet, appended):
    - ``{path}/xs``:    (id, xs)  accepted docs' hashed shingle sets
    - ``{path}/bands``: (id, band, bucket)  their LSH band index

    The batch-vs-corpus check joins batch band rows against the sink's
    band index — the candidate set is per-bucket, never corpus-wide — and
    verifies with exact Jaccard over the stored shingle sets. Keeping the
    band index IN the sink is what makes the ingest scale: each batch
    does O(batch × bands) narrow shuffle rows against an indexed join,
    not a rescan of corpus text (the near-dup analogue of
    ``run_incremental_dedup_sink``'s anti-join). Within-batch semantics
    match ``minhash_dedup_survivors``: connected components over the
    verified pairs, min-id representative per cluster.

    Replay-idempotent: re-running a merged batch finds every doc
    jacc=1.0-matched to its own accepted copy and appends nothing. Docs
    with fewer than ``shingle_n`` tokens have no shingle set and are not
    ingested (they cannot near-dup; route them through the exact-dedup
    sink). State-free for the stream engine: no streaming state store —
    history lives in the sink, so state size tracks accepted docs, not
    watermark windows.
    """
    from pyspark.errors import AnalysisException

    from .graph import connected_components

    spark = batch_df.sparkSession
    par = spark.sparkContext.defaultParallelism
    base = (
        batch_df.repartition(par)
        .select(
            F.col(id_col).alias("id"),
            hashed_shingles(text_col, shingle_n).alias("xs"),
        )
        .where(F.size("xs") > 0)
        .persist()
    )
    try:
        sig = base.select("id", minhash_signature(F.col("xs"), k).alias("sig"))
        bnd = band_rows(sig, k, bands).persist()

        # Probe each sink table INDEPENDENTLY: a single try over both
        # reads would stop at a missing xs and never learn whether bands
        # exists, silently treating an xs-missing/bands-present sink as a
        # fresh corpus (stale band rows then inner-join-drop later).
        def _read_or_none(sub: str):
            try:
                return spark.read.parquet(f"{path}/{sub}")
            except AnalysisException as e:
                if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                    raise
                return None

        corp_xs = _read_or_none("xs")
        corp_bands = _read_or_none("bands")
        if corp_xs is None and corp_bands is not None:
            # Unrecoverable: xs (the shingle sets) is the source of truth
            # and it is gone; bands alone cannot reconstruct it. Proceeding
            # would re-ingest the corpus while stale band rows shadow it.
            raise RuntimeError(
                f"near-dup sink at {path!r} is unrecoverable: bands table "
                "present but xs table missing (xs is the source of truth; "
                "remove the sink dir to restart ingest)"
            )
        if corp_xs is not None:
            # bands is a pure function of xs — self-heal a crash that
            # landed between the two appends. Two half-written states:
            # (a) bands dir missing entirely (crash during first merge),
            # (b) bands behind xs (crash on a later merge; both dirs
            #     exist but bands lacks the last batch's rows). Each
            #     accepted doc contributes exactly `bands` band rows, so
            #     the row-count invariant detects (b) cheaply — parquet
            #     answers both counts from footer metadata.
            if corp_bands is None or corp_bands.count() != corp_xs.count() * bands:
                recover_bands(spark, path, k=k, bands=bands)
                corp_bands = spark.read.parquet(f"{path}/bands")

        remaining = base
        remaining_cached = None
        if corp_xs is not None:
            cand = (
                bnd.alias("b")
                .join(
                    corp_bands.alias("c"),
                    (F.col("b.band") == F.col("c.band"))
                    & (F.col("b.bucket") == F.col("c.bucket")),
                )
                .select(F.col("b.id").alias("bid"), F.col("c.id").alias("cid"))
                .distinct()
            )
            rejected = (
                cand.join(base.alias("a"), F.col("bid") == F.col("a.id"))
                .join(corp_xs.alias("x"), F.col("cid") == F.col("x.id"))
                .where(jaccard(F.col("a.xs"), F.col("x.xs")) >= threshold)
                .select(F.col("bid").alias("id"))
                .distinct()
            )
            # The corpus-rejection join is consumed twice downstream (the
            # CC probe executes the verified-pair chain, then the survivor
            # checkpoint re-executes `remaining`); cache it so the sink
            # band-index join runs once per batch, not twice. Phase-0 /
            # fresh-corpus merges skip this — `remaining` is the already-
            # persisted `base`.
            remaining_cached = base.join(rejected, "id", "left_anti").persist()
            remaining = remaining_cached

        rb = bnd.join(remaining.select("id"), "id", "left_semi")
        pairs = (
            rb.alias("l")
            .join(
                rb.alias("r"),
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .distinct()
        )
        a, b = remaining.alias("a"), remaining.alias("b")
        verified = (
            pairs.join(a, F.col("id_a") == F.col("a.id"))
            .join(b, F.col("id_b") == F.col("b.id"))
            .where(jaccard(F.col("a.xs"), F.col("b.xs")) >= threshold)
            .select("id_a", "id_b")
        )
        dropped = (
            connected_components(verified)
            .where(F.col("comp") != F.col("node"))
            .select(F.col("node").alias("id"))
        )
        survivors = remaining.join(dropped, "id", "left_anti").localCheckpoint(
            eager=True
        )
        survivors.write.mode("append").parquet(f"{path}/xs")
        # survivors' band rows already exist in `bnd` (computed for the
        # whole batch) — semi-join instead of re-running the k-hash
        # minhash fold over the survivors' shingle sets a second time
        bnd.join(survivors.select("id"), "id", "left_semi").select(
            "id", "band", "bucket"
        ).write.mode("append").parquet(f"{path}/bands")
    finally:
        base.unpersist()
        try:
            bnd.unpersist()
        except NameError:
            pass
        try:
            if remaining_cached is not None:
                remaining_cached.unpersist()
        except NameError:
            pass


def neardup_erase_ids(
    spark: SparkSession,
    path: str,
    ids,
    id_col: str = "id",
) -> int:
    """Right-to-erasure over the near-dup sink: physically REWRITE
    ``{path}/xs`` and ``{path}/bands`` without the erased ids, so no
    future batch can match against an erased document's shingle set and
    no probe of the band index can surface it. Returns the number of
    erased docs that were actually present.

    Crash contract reuses the sink's existing invariant: xs (the source
    of truth) is rewritten FIRST; a crash before the bands rewrite
    leaves ``bands ⊃ f(xs)``, which the next ``neardup_merge_batch``
    detects via the row-count invariant (count(bands) != count(xs) ×
    bands) and self-heals with ``recover_bands`` — rebuilt from the
    already-erased xs, so the orphan band rows of erased ids disappear.
    Idempotent: re-running the same erasure rewrites identical state.

    Without this, the incremental LSH index retains erased ids forever —
    the governance hole the batch-side ``corpus_right_to_erasure``
    cascade cannot reach (sink state is not a registered table).
    """
    ids_df = (
        ids.select(F.col(id_col).alias("id")).distinct()
        if isinstance(ids, DataFrame)
        else spark.createDataFrame([(int(i),) for i in ids], "id bigint")
    )
    xs = spark.read.parquet(f"{path}/xs")
    n_before = xs.count()
    kept = xs.join(ids_df, "id", "left_anti").localCheckpoint(eager=True)
    kept.write.mode("overwrite").parquet(f"{path}/xs")
    bd = (
        spark.read.parquet(f"{path}/bands")
        .join(ids_df, "id", "left_anti")
        .localCheckpoint(eager=True)
    )
    bd.write.mode("overwrite").parquet(f"{path}/bands")
    return n_before - kept.count()


# ----------------------------------------- prefix-filtered exact pairs ----


def jaccard_prefix_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """Exact Jaccard similarity join via PREFIX FILTERING (AllPairs /
    PPJoin family) — same exact output as an all-pairs inverted-index
    join at ``threshold``, but candidate generation only indexes each
    document's RAREST tokens.

    Order every doc's shingle-hash set by ascending global document
    frequency (ties by token value — any consistent total order works).
    If jacc(A, B) >= t, then A and B must share a token within their
    prefixes of length |x| - ceil(t * |x|) + 1 (pigeonhole on the
    ordered sets), so joining on prefix tokens alone loses nothing; the
    exact-Jaccard verify then filters false candidates. Unlike
    ``ngram_jaccard_pairs`` this needs NO blocking column: candidate
    volume is sum over PREFIX tokens of df², and prefix tokens are by
    construction the globally rarest of each doc, so hot tokens
    (boilerplate shingles) never enter the index.

    The prefix join also applies PPJoin's length and positional
    filters to each (l, r, token) row before the distinct: a pair's
    FIRST common token in the (dfreq, token) order lies in both
    prefixes, so the join emits that row, and every common token sits
    at or after it, bounding the overlap by
    ``ub = min(|l| - pos_l, |r| - pos_r)`` (0-based positions). The
    row is kept only if ``min(|l|,|r|) / max(|l|,|r|) >= t`` (length)
    and ``ub / (|l| + |r| - ub) >= t`` (positional: the Jaccard the
    pair would have at overlap ``ub``; ``ub >= t/(1+t)·(|l|+|r|)``
    rearranged). Both are written as the verify's own double division:
    the true Jaccard is at most each bound and rounding is monotone, so
    a pair the verify accepts is never dropped — the multiplied-out
    ``t/(1+t)`` form rounds the other way on exact-threshold pairs
    (t=0.8, |A|=32, |B|=31, 28 shared: 28/35 == 0.8 but
    0.8/1.8·63 == 28.000000000000004). At sf0.1 the filters cut the
    distinct candidates the verify join fetches from 421,613 to
    128,146 (369 pairs kept).

    Scale shape: one explode-shuffle to build df(token) (vocabulary-
    sized result), one groupBy to re-assemble ordered per-doc arrays,
    one equality join on prefix tokens, one verify join re-fetching the
    two shingle arrays. All map-side work is int64 array math.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    base = (
        df.repartition(par)
        .select(
            F.col(id_col).alias("id"),
            hashed_shingles(text_col, shingle_n).alias("xs"),
        )
        .where(F.size("xs") > 0)
        .persist()
    )
    toks = base.select("id", F.explode("xs").alias("token"))
    dfreq = toks.groupBy("token").agg(F.count("*").alias("dfreq"))
    # per-doc token list ordered by (dfreq, token): rarest first. The
    # struct sort gives the (dfreq, token) lexicographic order; project
    # the token back out after sorting.
    ordered = (
        toks.join(dfreq, "token")
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("dfreq"), F.col("token")))
                ),
                lambda s: s["token"],
            ).alias("ord_toks")
        )
    )
    # prefix length p = sz - ceil(t*sz) + 1; each prefix token carries
    # its 0-based position and the doc's set size for the filters.
    # Persisted: the candidate self-join consumes this lineage on BOTH
    # sides, and without the persist each side re-runs the df-join +
    # per-doc sort (measured ~1.4x the whole operator at sf0.1).
    prefix = ordered.select(
        "id",
        F.size("ord_toks").alias("sz"),
        F.posexplode(
            F.slice(
                F.col("ord_toks"),
                1,
                (
                    F.size("ord_toks")
                    - F.ceil(F.size("ord_toks") * F.lit(threshold)).cast("int")
                    + 1
                ),
            )
        ).alias("pos", "token"),
    ).persist()
    l_sz, r_sz = F.col("l.sz"), F.col("r.sz")
    ub = F.least(l_sz - F.col("l.pos"), r_sz - F.col("r.pos"))
    # the cheaper length test first; And short-circuits
    length_ok = F.least(l_sz, r_sz) / F.greatest(l_sz, r_sz) >= threshold
    position_ok = ub / (l_sz + r_sz - ub) >= threshold
    cand = (
        prefix.alias("l")
        .join(
            prefix.alias("r"),
            (F.col("l.token") == F.col("r.token"))
            & (F.col("l.id") < F.col("r.id"))
            & length_ok
            & position_ok,
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    a, b = base.alias("a"), base.alias("b")
    out = (
        cand.join(a, F.col("id_a") == F.col("a.id"))
        .join(b, F.col("id_b") == F.col("b.id"))
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("a.xs"), F.col("b.xs")).alias("jacc"),
        )
        .where(F.col("jacc") >= threshold)
    )
    if not materialize:
        # lazy form for plan auditing/composition: the two persists stay
        # live inside the returned lineage — the CALLER owns the cache
        # (unpersist via clearCache, or accept session-lifetime pinning)
        return out
    # default: materialize so the two corpus-sized persists can be
    # RELEASED before returning — without this the cached shingle-set
    # and prefix-token tables pin executor storage for the session
    # lifetime on every invocation (bench and the LSH-quality metric
    # each call this), the same leak the sibling operators
    # (edit_distance_pairs, semdedup) close the same way
    out = out.localCheckpoint(eager=True)
    prefix.unpersist()
    base.unpersist()
    return out


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    shingle_n: int = 3,
) -> DataFrame:
    """DIRECTED shingle-set containment pairs: (id_sub, id_super, cont)
    where cont = |sub ∩ super| / |sub| >= threshold and id_sub !=
    id_super. The asymmetric near-dup relation Jaccard misses: a short
    doc quoted whole inside a long one has high containment but low
    Jaccard (|A∩B|/|A∪B| is dragged down by the long doc's size), and a
    training pipeline usually wants the CONTAINED doc dropped.

    Same blocked inverted-index candidate generation as
    ``ngram_jaccard_pairs`` (intersections computed once per unordered
    pair, id_a < id_b) — both directed containments are then pure
    projections of (n_common, sz_a, sz_b), so asymmetry costs a union of
    two filters, not a second join.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(par).select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        F.explode(hashed_shingles(text_col, shingle_n)).alias("token"),
    )
    sizes = toks.groupBy("blk", "id").agg(F.count("*").alias("sz"))
    l, r = toks.alias("l"), toks.alias("r")
    inter = (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.token") == F.col("r.token"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(
            F.col("l.blk").alias("blk"),
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    i, sa, sb = inter.alias("i"), sizes.alias("sa"), sizes.alias("sb")
    both = (
        i.join(
            sa,
            (F.col("i.blk") == F.col("sa.blk")) & (F.col("i.id_a") == F.col("sa.id")),
        )
        .join(
            sb,
            (F.col("i.blk") == F.col("sb.blk")) & (F.col("i.id_b") == F.col("sb.id")),
        )
        .select(
            "i.id_a",
            "i.id_b",
            "i.n_common",
            F.col("sa.sz").alias("sz_a"),
            F.col("sb.sz").alias("sz_b"),
        )
    )
    fwd = both.select(
        F.col("id_a").alias("id_sub"),
        F.col("id_b").alias("id_super"),
        (F.col("n_common") / F.col("sz_a")).alias("containment"),
    )
    rev = both.select(
        F.col("id_b").alias("id_sub"),
        F.col("id_a").alias("id_super"),
        (F.col("n_common") / F.col("sz_b")).alias("containment"),
    )
    return fwd.unionByName(rev).where(F.col("containment") >= threshold)


# ------------------------------------------- exact substring-span dedup ----


def exact_substr_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT duplicated-substring spans (the ExactSubstr construction of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", at token granularity): every maximal token range of a
    document whose every ``k``-token window also occurs somewhere else
    in the corpus (another doc, or another position of the same doc).

    The suffix-array formulation of the paper is replaced by a fully
    relational one — same output, Spark-native plan:

    1. positional k-gram hashes: one Horner polynomial per window over
       per-token md5 hashes (``word_hashes`` + ``_poly_combine`` — the
       minhash shingle arithmetic, so one md5 per token, pure int64
       after that), ``posexplode`` into (id, pos, gh) rows;
    2. global duplicate grams: groupBy(gh) HAVING count > 1 — a
       vocabulary-sized aggregate with map-side partials — semi-joined
       back to keep only duplicated window starts;
    3. gaps-and-islands merge: per doc, windows [pos, pos+k-1] are
       merged into maximal spans with a running ``max(pos+k-1)`` window
       (break when the next window starts past the running end + 1);
       one shuffle keyed on the doc id, no global sort.

    Returns (id, span_start, span_end, span_tokens) — 0-based inclusive
    token offsets, spans disjoint and non-adjacent per doc. Docs shorter
    than ``k`` tokens yield no rows (they have no k-token window).

    Scale shape: cost is one explode of n_tokens-k+1 rows per doc, one
    hash-keyed aggregate, one semi-join, one id-keyed window — each a
    single narrow shuffle; hash-collision false positives inherit the
    ~|grams|/2^31 bound every hashed-shingle operator here accepts.
    Skew lives in step 2's gram key exactly where duplication does; the
    aggregate is a count (map-side combinable), so hot grams cost rows
    in, one row out.
    """
    from pyspark.sql.window import Window

    toks = tokens(text_col)
    gram_hashes = _bind_once(
        word_hashes(toks),
        lambda wh: F.transform(
            F.sequence(F.lit(0), F.size(wh) - k),
            lambda i: _poly_combine(wh, i, k),
        ),
    )
    grams = df.where(F.size(toks) >= k).select(
        F.col(id_col).alias("id"), F.posexplode(gram_hashes).alias("pos", "gh")
    )
    dupg = grams.groupBy("gh").agg(F.count("*").alias("c")).where(F.col("c") > 1)
    dpos = grams.join(dupg.select("gh"), "gh", "left_semi").select("id", "pos")
    prev = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dpos.select(
        "id",
        "pos",
        F.when(
            F.col("pos")
            > F.coalesce(F.max(F.col("pos") + (k - 1)).over(prev), F.lit(-2)) + 1,
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    run = Window.partitionBy("id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    isl = marked.select("id", "pos", F.sum("brk").over(run).alias("island"))
    return (
        isl.groupBy("id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def exact_substr_rewrite(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rewrite half of :func:`exact_substr_spans`: drop every token
    covered by a duplicated span and reassemble each document from the
    survivors in position order.

    Removal is ALL-copies (any token inside a corpus-duplicated k-window
    is dropped from every document containing it) — the aggressive
    variant; the keep-first policy at segment granularity lives in
    ``text.segment_dedup_rewrite``. Documents with no duplicated span
    (including docs shorter than ``k`` tokens) pass through verbatim.

    Returns (id, clean_text, n_kept, n_removed); ``clean_text`` is ''
    when every token was removed. Covered positions are materialized by
    exploding ``sequence(span_start, span_end)`` — span-length bounded,
    an equality anti-join key, so the kept/removed split is a plain
    (id, pos) hash join, never a range join.
    """
    spans = exact_substr_spans(df, k=k, text_col=text_col, id_col=id_col)
    covered = spans.select(
        F.col(id_col).alias("id"),
        F.explode(F.sequence("span_start", "span_end")).alias("pos"),
        F.lit(1).alias("cov"),
    )
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    ).select("id", F.col("pos").cast("long").alias("pos"), "tok")
    kept_struct = F.when(F.col("cov").isNull(), F.struct(F.col("pos"), F.col("tok")))
    return (
        toks.join(covered, ["id", "pos"], "left")
        .groupBy("id")
        .agg(
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["tok"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("clean_text"),
            F.sum(F.when(F.col("cov").isNull(), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("cov").isNotNull(), 1).otherwise(0)).alias(
                "n_removed"
            ),
        )
        .select(F.col("id").alias(id_col), "clean_text", "n_kept", "n_removed")
    )


def ngram_contamination(
    train: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination scan — the n-gram collision test every
    LLM training pipeline runs before a corpus ships (the GPT-3
    appendix-C / PaLM 8-gram overlap check): for each training document,
    how many of its distinct word n-grams also occur anywhere in the
    benchmark corpus, and how many distinct benchmark documents it
    collides with. Returns (id, n_hit_ngrams, n_bench_docs) for
    contaminated documents only.

    Scale shape: both sides reduce to DISTINCT md5-hashed n-grams —
    narrow (id, digest) rows — and candidates come from ONE equality
    shuffle on the digest; no string payload crosses an exchange. The
    benchmark side is orders of magnitude smaller than the corpus, but
    no broadcast is forced: AQE broadcasts it when it fits and falls
    back to a hash join when it does not. A hot digest (boilerplate
    shared corpus-wide) fans out only into that key's (train x bench)
    pairs, which IS the contamination being measured; the per-doc
    count_distinct re-aggregates it with map-side partials.
    """
    tg = train.select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, n)).alias("g")
    ).select("id", F.md5("g").alias("gh"))
    bg = bench.select(
        F.col(id_col).alias("bid"), F.explode(shingles(text_col, n)).alias("g")
    ).select("bid", F.md5("g").alias("gh"))
    return tg.join(bg, "gh").groupBy("id").agg(
        F.count_distinct("gh").alias("n_hit_ngrams"),
        F.count_distinct("bid").alias("n_bench_docs"),
    )


BLOOM_WORDS = 32  # bits per bitmap word — masks stay positive int64


def _bloom_h(g, off):
    """First/second 8 md5 hex chars → int64 (the double-hash halves)."""
    return F.conv(F.substring(F.md5(g), off, 8), 16, 10).cast("bigint")


def _bloom_positions(g, m_bits: int):
    """k=2 double-hashed bit positions: p_i = (h1 + i·h2) mod m."""
    h1, h2 = _bloom_h(g, 1), _bloom_h(g, 9)
    return F.array(h1 % m_bits, (h1 + h2) % m_bits)


def bloom_build(
    bench: DataFrame,
    n: int = 8,
    m_bits: int = 1 << 18,
    text_col: str = "text",
) -> DataFrame:
    """Fold a document set's n-grams into the (w, bits) Bloom bitmap
    table — at most m_bits/32 rows regardless of input size. The grid
    is an OR-monoid: per-batch partial bitmaps fold cell-wise with
    ``bit_or`` (associative, commutative, IDEMPOTENT — replays are
    harmless by algebra), which is what makes it servable as sink
    state alongside CMS (SUM), the quantile histogram (SUM), HLL (MAX),
    and KMV (MIN-K)."""
    bgd = (
        bench.select(F.explode(shingles(text_col, n)).alias("g")).distinct()
    )
    return (
        bgd.select(F.explode(_bloom_positions(F.col("g"), m_bits)).alias("p"))
        .select(
            (F.col("p") / BLOOM_WORDS).cast("bigint").alias("w"),
            (F.col("p") % BLOOM_WORDS).cast("int").alias("b"),
        )
        .distinct()
        .groupBy("w")
        .agg(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), b)")).alias("bits")
        )
    )


def bloom_contamination(
    train: DataFrame,
    bench: DataFrame,
    n: int = 8,
    m_bits: int = 1 << 18,
    text_col: str = "text",
    id_col: str = "doc_id",
    bloom: DataFrame | None = None,
) -> DataFrame:
    """Bloom-pre-filtered benchmark decontamination — the at-scale form
    of :func:`ngram_contamination`: the benchmark's n-grams are folded
    into an ``m_bits``-bit Bloom filter (k=2 double-hashed positions
    from one md5: ``p_i = (h1 + i*h2) mod m``), and every training
    gram probes the filter BEFORE any equality join runs. At 100 TB
    the filter is a ~m/32-row (word, bits) table that AQE broadcasts —
    the corpus-side pass is then map-side only, and the expensive
    exact join runs on the tiny bloom-positive survivor set.

    Here the exact join also runs on ALL grams so the output QUANTIFIES
    the filter: per training doc (n_grams, n_bloom_hits, n_exact_hits,
    n_false_pos) — the false-positive column is the measured cost of
    the m/k trade, fully deterministic (md5 positions, no RNG).

    Every arithmetic step is portable: 32-bit words keep the per-bit
    masks in positive int64 on both engines, and the position hashes
    reuse the ``CAST('0x' || substr(md5(g), …) AS BIGINT)`` idiom the
    DSIR bucket model already proved hash-exact.
    """
    words = BLOOM_WORDS

    tg = train.select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, n)).alias("g")
    )
    bgd = (
        bench.select(F.explode(shingles(text_col, n)).alias("g")).distinct()
    )
    if bloom is None:
        bloom = bloom_build(bench, n, m_bits, text_col)
    probes = tg.select(
        "id", "g", F.explode(_bloom_positions(F.col("g"), m_bits)).alias("p")
    ).select(
        "id",
        "g",
        (F.col("p") / words).cast("bigint").alias("w"),
        (F.col("p") % words).cast("int").alias("b"),
    )
    per_gram = (
        probes.join(bloom, "w", "left")
        .select(
            "id",
            "g",
            F.coalesce(
                F.expr(
                    "(bits & shiftleft(CAST(1 AS BIGINT), b)) <> 0"
                ),
                F.lit(False),
            ).alias("bit_set"),
        )
        .groupBy("id", "g")
        .agg(F.bool_and("bit_set").alias("bloom_pass"))
    )
    exact = bgd.withColumn("e", F.lit(True))
    flagged = per_gram.join(exact, "g", "left")
    return flagged.groupBy("id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias(
            "n_bloom_hits"
        ),
        F.sum(F.when(F.col("e"), 1).otherwise(0)).alias("n_exact_hits"),
        F.sum(
            F.when(F.col("bloom_pass") & F.col("e").isNull(), 1).otherwise(0)
        ).alias("n_false_pos"),
    )


# ---------------------------------------------------------------------------
# Bloom bitmap as sink-is-the-state — the OR member of the sketch-sink
# fold family (CMS/quantile = SUM, HLL = MAX, KMV = MIN-K, Bloom = OR;
# OR is idempotent, so replayed batches are exactly harmless like the
# HLL/KMV sinks). The at-scale story: the benchmark/blocklist set grows
# incrementally (new eval suites land weekly); each batch folds its
# grams into a partial bitmap at ingest, and the decontamination gate
# reads the folded ≤ m/32-row table — never the benchmark corpus.
# ---------------------------------------------------------------------------


def write_bloom_partial(
    batch_df: DataFrame,
    path: str,
    batch_id: int,
    n: int = 8,
    m_bits: int = 1 << 18,
    text_col: str = "text",
) -> None:
    """Reduce one benchmark batch to its (w, bits) partial bitmap and
    land it."""
    write_partial(bloom_build(batch_df, n, m_bits, text_col), path, batch_id)


def read_bloom(spark, path: str, max_b: int | None = None) -> DataFrame:
    """Current folded bitmap: the per-word bit-OR over
    ``compaction.fold_inputs`` (``max_b`` is its fold bound; bit-OR is
    idempotent, so the bound is about exact labeling and vacuum
    provenance, not double-counting)."""
    paths = fold_inputs(spark, path, max_b)
    if not paths:
        return spark.createDataFrame([], "w bigint, bits bigint")
    return (
        spark.read.parquet(*paths)
        .groupBy("w")
        .agg(F.bit_or("bits").alias("bits"))
    )


def compact_bloom(spark, path: str) -> int:
    """``compaction.compact_sink`` with the bit-OR fold."""
    return compact_sink(spark, path, lambda b: read_bloom(spark, path, b))
