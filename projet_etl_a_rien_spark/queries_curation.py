"""Text and curation registry: the pretraining-data pipeline over ``documents``.

Quality gates and classifiers, repetition and PII signals, language ID,
token statistics, sampling, mixing and budget selection, chunking and
packing, language-model scoring, retrieval (inverted index, BM25, phrase
search, postings erasure), DSIR importance weighting, and raw-web text
normalization — the operators of operators/text.py, retrieval.py and
selection.py. Near-dup and similarity work lives in queries_dedup.py,
tokenizers in queries_tokenizer.py.

Same parity rules as queries.py — exact-integer aggregates wrapped
BIGINT in the oracles, identical aliasing, divisions written with
identical operand shapes on both sides, exactmath nano-grid
quantization for every transcendental.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .catalog import load_table, widen_input
from .fixtures import DOCUMENTS_WITH_DUPS_ORACLE_CTE, documents_with_dups
from .operators import dedup, retrieval, selection, text
from .operators import text as _text
from .operators.dedup import dedup_exact
from .queries import register


_STOPLIST_SQL = "['the', 'a', 'of', 'and', 'to', 'in']"


@register(
    "doc_gopher_quality_flags",
    f"""
WITH s AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace,
           CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                   {_STOPLIST_SQL})) AS BIGINT) AS n_stopword_kinds,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq
    FROM documents
)
SELECT doc_id, n_words,
       n_nonspace / n_words AS mean_word_len,
       n_stopword_kinds,
       n_uniq / n_words AS frac_unique_words,
       (n_words >= 20 AND n_words <= 100000
        AND n_nonspace / n_words >= 2.0 AND n_nonspace / n_words <= 12.0
        AND n_stopword_kinds >= 2
        AND n_uniq / n_words >= 0.1) AS passes_quality
FROM s
""",
    doc="Gopher/C4-style per-doc quality gate: word-count bounds, mean "
    "word length bounds, >=2 distinct stopwords, unique-word fraction, "
    "composite pass verdict. All-JVM column algebra; exact-int operands "
    "so every derived double is engine-identical.",
)
def q_doc_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.gopher_quality_flags(load_table(spark, sf_dir, "documents"))


@register(
    "doc_repetition_stats",
    """
WITH base AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
           string_split(text, ' ') AS toks
    FROM documents
    WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
    SELECT doc_id, n_words, n_uniq,
           unnest(list_transform(range(1, CAST(n_words AS INTEGER)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM base
),
counts AS (
    SELECT doc_id, n_words, n_uniq, bigram, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM bg GROUP BY 1, 2, 3, 4
)
SELECT doc_id,
       1.0 - n_uniq / n_words AS dup_token_frac,
       bigram AS top_bigram,
       cnt AS top_bigram_count,
       cnt / (n_words - 1) AS top_bigram_frac
FROM counts
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bigram) = 1
""",
    doc="Gopher repetition signals: duplicate-token fraction and the top "
    "bigram's share of all bigrams (the n-gram-loop detector). Bigram "
    "lists built per-row JVM-side, one explode + per-doc window argmax; "
    "ties to the lexicographically smallest bigram.",
)
def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_stats(load_table(spark, sf_dir, "documents"))


@register(
    "doc_pii_scan",
    r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
            AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_runs,
       md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS redacted_fingerprint
FROM documents
""",
    doc="PII surface scan: email-shaped and digit-run match counts plus "
    "the md5 of the digit-redacted text (corpus-wide pre-redaction "
    "audit). RE2-safe patterns run verbatim in both engines; Spark's "
    "regexp_replace is global by default = DuckDB's 'g'.",
)
def q_doc_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pii_scan(load_table(spark, sf_dir, "documents"))


# keep-rates per language, out of 100 hash buckets: downsample the
# over-represented language, keep the tail intact
SAMPLE_RATES = {"en": 40, "fr": 80}
SAMPLE_DEFAULT_RATE = 100
SAMPLE_SALT = "sample:"


@register(
    "doc_stratified_sample",
    f"""
WITH s AS (
    SELECT doc_id, lang,
           CAST('0x' || substr(md5('{SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8)
                AS BIGINT) % 100 AS bucket
    FROM documents
)
SELECT doc_id, lang
FROM s
WHERE bucket < CASE lang WHEN 'en' THEN {SAMPLE_RATES["en"]}
                         WHEN 'fr' THEN {SAMPLE_RATES["fr"]}
                         ELSE {SAMPLE_DEFAULT_RATE} END
""",
    doc="Reproducible stratified downsampling: per-language keep-rate "
    "applied via salted-md5 hash bucket of the doc id — membership is "
    "stable across runs, engines, partitionings, and corpus growth "
    "(rand(seed) is partition-order sensitive and reshuffles every "
    "plan change). Returns the surviving rows, not just counts.",
)
def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = text.split_bucket("doc_id", salt=SAMPLE_SALT)
    rate = (
        F.when(F.col("lang") == "en", SAMPLE_RATES["en"])
        .when(F.col("lang") == "fr", SAMPLE_RATES["fr"])
        .otherwise(SAMPLE_DEFAULT_RATE)
    )
    return load_table(spark, sf_dir, "documents").where(b < rate).select("doc_id", "lang")


@register(
    "source_mixing_weights",
    """
WITH per_source AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
           CAST(COUNT(*) AS BIGINT) AS n_sources
    FROM per_source
)
SELECT source, n_docs, n_tokens,
       n_docs / total_docs AS corpus_share,
       1.0 / n_sources AS target_share,
       (1.0 / n_sources) / (n_docs / total_docs) AS mix_weight
FROM per_source, tot
""",
    doc="Domain-mixing reweighting: per-source doc/token counts, corpus "
    "share, uniform target share, and the sampling weight that equalizes "
    "the mix (the input every weighted-sampling data loader needs). "
    "Identical division shapes both engines; one tiny aggregate "
    "broadcast-joined back.",
)
def q_source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(text.token_count("text")).alias("n_tokens"),
    )
    tot = per_source.agg(
        F.sum("n_docs").alias("total_docs"), F.count("*").alias("n_sources")
    )
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_docs") / F.col("total_docs")).alias("corpus_share"),
        (F.lit(1.0) / F.col("n_sources")).alias("target_share"),
        ((F.lit(1.0) / F.col("n_sources")) / (F.col("n_docs") / F.col("total_docs"))).alias(
            "mix_weight"
        ),
    )


SEG_TOKENS = 10


@register(
    "doc_segment_dup_stats",
    f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    WHERE len(string_split(text, ' ')) >= {SEG_TOKENS}
),
segs AS (
    SELECT doc_id,
           md5(unnest(list_transform(
               range(0, CAST(len(toks) // {SEG_TOKENS} AS INTEGER)),
               i -> array_to_string(list_slice(toks, i * {SEG_TOKENS} + 1,
                                               i * {SEG_TOKENS} + {SEG_TOKENS}), ' '))))
             AS seg_h
    FROM base
),
cnt AS (
    SELECT seg_h, CAST(COUNT(*) AS BIGINT) AS c FROM segs GROUP BY seg_h
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         / CAST(COUNT(*) AS BIGINT) AS dup_segment_frac
FROM segs JOIN cnt USING (seg_h)
GROUP BY doc_id
""",
    doc="CCNet/RefinedWeb-style segment-level duplication profile: fixed "
    "10-token segments, corpus-wide occurrence counts, per-doc duplicated-"
    "segment fraction. Segments built row-local with higher-order array "
    "functions; every shuffle keys on md5(segment), never the text.",
)
def q_doc_segment_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.segment_dup_stats(load_table(spark, sf_dir, "documents"), seg_tokens=SEG_TOKENS)


@register(
    "corpus_segment_dedup_rewrite",
    f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    WHERE len(string_split(text, ' ')) >= {SEG_TOKENS}
),
segs AS (
    SELECT doc_id, i AS pos,
           array_to_string(list_slice(toks, i * {SEG_TOKENS} + 1,
                                      i * {SEG_TOKENS} + {SEG_TOKENS}), ' ') AS seg
    FROM base, UNNEST(range(0, CAST(len(toks) // {SEG_TOKENS} AS BIGINT))) AS u(i)
),
ranked AS (
    SELECT doc_id, pos, seg,
           ROW_NUMBER() OVER (PARTITION BY md5(seg) ORDER BY doc_id, pos) AS rn
    FROM segs
)
SELECT doc_id,
       COALESCE(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '')
           AS clean_text,
       CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed
FROM ranked
GROUP BY doc_id
""",
    doc="C4-style corpus segment dedup as a REWRITE, not a report "
    "(operators/text.py:segment_dedup_rewrite): keep the first "
    "(doc_id, pos) occurrence of every 10-token segment corpus-wide, "
    "drop all later occurrences, reassemble each document from its "
    "surviving segments in position order. The transform a 100 TB "
    "curation run applies after doc_segment_dup_stats has measured the "
    "duplication — one md5(segment)-keyed window shuffle, one doc-id "
    "reassembly shuffle.",
)
def q_corpus_segment_dedup_rewrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return text.segment_dedup_rewrite(load_table(spark, sf_dir, "documents"), seg_tokens=SEG_TOKENS)


@register(
    "corpus_curation_funnel",
    """
WITH f AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           (CAST(len(string_split(text, ' ')) AS BIGINT) >= 20
            AND CAST(len(string_split(text, ' ')) AS BIGINT) <= 100000
            AND CAST(length(replace(text, ' ', '')) AS BIGINT)
                  / CAST(len(string_split(text, ' ')) AS BIGINT) >= 2.0
            AND CAST(length(replace(text, ' ', '')) AS BIGINT)
                  / CAST(len(string_split(text, ' ')) AS BIGINT) <= 12.0
            AND CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                         ['the', 'a', 'of', 'and', 'to', 'in'])) AS BIGINT) >= 2
            AND CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                  / CAST(len(string_split(text, ' ')) AS BIGINT) >= 0.1) AS g,
           md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp
    FROM documents
),
r AS (
    SELECT n_tokens, g,
           (g AND ROW_NUMBER() OVER (PARTITION BY fp, g ORDER BY doc_id) = 1)
               AS keeper
    FROM f
)
SELECT 'stage0_raw' AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM r
UNION ALL
SELECT 'stage1_quality',
       CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN g THEN n_tokens ELSE 0 END) AS BIGINT)
FROM r
UNION ALL
SELECT 'stage2_dedup',
       CAST(SUM(CASE WHEN keeper THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN keeper THEN n_tokens ELSE 0 END) AS BIGINT)
FROM r
""",
    doc="Curation funnel report: docs/tokens surviving each pipeline "
    "stage (raw -> Gopher quality gate -> exact dedup) — the ops "
    "artifact a curation run publishes so a collapsed stage is visible "
    "as a number, not a downstream surprise. ONE pass: cumulative "
    "boolean stage flags per doc (keeper ranked within (fingerprint, "
    "gate) so dedup applies among quality survivors, matching the "
    "pipeline's stage order), a single-row conditional aggregate, and a "
    "3-row unpivot — no per-stage rescans, the only shuffle is the "
    "fingerprint window.",
)
def q_corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.gopher_passes("text").alias("g"),
        text.fingerprint("text").alias("fp"),
    )
    w = Window.partitionBy("fp", "g").orderBy("doc_id")
    r = d.select(
        "n_tokens",
        "g",
        (F.col("g") & (F.row_number().over(w) == 1)).alias("keeper"),
    )
    one = r.agg(
        F.count("*").alias("d0"),
        F.sum("n_tokens").alias("t0"),
        F.sum(F.when(F.col("g"), 1).otherwise(0)).cast("long").alias("d1"),
        F.sum(F.when(F.col("g"), F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("t1"),
        F.sum(F.when(F.col("keeper"), 1).otherwise(0)).cast("long").alias("d2"),
        F.sum(F.when(F.col("keeper"), F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("t2"),
    )
    return one.selectExpr(
        "stack(3, 'stage0_raw', d0, t0,"
        " 'stage1_quality', d1, t1,"
        " 'stage2_dedup', d2, t2) AS (stage, n_docs, n_tokens)"
    )


@register(
    "corpus_curation_pipeline",
    """
WITH gated AS (
    SELECT doc_id, lang, text,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
    WHERE CAST(len(string_split(text, ' ')) AS BIGINT) >= 20
      AND CAST(len(string_split(text, ' ')) AS BIGINT) <= 100000
      AND CAST(length(replace(text, ' ', '')) AS BIGINT)
            / CAST(len(string_split(text, ' ')) AS BIGINT) >= 2.0
      AND CAST(length(replace(text, ' ', '')) AS BIGINT)
            / CAST(len(string_split(text, ' ')) AS BIGINT) <= 12.0
      AND CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                   ['the', 'a', 'of', 'and', 'to', 'in'])) AS BIGINT) >= 2
      AND CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
            / CAST(len(string_split(text, ' ')) AS BIGINT) >= 0.1
),
deduped AS (
    SELECT doc_id, lang, n_tokens FROM gated
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g'))
        ORDER BY doc_id) = 1
),
split_assigned AS (
    SELECT lang, n_tokens,
           CASE WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) % 100 < 90 THEN 'train'
                WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) % 100 < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM deduped
)
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM split_assigned
GROUP BY split, lang
""",
    doc="The composed end-to-end curation pipeline: Gopher quality gate "
    "-> exact dedup (min-id keeper per normalized-md5 fingerprint) -> "
    "reproducible 90/5/5 hash split -> per-(split, lang) doc/token "
    "totals. One fingerprint shuffle + one tiny final aggregate; the "
    "gate is a pushed-down scan filter, so at 100 TB rejected docs "
    "never reach the shuffle.",
)
def q_corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(text.gopher_passes("text"))
    kept = dedup_exact(d)
    b = text.split_bucket("doc_id")
    split = (
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test").alias("split")
    )
    return (
        kept.select("lang", split, text.token_count("text").alias("n_tokens"))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


TOKEN_BUDGET = 15_000
QB_BUCKETS = 1000


@register(
    "corpus_token_budget_selection",
    f"""
WITH d AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           ({QB_BUCKETS} * CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT))
               // CAST(len(string_split(text, ' ')) AS BIGINT) AS qb
    FROM documents
),
sel AS (
    SELECT doc_id, qb, n_tokens,
           COALESCE(CAST(SUM(n_tokens) OVER (
               ORDER BY qb DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS tokens_before
    FROM d
)
SELECT doc_id, qb, n_tokens, tokens_before
FROM sel WHERE tokens_before < {TOKEN_BUDGET}
""",
    doc="Greedy highest-quality-first corpus selection under a total "
    "token budget. The oracle IS the naive spec — one global window over "
    "(quality DESC, id) — while the engine computes the identical prefix "
    "sum with no global sort: per-bucket totals, a broadcast cumulative "
    "over <=1000 bucket rows, and bucket-partitioned per-doc windows "
    "(operators/text.py:token_budget_selection). Hash-equality of the "
    "two is the proof the decomposition is exact.",
)
def q_corpus_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_budget_selection(
        load_table(spark, sf_dir, "documents"), budget=TOKEN_BUDGET, quality_buckets=QB_BUCKETS
    )


SOURCE_CAP = 15
CAP_SALT = "cap:"


@register(
    "doc_source_caps",
    f"""
SELECT doc_id, source FROM (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CAST('0x' || substr(md5('{CAP_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8)
                             AS BIGINT) % 2147483647,
                        doc_id) AS rn
    FROM documents) t
WHERE rn <= {SOURCE_CAP}
""",
    doc="Per-source document cap: keep at most N docs per source, chosen "
    "by salted-md5 hash order (id tiebreak) so the kept subset is a "
    "reproducible uniform sample of each source rather than scan-order "
    "head. The domain-limiter of web-corpus mixes; one per-source "
    "window, no global structure.",
)
def q_doc_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.source_cap_sample(
        load_table(spark, sf_dir, "documents"), cap=SOURCE_CAP, salt=CAP_SALT
    )


CHUNK_SIZE, CHUNK_STRIDE, CHUNK_MIN = 32, 24, 8


@register(
    "doc_chunk_windows",
    f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, toks, unnest(range(0, len(toks), {CHUNK_STRIDE})) AS strt FROM t),
c AS (SELECT doc_id, CAST(strt // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
             list_slice(toks, strt + 1, strt + {CHUNK_SIZE}) AS ch FROM s)
SELECT doc_id, chunk_id, CAST(len(ch) AS BIGINT) AS n_tokens,
       array_to_string(ch, ' ') AS chunk_text
FROM c WHERE len(ch) >= {CHUNK_MIN}
""",
    doc="Overlapping token-window chunking (operators/text.py:"
    "chunk_documents): context-window prep — 32-token chunks every 24 "
    "tokens, sub-8-token tails dropped, (doc_id, chunk_id) stable key. "
    "Map-only: per-row array slice + posexplode, zero shuffle; chunking "
    "100 TB inherits the scan's partitioning end to end.",
)
def q_doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_documents(
        load_table(spark, sf_dir, "documents"),
        chunk_size=CHUNK_SIZE,
        stride=CHUNK_STRIDE,
        min_tokens=CHUNK_MIN,
    )


@register(
    "doc_chunk_windows_udtf",
    f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, toks, unnest(range(0, len(toks), {CHUNK_STRIDE})) AS strt FROM t),
c AS (SELECT doc_id, CAST(strt // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
             list_slice(toks, strt + 1, strt + {CHUNK_SIZE}) AS ch FROM s)
SELECT doc_id, chunk_id, CAST(len(ch) AS BIGINT) AS n_tokens,
       array_to_string(ch, ' ') AS chunk_text
FROM c WHERE len(ch) >= {CHUNK_MIN}
""",
    doc="Python UDTF twin of doc_chunk_windows (operators/text.py:"
    "chunk_documents_udtf): the Spark 4 user-defined TABLE function API "
    "— @udtf class applied per row via DataFrame.lateralJoin with an "
    ".outer() correlated column, Arrow-batched (ArrowEvalPythonUDTF, "
    "never row-pickled). Same oracle as the relational form: the "
    "relational chunker stays the codegen'd hot path; the UDTF is the "
    "pinned escape hatch for chunkers that genuinely need imperative "
    "Python (sentence segmenters, tokenizer-aware splitters).",
)
def q_doc_chunk_windows_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_documents_udtf(
        load_table(spark, sf_dir, "documents"),
        chunk_size=CHUNK_SIZE,
        stride=CHUNK_STRIDE,
        min_tokens=CHUNK_MIN,
    )


RARITY_HEAD_MAX, RARITY_TAIL_MIN = 29.3, 40.0


@register(
    "doc_token_rarity",
    f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
tot AS (SELECT SUM(cnt) AS n_total FROM freq),
wt AS (SELECT token, CAST(FLOOR(n_total / cnt) AS BIGINT) AS wt FROM freq, tot)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(wt) AS BIGINT) AS sum_inv_freq,
       SUM(wt) / COUNT(*) AS rarity,
       CASE WHEN SUM(wt) / COUNT(*) <= {RARITY_HEAD_MAX} THEN 'head'
            WHEN SUM(wt) / COUNT(*) >= {RARITY_TAIL_MIN} THEN 'tail'
            ELSE 'middle' END AS ppl_bucket
FROM tok JOIN wt USING (token) GROUP BY doc_id
""",
    doc="CCNet-style corpus-frequency gate (operators/text.py:"
    "token_rarity_stats): per-doc mean inverse token frequency with an "
    "exact-int kernel (floor(N/cnt) per token — partition-order-free "
    "int64 sums instead of libm log-prob floats, per the repo's rational-"
    "kernel rule), bucketed head/middle/tail like the published "
    "perplexity filter. One vocab-sized count, one token join, one "
    "doc agg.",
)
def q_doc_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_rarity_stats(
        load_table(spark, sf_dir, "documents"),
        head_max=RARITY_HEAD_MAX,
        tail_min=RARITY_TAIL_MIN,
    )


_CLS_W = ", ".join(str(w) for w in text.classifier_weights())


@register(
    "doc_classifier_gate",
    f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tw AS (SELECT doc_id,
              ([{_CLS_W}])[CAST(CAST('0x' || substr(md5(token), 1, 8) AS BIGINT)
                                % {text.CLASSIFIER_BUCKETS} AS INTEGER) + 1] AS wt
       FROM tok)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       SUM(wt) / (1000 * COUNT(*)) AS score,
       (SUM(wt) >= 0) AS label
FROM tw GROUP BY doc_id
""",
    doc="fastText-style hashed linear classifier gate (operators/text.py:"
    "hashed_classifier_score): md5-bucketed bag-of-tokens features, fixed "
    "integer weight table (deterministic fixture stand-in for trained "
    "weights — the inference shape is exactly a trained model's), "
    "per-doc mean weight score and keep/drop label. Weight table is a "
    "plan literal; exact-int sums; one doc-keyed agg is the only "
    "shuffle.",
)
def q_doc_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.hashed_classifier_score(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------- text ----


@register(
    "doc_token_stats",
    """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       COUNT(DISTINCT source) AS n_sources
FROM documents
GROUP BY lang
""",
    doc="Corpus token statistics per language tag.",
)
def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(text.token_count("text")).alias("sum_tokens"),
        F.sum("n_chars").alias("sum_chars"),
        F.count_distinct(F.col("source")).alias("n_sources"),
    )


@register(
    "doc_quality_features",
    """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_uniq,
       len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS uniq_ratio,
       (length(text) - (len(string_split(text, ' ')) - 1)) / len(string_split(text, ' ')) AS mean_token_len,
       len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in'))) / len(string_split(text, ' ')) AS stopword_ratio
FROM documents
""",
    doc="Per-document quality features (row-level parity): lexical diversity, token length, stopword ratio.",
)
def q_doc_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_features(load_table(spark, sf_dir, "documents"))


# The DuckDB rendering of operators/text.py:quality_score_col — the ONE
# shared copy (also used by the curriculum oracle) so a
# threshold tweak cannot desynchronize the two registrations.
QUALITY_SQL = """(CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0 END
      + CASE WHEN len(string_split(text, ' ')) <= 2000 THEN 1 ELSE 0 END
      + CASE WHEN len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) >= 0.2 THEN 1 ELSE 0 END
      + CASE WHEN len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in'))) / len(string_split(text, ' ')) >= 0.01 THEN 1 ELSE 0 END
       )"""


@register(
    "doc_quality_score",
    f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       {QUALITY_SQL} AS quality_score
FROM documents
""",
    doc="Composite heuristic quality gate (Gopher/C4-style thresholded features).",
)
def q_doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(load_table(spark, sf_dir, "documents"))


_LANG_SCORE = {
    lang: "len(list_filter(list_distinct(string_split(text, ' ')), t -> t IN ({})))".format(
        ",".join(f"'{m}'" for m in markers)
    )
    for lang, markers in sorted(text.LANG_MARKERS.items())
}
_LANG_CASE = "CASE " + " ".join(
    f"WHEN {_LANG_SCORE[lang]} > 0 AND {_LANG_SCORE[lang]} = g.best THEN '{lang}'"
    for lang in sorted(_LANG_SCORE)
) + " ELSE 'und' END"


@register(
    "doc_lang_id",
    f"""
SELECT doc_id, {_LANG_CASE} AS pred_lang
FROM documents,
     LATERAL (SELECT greatest({", ".join(_LANG_SCORE[lang] for lang in sorted(_LANG_SCORE))}) AS best) g
""",
    doc="Marker-stopword language ID heuristic; deterministic lexicographic tie-break.",
)
def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(load_table(spark, sf_dir, "documents"))


@register(
    "token_frequency_top20",
    """
SELECT token, COUNT(*) AS freq
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
ORDER BY freq DESC, token
LIMIT 20
""",
    doc="Corpus token frequency (word-count shape) with deterministic top-k.",
)
def q_token_frequency_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        text.token_frequencies(load_table(spark, sf_dir, "documents"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
    )


@register(
    "doc_subword_token_stats",
    f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{text.SUBWORD_PATTERN}')) AS BIGINT) AS n_subword_tokens
FROM documents
""",
    doc="BPE-ish regex token counting (alnum runs + punctuation marks) next "
    "to the whitespace count — the cheap subword-cost estimate a training "
    "pipeline budgets with; identical RE2/Java-compatible pattern both sides.",
)
def q_doc_subword_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count("text").alias("n_ws_tokens"),
        text.subword_token_count("text").alias("n_subword_tokens"),
    )


_QUALITY_SCORE_SQL = """
  (CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0 END
 + CASE WHEN len(string_split(text, ' ')) <= 2000 THEN 1 ELSE 0 END
 + CASE WHEN len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) >= 0.2 THEN 1 ELSE 0 END
 + CASE WHEN len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in'))) / len(string_split(text, ' ')) >= 0.01 THEN 1 ELSE 0 END)
"""


@register(
    "tfidf_top_terms",
    """
WITH pairs AS (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT id, term, COUNT(*) AS tf FROM pairs GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(DISTINCT id) AS df FROM pairs GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
SELECT id AS doc_id, term, tf, df, tf * n_docs / df AS score, rank
FROM (
    SELECT t.id, t.term, t.tf, d.df, n.n_docs,
           ROW_NUMBER() OVER (PARTITION BY t.id
                              ORDER BY t.tf * n.n_docs / d.df DESC, t.term)
             AS rank
    FROM tf t JOIN dfreq d ON t.term = d.term, n
)
WHERE rank <= 3
""",
    doc="Top-3 characteristic terms per document by TF-IDF with rational "
    "idf (tf*N/df — same per-doc ordering as ln(N/df), but a single exact "
    "integer division instead of a libm-dependent transcendental). "
    "Explode → word-count → broadcast df join → per-doc top-k window.",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"), top_k=3)


@register(
    "corpus_clean_lang_stats",
    f"""
WITH {DOCUMENTS_WITH_DUPS_ORACLE_CTE},
filtered AS (
    SELECT * FROM docs_dup WHERE {_QUALITY_SCORE_SQL} >= 3
),
keepers AS (
    SELECT * FROM filtered
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g'))
        ORDER BY doc_id) = 1
)
SELECT {_LANG_CASE} AS pred_lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
FROM keepers,
     LATERAL (SELECT greatest({", ".join(_LANG_SCORE[lang] for lang in sorted(_LANG_SCORE))}) AS best) g
GROUP BY 1
""",
    doc="The composed C4-style corpus cleanup: quality-gate filter (inline "
    "in the scan projection — no self-join) -> exact dedup keepers (one "
    "fingerprint shuffle) -> language-ID rollup, over the dup-planted "
    "corpus. One pipeline, two shuffles total; the oracle replays the "
    "identical three stages in SQL.",
)
def q_corpus_clean_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = documents_with_dups(spark, sf_dir)
    filtered = d.where(text.quality_score_col("text") >= 3)
    keepers = dedup.dedup_exact(filtered)
    return keepers.groupBy(
        text.lang_pred_col("text").alias("pred_lang")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(text.token_count("text")).alias("sum_tokens"),
    )


@register(
    "doc_robust_stats_by_lang",
    """
WITH m AS (
    SELECT lang, quantile_cont(n_chars, 0.5) AS med
    FROM documents GROUP BY lang
)
SELECT d.lang, COUNT(*) AS n_docs,
       ANY_VALUE(m.med) AS median_val,
       quantile_cont(abs(d.n_chars - m.med), 0.5) AS mad_val
FROM documents d JOIN m ON d.lang = m.lang
GROUP BY d.lang
""",
    doc="Arrow grouped-map custom aggregate (applyInPandas): per-language "
    "median + MAD of document length — order statistics no mergeable "
    "built-in agg computes; one group-key shuffle then vectorized numpy "
    "per Arrow batch. numpy median == quantile_cont(0.5) bit-for-bit on "
    "integer inputs.",
)
def q_doc_robust_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pandas_agg import grouped_robust_stats

    return grouped_robust_stats(load_table(spark, sf_dir, "documents"), "lang", "n_chars")


@register(
    "doc_split_assignment",
    """
WITH s AS (
    SELECT lang,
           CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
             AS bucket
    FROM documents
)
SELECT lang,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM s GROUP BY 1, 2
""",
    doc="Reproducible train/val/test assignment: salted-md5 hash bucket of "
    "the doc id (90/5/5) — stable across runs, engines, partitionings, and "
    "corpus growth, unlike rand(seed) which is partition-order sensitive. "
    "Counts per (lang, split) cross-checked.",
)
def q_doc_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = text.split_bucket("doc_id")
    split = (
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test").alias("split")
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("lang", split)
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "doc_packing_bins",
    """
WITH t AS (
    SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens,
           SUM(len(string_split(text, ' '))) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
    FROM documents
)
SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(FLOOR((cum - n_tokens) / 2048) AS BIGINT) AS bin,
       CAST(cum - n_tokens - FLOOR((cum - n_tokens) / 2048) * 2048 AS BIGINT)
         AS bin_offset_tokens
FROM t
""",
    doc="Greedy sequence packing to 2048-token context windows within each "
    "source: deterministic order + running cumsum, bin = floor(prefix / "
    "budget) — the distributed formulation of pretraining document "
    "packing; one group-key shuffle, no global sort.",
)
def q_doc_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pack_documents(load_table(spark, sf_dir, "documents"), budget_tokens=2048)


@register(
    "doc_lang_confusion",
    f"""
SELECT lang AS true_lang, {_LANG_CASE} AS pred_lang, COUNT(*) AS n_docs
FROM documents,
     LATERAL (SELECT greatest({", ".join(_LANG_SCORE[lang] for lang in sorted(_LANG_SCORE))}) AS best) g
GROUP BY 1, 2
""",
    doc="Language-ID confusion matrix: predicted vs fixture label counts — "
    "the heuristic-evaluation artifact a pipeline monitors before trusting "
    "a classifier gate; single narrow projection + one small rollup.",
)
def q_doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("true_lang"),
            text.lang_pred_col("text").alias("pred_lang"),
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


BM25_QUERY_TERMS = ["vector", "stream", "window"]


# ------------------------------------------------------------ retrieval ----


@register(
    "bm25_score_docs",
    """
WITH occ AS (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
    SELECT id, token, COUNT(*) AS tf FROM occ
    WHERE token IN ('vector', 'stream', 'window')
    GROUP BY id, token
),
dl AS (SELECT doc_id AS id, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
dfreq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY token),
idf AS (
    SELECT token, ln(1.0 + (n_docs - dfreq + 0.5) / (dfreq + 0.5)) AS idf
    FROM dfreq CROSS JOIN stats
),
per AS (
    SELECT tf.id,
           CAST(ROUND(idf.idf * (tf.tf * (1.2 + 1))
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             * 1000000000) AS BIGINT) AS w_nano
    FROM tf JOIN idf USING (token) JOIN dl ON tf.id = dl.id CROSS JOIN stats
)
SELECT id AS doc_id, COUNT(*) AS n_terms_matched,
       CAST(SUM(w_nano) AS BIGINT) / 1e9 AS bm25
FROM per GROUP BY id
""",
    doc="Okapi BM25 relevance score per document for a fixed query-term "
    "set, computed as join+agg over term statistics (no index service, "
    "no UDF); the idf table is query-term-sized (bounded by the query, "
    "not the vocabulary), which is what makes its broadcast legitimate. "
    "Weights quantized to the 1e-9 exactmath grid before the BIGINT sum.",
)
def q_bm25_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.bm25_scores(
        load_table(spark, sf_dir, "documents"), BM25_QUERY_TERMS
    )


@register(
    "doc_unigram_logprob",
    """
WITH occ AS (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token FROM documents
),
model AS (SELECT token, COUNT(*) AS cnt FROM occ GROUP BY token),
total AS (SELECT SUM(cnt) AS total FROM model),
lp AS (SELECT token,
              CAST(ROUND(ln(cnt / total) * 1000000000) AS BIGINT) AS lp_nano
       FROM model CROSS JOIN total)
SELECT id AS doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(lp_nano) AS BIGINT) / COUNT(*) / 1e9 AS mean_logprob
FROM occ JOIN lp USING (token) GROUP BY id
""",
    doc="Mean unigram log-probability per document under the corpus-MLE "
    "unigram model — the KenLM-lite fluency/outlier quality proxy "
    "(CCNet-style plumbing); model build + scoring are one shuffle each.",
)
def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.unigram_logprob_scores(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------- weighted sampling ----


@register(
    "doc_weighted_sample",
    """
WITH keyed AS (
    SELECT doc_id, n_chars,
           ROUND(ln((CAST('0x' || substr(md5('ws|' || CAST(doc_id AS VARCHAR)),
                          1, 13)
                AS BIGINT) + 1) / 4503599627370497) / n_chars
                 * 1000000000) / 1e9 AS samp_key
    FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, samp_key
FROM keyed ORDER BY samp_key DESC, doc_id LIMIT 200
""",
    doc="Deterministic weighted sampling without replacement "
    "(Efraimidis-Spirakis A-ES): key = ln(u)/w with u a md5-derived "
    "uniform, take the top-k keys — weight-proportional inclusion with "
    "NO random state, reproducible across engines and retries; top-k "
    "plans as TakeOrderedAndProject, never a global sort.",
)
def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    # 13 md5 hex chars = 52 bits: exact in a double, u in (0, 1)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ws|"), F.col("doc_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + 1
    ) / F.lit(float(2**52 + 1))
    # Parity rule (exactmath): ln() can differ cross-engine in the last
    # ulp, and the key both ORDERS the top-k cut and appears in the
    # output — quantize it to a 1e-9 grid so selection boundary and
    # emitted cells are engine-exact (ties broken by doc_id).
    keyed = d.select(
        "doc_id",
        "n_chars",
        (
            F.round(F.log(u) / F.col("n_chars") * 1_000_000_000) / F.lit(1e9)
        ).alias("samp_key"),
    )
    return keyed.orderBy(F.col("samp_key").desc(), "doc_id").limit(200)


# ------------------------------------------------- quality percentiles ----


@register(
    "doc_quality_percentile_by_lang",
    """
WITH feat AS (
    SELECT doc_id, lang,
           len(list_distinct(string_split(text, ' ')))
             / len(string_split(text, ' ')) AS uniq_ratio
    FROM documents
)
SELECT doc_id, lang, uniq_ratio,
       PERCENT_RANK() OVER (PARTITION BY lang ORDER BY uniq_ratio, doc_id) AS pr,
       NTILE(10) OVER (PARTITION BY lang ORDER BY uniq_ratio, doc_id) AS decile
FROM feat
""",
    doc="Per-language quality percentile and decile of lexical "
    "diversity — the rank-normalization step a curation pipeline uses "
    "to apply one quality bar across languages with different score "
    "distributions; doc_id tie-break makes ranks a pure function of "
    "the data.",
)
def q_doc_quality_percentile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import token_count, unique_token_count

    d = load_table(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id",
        "lang",
        (unique_token_count("text") / token_count("text")).alias("uniq_ratio"),
    )
    w = Window.partitionBy("lang").orderBy("uniq_ratio", "doc_id")
    return feat.select(
        "doc_id",
        "lang",
        "uniq_ratio",
        F.percent_rank().over(w).alias("pr"),
        F.ntile(10).over(w).alias("decile"),
    )


@register(
    "doc_length_bucket_batches",
    """
WITH d AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5('lbb:' || CAST(doc_id AS VARCHAR)) AS hk
    FROM documents WHERE len(string_split(text, ' ')) > 0
),
b AS (
    SELECT doc_id, n_tokens, hk,
           n_tokens // 64 AS bucket,
           substr(hk, 1, 1) AS shard
    FROM d
),
r AS (
    SELECT bucket, shard, n_tokens,
           (ROW_NUMBER() OVER (
               PARTITION BY bucket, shard ORDER BY hk, doc_id) - 1) // 32
               AS batch_idx
    FROM b
)
SELECT bucket, shard, CAST(batch_idx AS BIGINT) AS batch_idx,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(n_tokens) AS BIGINT) AS batch_max_tokens,
       CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS pad_waste
FROM r GROUP BY bucket, shard, batch_idx
""",
    doc="Length-bucketed dynamic batching for padded inference "
    "(operators/text.py:length_bucket_batches): docs of similar token "
    "length grouped into fixed-size batches so padding waste stays "
    "small. Shards FIRST (md5 prefix), then windows only within "
    "(bucket, shard) — every window partition is a bounded slice of one "
    "length bucket however large the corpus, and waste stays near-"
    "optimal because lengths within a bucket differ by < bucket_width "
    "regardless of shard. Exact-integer waste accounting.",
)
def q_doc_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text.length_bucket_batches(
        load_table(spark, sf_dir, "documents"), bucket_width=64, batch_size=32
    )


@register(
    "corpus_curriculum_order",
    f"""
WITH d AS (
    SELECT doc_id, source, {QUALITY_SQL} AS quality FROM documents
),
s AS (
    SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS src_idx
    FROM (SELECT DISTINCT source FROM documents)
),
n AS (SELECT COUNT(*) AS n_src FROM s),
r AS (
    SELECT doc_id, source, quality,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id) AS BIGINT)
               AS round
    FROM d
)
SELECT r.doc_id, r.source, r.quality, r.round,
       CAST((r.round - 1) * (SELECT n_src FROM n) + s.src_idx AS BIGINT)
           AS global_pos
FROM r JOIN s USING (source)
""",
    doc="Curriculum ordering with source interleaving "
    "(operators/text.py:curriculum_interleave): rank best-first WITHIN "
    "each source, then round-robin the sources — training consumes a "
    "stable source mix at every quality tier instead of exhausting the "
    "best source first. Global position is the closed form "
    "(round-1)*n_sources + source_index: no global sort, the only "
    "corpus-wide shuffle is the per-source ranking window (decomposable "
    "over quality buckets at extreme scale, SCALE_NOTES §12), and the "
    "source dimension is a bounded broadcast join.",
)
def q_corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text.curriculum_interleave(load_table(spark, sf_dir, "documents"))


# ------------------------------------------ packing / decontamination ----


PACK_SEQ_LEN = 512


@register(
    "corpus_pack_sequences",
    f"""
WITH d AS (
    SELECT doc_id AS id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5('pack:' || CAST(doc_id AS VARCHAR)) AS hk
    FROM documents
    WHERE len(string_split(text, ' ')) > 0
),
o AS (
    SELECT id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY hk, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
    FROM d
),
s AS (
    SELECT id, n_tokens, off,
           unnest(range(off // {PACK_SEQ_LEN},
                        (off + n_tokens - 1) // {PACK_SEQ_LEN} + 1)) AS bin
    FROM o
)
SELECT id, CAST(bin AS BIGINT) AS bin,
       CAST(GREATEST(0, bin * {PACK_SEQ_LEN} - off) AS BIGINT) AS start_in_doc,
       CAST(GREATEST(0, off - bin * {PACK_SEQ_LEN}) AS BIGINT) AS start_in_bin,
       CAST(LEAST(n_tokens, (bin + 1) * {PACK_SEQ_LEN} - off)
            - GREATEST(0, bin * {PACK_SEQ_LEN} - off) AS BIGINT) AS n_tok
FROM s
""",
    doc="Concat-and-chunk sequence packing to fixed "
    f"{PACK_SEQ_LEN}-token training rows "
    "(operators/text.py:pack_training_sequences): documents laid "
    "end-to-end in deterministic salted-hash order and cut at bin "
    "boundaries, docs splitting across bins GPT-style — unlike "
    "doc_packing_bins, which assigns whole docs greedily within each "
    "source. The oracle is the literal single-window prefix sum; the "
    "Spark plan decomposes it over 4096 order-aligned hash buckets "
    "(bucket = integer prefix of the sort key) so no window ever sees "
    "more than ~1/4096 of the corpus and the only global structure is "
    "a broadcast of the cumulative bucket totals.",
)
def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text.pack_training_sequences(
        load_table(spark, sf_dir, "documents"), seq_len=PACK_SEQ_LEN
    )


DRIFT_TOP_V = 256
DRIFT_SCALE = 10**12


@register(
    "source_token_drift",
    f"""
WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
corpus AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS g FROM tok GROUP BY token),
topv AS (SELECT token, g FROM corpus ORDER BY g DESC, token ASC LIMIT {DRIFT_TOP_V}),
gt AS (SELECT CAST(SUM(g) AS BIGINT) AS big_g FROM topv),
sc AS (
    SELECT source, tok.token, g, CAST(COUNT(*) AS BIGINT) AS c
    FROM tok JOIN topv ON tok.token = topv.token
    GROUP BY source, tok.token, g
),
ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM sc GROUP BY source),
terms AS (
    SELECT sc.source,
           CAST(ROUND(ABS(CAST(c AS DOUBLE) / n - CAST(g AS DOUBLE) / big_g)
                      * {DRIFT_SCALE}) AS BIGINT) AS term,
           CAST(ROUND((CAST(g AS DOUBLE) / big_g) * {DRIFT_SCALE}) AS BIGINT) AS qterm
    FROM sc JOIN ns ON sc.source = ns.source CROSS JOIN gt
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_present,
       (SUM(term) + ({DRIFT_SCALE} - SUM(qterm))) / {float(2 * DRIFT_SCALE)} AS tv_drift
FROM terms GROUP BY source
""",
    doc="Per-source corpus drift: total-variation distance between each "
    "source's unigram distribution and the corpus distribution, both "
    "renormalized over the corpus top-256 tokens "
    "(operators/text.py:token_drift_by_source) — the mixture-monitoring "
    "statistic that catches a source whose content shifted. Per-term "
    "|p - q| doubles are quantized to an integer 1e-12 grid and summed "
    "as BIGINT (the exactmath discipline: double sums are accumulation-"
    "order-dependent, integer sums are not), so Spark and the oracle "
    "agree bit-for-bit. Top-V is TakeOrdered, never a global sort; the "
    "only corpus-sized exchange is the (source, token) count shuffle.",
)
def q_source_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text.token_drift_by_source(
        load_table(spark, sf_dir, "documents"),
        top_v=DRIFT_TOP_V,
        scale=DRIFT_SCALE,
    )


@register(
    "doc_bigram_logprob",
    """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    WHERE len(string_split(text, ' ')) >= 2
),
occ AS (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, len(ts)),
                                 i -> ts[i] || chr(31) || ts[i + 1])) AS bigram
    FROM toks
),
uni AS (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
um AS (SELECT token, COUNT(*) AS cnt_u FROM uni GROUP BY token),
bm AS (SELECT bigram, COUNT(*) AS cnt_b FROM occ GROUP BY bigram),
lp AS (
    SELECT bigram,
           CAST(ROUND(ln(CAST(cnt_b AS DOUBLE) / cnt_u) * 1000000000) AS BIGINT)
               AS lp_nano
    FROM bm JOIN um ON split_part(bm.bigram, chr(31), 1) = um.token
)
SELECT id AS doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(lp_nano) AS BIGINT) / COUNT(*) / 1e9 AS mean_logprob
FROM occ JOIN lp USING (bigram)
GROUP BY id
""",
    doc="Mean bigram log-probability per doc under the corpus-MLE bigram "
    "model P(t2|t1)=cnt(t1 t2)/cnt(t1) — order-sensitive fluency score "
    "(unigram's blind spot); vocab-level nano-grid ln, exact-int sums.",
)
def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.bigram_logprob_scores(load_table(spark, sf_dir, "documents"))


VOCAB_SIZE = 60


@register(
    "corpus_vocab_oov",
    f"""
WITH occ AS (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token FROM documents
),
vocab AS (
    SELECT token FROM occ GROUP BY token
    ORDER BY COUNT(*) DESC, token LIMIT {VOCAB_SIZE}
)
SELECT id AS doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
       CAST(SUM(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           / COUNT(*) AS oov_rate
FROM occ LEFT JOIN vocab ON occ.token = vocab.token
GROUP BY id
""",
    doc="Per-doc OOV rate against the corpus's top-N token vocabulary "
    "(count-desc, token-asc tiebreak at the cutoff): tokenizer-coverage "
    "health check; top-k vocab via TakeOrderedAndProject, parameter-"
    "bounded broadcast join, single int/int division.",
)
def q_corpus_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.vocab_oov_rates(load_table(spark, sf_dir, "documents"), vocab_size=VOCAB_SIZE)


MIX_TEMPERATURE = 0.7
MIX_BUDGET = 100_000


@register(
    "source_temperature_mix",
    f"""
WITH counts AS (
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_docs) AS n FROM counts),
shares AS (
    SELECT source, n_docs,
           CAST(ROUND(pow(CAST(n_docs AS DOUBLE) / n, 1.0 / {MIX_TEMPERATURE})
                      * 1000000000) AS BIGINT) AS share_nano
    FROM counts CROSS JOIN tot
),
norm AS (SELECT SUM(share_nano) AS z FROM shares)
SELECT source, n_docs,
       CAST(share_nano AS DOUBLE) / z AS mix_weight,
       CAST(ROUND({MIX_BUDGET} * CAST(share_nano AS DOUBLE) / z) AS BIGINT)
           AS sample_target,
       CAST(ROUND({MIX_BUDGET} * CAST(share_nano AS DOUBLE) / z) AS BIGINT)
           / CAST(n_docs AS DOUBLE) AS epochs
FROM shares CROSS JOIN norm
""",
    doc="Temperature-scaled source mixing (p_s ~ (n_s/N)^(1/T), T=0.7): "
    "the standard up-weighting of small sources for LLM training mixes; "
    "pow() quantized to the nano grid per source, then exact-int "
    "normalization — deterministic cross-engine. epochs > 1 flags "
    "sources the budget would oversample.",
)
def q_source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = load_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count("*").alias("n_docs")
    )
    tot = counts.agg(F.sum("n_docs").alias("n"))
    shares = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(
            F.pow(F.col("n_docs") / F.col("n"), 1.0 / MIX_TEMPERATURE)
            * 1_000_000_000
        )
        .cast("long")
        .alias("share_nano"),
    )
    norm = shares.agg(F.sum("share_nano").alias("z"))
    target = F.round(F.lit(MIX_BUDGET) * F.col("share_nano") / F.col("z")).cast(
        "long"
    )
    return shares.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_docs",
        (F.col("share_nano") / F.col("z")).alias("mix_weight"),
        target.alias("sample_target"),
        (target / F.col("n_docs")).alias("epochs"),
    )


SHUFFLE_SHARDS = 16
SHUFFLE_SALT = "r5shuffle"


@register(
    "corpus_shuffle_shards",
    f"""
WITH h AS (
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR) || '{SHUFFLE_SALT}') AS hx
    FROM documents
)
SELECT doc_id,
       CAST(CAST('0x' || substr(hx, 1, 8) AS BIGINT) % {SHUFFLE_SHARDS}
            AS INTEGER) AS shard,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY CAST('0x' || substr(hx, 1, 8) AS BIGINT)
                        % {SHUFFLE_SHARDS}
           ORDER BY hx, doc_id) AS BIGINT) AS pos
FROM h
""",
    doc="Deterministic training-order shuffle: salted-md5 shard "
    "assignment + within-shard hash order — reproducible global shuffle "
    "without a global sort (the window partitions by shard); the "
    "epoch-reshuffle is a salt change, not a data move.",
)
def q_corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    hx = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(SHUFFLE_SALT)))
    d = load_table(spark, sf_dir, "documents").select("doc_id", hx.alias("hx"))
    shard = (
        F.conv(F.substring("hx", 1, 8), 16, 10).cast("long")
        % SHUFFLE_SHARDS
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    return (
        d.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


@register(
    "corpus_right_to_erasure",
    """
WITH del AS (SELECT doc_id FROM documents WHERE doc_id % 100 = 0),
docs AS (SELECT doc_id FROM documents),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
fps AS (SELECT doc_id, md5(text) AS fp FROM documents),
stats AS (
    SELECT 'documents' AS artifact,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(COUNT(CASE WHEN doc_id % 100 = 0 THEN 1 END) AS BIGINT) AS n_purged
    FROM docs
    UNION ALL
    SELECT 'fingerprints',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN doc_id % 100 = 0 THEN 1 END) AS BIGINT)
    FROM fps
    UNION ALL
    SELECT 'tokens',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN doc_id % 100 = 0 THEN 1 END) AS BIGINT)
    FROM toks
)
SELECT artifact, n_before, n_purged, n_before - n_purged AS n_after
FROM stats
""",
    doc="Right-to-erasure cascade accounting: a delete-list anti-joins "
    "every derived artifact (doc store, fingerprint index, token "
    "index) and the report reconciles before/purged/after per artifact "
    "— the deletion-propagation audit a GDPR/CCPA-compliant corpus "
    "pipeline runs after each purge. Pure key-partitioned anti-joins; "
    "the delete-list broadcast is bounded by the request volume, not "
    "the corpus.",
)
def q_corpus_right_to_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import tokens as _toks

    d = load_table(spark, sf_dir, "documents")
    deletes = d.where(F.col("doc_id") % 100 == 0).select("doc_id")
    artifacts = {
        "documents": d.select("doc_id"),
        "fingerprints": d.select("doc_id", F.md5("text").alias("fp")),
        "tokens": d.select("doc_id", F.explode(_toks("text")).alias("tok")),
    }
    out = None
    for name, art in artifacts.items():
        purged = art.join(F.broadcast(deletes), "doc_id", "left_semi")
        kept = art.join(F.broadcast(deletes), "doc_id", "left_anti")
        row = (
            art.agg(F.count("*").alias("n_before"))
            .crossJoin(purged.agg(F.count("*").alias("n_purged")))
            .crossJoin(kept.agg(F.count("*").alias("n_after")))
            .select(F.lit(name).alias("artifact"), "n_before", "n_purged", "n_after")
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "corpus_datacard",
    """
WITH fp AS (
    SELECT doc_id, lang, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5(text) AS fp
    FROM documents
),
dups AS (
    SELECT fp, COUNT(*) AS copies FROM fp GROUP BY fp
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_tokens) AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS mean_tokens,
       CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
FROM fp JOIN dups USING (fp)
GROUP BY lang, source
""",
    doc="Datasheet-style corpus card: per (lang, source) slice — doc and "
    "token volume, mean length, and exact-duplicate incidence (md5 "
    "fingerprint membership in a >1-copy group). The one-page summary a "
    "training-data release ships; two shuffles (fingerprint count + "
    "slice aggregate), integer-exact except one final division.",
)
def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import token_count

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source",
        token_count("text").alias("n_tokens"),
        F.md5("text").alias("fp"),
    )
    dups = d.groupBy("fp").agg(F.count("*").alias("copies"))
    return (
        d.join(dups, "fp")
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            (F.sum("n_tokens") / F.count("*")).alias("mean_tokens"),
            F.sum(F.when(F.col("copies") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
        )
    )


@register(
    "doc_char_entropy",
    """
WITH ch AS (
    SELECT doc_id, length(text) AS n,
           unnest(string_split(text, '')) AS c
    FROM documents WHERE length(text) > 0
),
cnt AS (
    SELECT doc_id, n, c, COUNT(*) AS k FROM ch GROUP BY doc_id, n, c
),
terms AS (
    SELECT doc_id, n,
           CAST(ROUND(-(CAST(k AS DOUBLE) / n) * ln(CAST(k AS DOUBLE) / n)
                      * 1000000000) AS BIGINT) AS t_nano
    FROM cnt
)
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
       CAST(SUM(t_nano) AS BIGINT) / 1e9 AS char_entropy
FROM terms
GROUP BY doc_id
""",
    doc="Per-document Shannon character entropy (nats): the "
    "information-density quality signal — near-zero entropy flags "
    "repeated-character junk, unusually high flags binary/encoded "
    "blobs; per-(doc, char) -p*ln(p) terms quantized to the nano grid "
    "and summed as BIGINT (the exactmath ln parity rule). One explode "
    "+ two keyed aggregates; alphabet-bounded state per doc.",
)
def q_doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    ch = d.select(
        "doc_id",
        F.length("text").alias("n"),
        F.explode(F.split(F.col("text"), "")).alias("c"),
    )
    cnt = ch.groupBy("doc_id", "n", "c").agg(F.count("*").alias("k"))
    terms = cnt.select(
        "doc_id",
        "n",
        F.round(
            -(F.col("k") / F.col("n"))
            * F.log(F.col("k") / F.col("n"))
            * 1_000_000_000
        )
        .cast("long")
        .alias("t_nano"),
    )
    return terms.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n_chars"),
        F.count("*").alias("n_distinct_chars"),
        (F.sum("t_nano") / F.lit(1e9)).alias("char_entropy"),
    )


@register(
    "doc_inverted_index",
    """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
occ AS (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, len(ts) + 1),
                                 i -> struct_pack(p := i, t := ts[i]))) AS u
    FROM toks
),
o2 AS (SELECT id, u.p AS pos, u.t AS token FROM occ),
post AS (
    SELECT token, id, COUNT(*) AS tf,
           CAST(MIN(pos) AS BIGINT) AS first_pos,
           CAST(MAX(pos) AS BIGINT) AS last_pos
    FROM o2 GROUP BY 1, 2
),
st AS (
    SELECT token, COUNT(*) AS df_docs, CAST(SUM(tf) AS BIGINT) AS cf
    FROM post GROUP BY 1
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
SELECT post.token, post.id AS doc_id, tf, first_pos, last_pos, df_docs, cf,
       CAST(ROUND(ln((n_docs + 1.0) / (df_docs + 1.0)) * 1000000000) AS BIGINT)
           / 1e9 AS idf
FROM post JOIN st ON post.token = st.token, n
""",
    doc="Positional inverted-index postings (token, doc, tf, first/last "
    "pos, df, cf, smoothed idf) — the materialized search-index build; "
    "(token, id)-keyed shuffle so stopword postings spread, vocab-level "
    "nano-grid idf.",
)
def q_doc_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.inverted_index(load_table(spark, sf_dir, "documents"))


PMI_MIN_COUNT = 5
PMI_TOP_K = 20


@register(
    "doc_pmi_collocations",
    f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
bi AS (
    SELECT unnest(list_transform(range(1, len(ts)),
                                 i -> struct_pack(a := ts[i], b := ts[i + 1]))) AS u
    FROM toks WHERE len(ts) >= 2
),
bm AS (
    SELECT u.a AS t1, u.b AS t2, COUNT(*) AS c_xy
    FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= {PMI_MIN_COUNT}
),
uni AS (SELECT unnest(ts) AS token FROM toks),
um AS (SELECT token, COUNT(*) AS c_t FROM uni GROUP BY 1),
tot AS (
    SELECT CAST(SUM(len(ts)) AS BIGINT) AS n_uni,
           CAST(SUM(greatest(len(ts) - 1, 0)) AS BIGINT) AS n_bi
    FROM toks
),
scored AS (
    SELECT t1, t2, c_xy,
           CAST(ROUND(ln((CAST(c_xy AS DOUBLE) / n_bi) /
                         ((CAST(x.c_t AS DOUBLE) / n_uni)
                          * (CAST(y.c_t AS DOUBLE) / n_uni)))
                      * 1000000000) AS BIGINT) AS pmi_nano
    FROM bm JOIN um x ON bm.t1 = x.token JOIN um y ON bm.t2 = y.token, tot
)
SELECT t1, t2, c_xy, pmi_nano / 1e9 AS pmi
FROM scored
ORDER BY pmi_nano DESC, t1, t2
LIMIT {PMI_TOP_K}
""",
    doc="Top-20 adjacent-pair collocations by PMI (Church & Hanks), "
    "min pair count 5 against the hapax artifact; vocab-level nano-grid "
    "ln, TakeOrderedAndProject top-k (heap + driver merge of k rows, no "
    "global sort), deterministic (pmi, t1, t2) tie-break.",
)
def q_doc_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.pmi_collocations(
        load_table(spark, sf_dir, "documents"), min_count=PMI_MIN_COUNT, top_k=PMI_TOP_K
    )


DSIR_BUCKETS = 256
DSIR_TARGET_SOURCE = "src0"


@register(
    "dsir_importance_weights",
    f"""
WITH tok AS (
    SELECT doc_id AS id, source = '{DSIR_TARGET_SOURCE}' AS is_target,
           unnest(string_split(text, ' ')) AS token
    FROM documents
),
occ AS (
    SELECT id, is_target,
           CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % {DSIR_BUCKETS} AS b
    FROM tok
),
hist AS (
    SELECT b, COUNT(*) AS cnt_raw,
           CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS cnt_tgt
    FROM occ GROUP BY b
),
tot AS (
    SELECT CAST(SUM(cnt_raw) AS BIGINT) AS tot_raw,
           CAST(SUM(cnt_tgt) AS BIGINT) AS tot_tgt
    FROM hist
),
llr AS (
    SELECT b,
           CAST(ROUND((ln((cnt_tgt + 1.0) / (tot_tgt + {DSIR_BUCKETS}.0))
                       - ln((cnt_raw + 1.0) / (tot_raw + {DSIR_BUCKETS}.0)))
                      * 1000000000) AS BIGINT) AS llr_nano
    FROM hist, tot
),
pdb AS (SELECT id, b, COUNT(*) AS n_b FROM occ GROUP BY 1, 2)
SELECT id AS doc_id, CAST(SUM(n_b) AS BIGINT) AS n_tokens,
       CAST(SUM(n_b * llr_nano) AS BIGINT) / 1e9 AS logweight
FROM pdb JOIN llr USING (b)
GROUP BY id
""",
    doc="DSIR importance log-weights (Xie et al. 2023): per-doc "
    "sum of hashed-unigram log-likelihood ratios target-vs-raw, "
    "add-one smoothing over 256 md5 buckets; the LLR table is O(1)-"
    "sized and broadcast, the histogram and per-doc fold are the two "
    "corpus-scale shuffles.",
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return selection.dsir_logweights(
        load_table(spark, sf_dir, "documents"),
        F.col("source") == DSIR_TARGET_SOURCE,
        n_buckets=DSIR_BUCKETS,
    )


SEG_TOKENS_R6 = 10


@register(
    "doc_intradoc_dedup_rewrite",
    f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    WHERE len(string_split(text, ' ')) >= {SEG_TOKENS_R6}
),
segs AS (
    SELECT doc_id, i AS pos,
           array_to_string(list_slice(toks, i * {SEG_TOKENS_R6} + 1,
                                      i * {SEG_TOKENS_R6} + {SEG_TOKENS_R6}), ' ') AS seg
    FROM base, UNNEST(range(0, CAST(len(toks) // {SEG_TOKENS_R6} AS BIGINT))) AS u(i)
),
ranked AS (
    SELECT doc_id, pos, seg,
           ROW_NUMBER() OVER (PARTITION BY doc_id, md5(seg)
                              ORDER BY doc_id, pos) AS rn
    FROM segs
)
SELECT doc_id,
       COALESCE(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '')
           AS clean_text,
       CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed
FROM ranked
GROUP BY doc_id
""",
    doc="WITHIN-document segment dedup rewrite (Gopher's in-doc "
    "repetition removal as a transform): keep each 10-token segment's "
    "first occurrence inside its own doc, leave cross-doc duplication "
    "to the corpus-level pass. Doc-local window — the shuffle key "
    "includes the doc id, so segment skew is bounded by one document "
    "and the reassembly reuses the same key.",
)
def q_doc_intradoc_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import text as _text

    return _text.segment_dedup_rewrite(
        load_table(spark, sf_dir, "documents"), seg_tokens=SEG_TOKENS_R6, within_doc=True
    )


PHRASE = ["table", "hash"]


@register(
    "docs_phrase_search",
    f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
occ AS (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, len(ts) + 1),
                                 i -> struct_pack(p := i, t := ts[i]))) AS u
    FROM toks
),
o2 AS (SELECT id, u.p AS pos, u.t AS token FROM occ),
p0 AS (SELECT id, pos FROM o2 WHERE token = '{PHRASE[0]}'),
p1 AS (SELECT id, pos FROM o2 WHERE token = '{PHRASE[1]}')
SELECT p0.id AS doc_id, COUNT(*) AS n_matches,
       CAST(MIN(p0.pos) AS BIGINT) AS first_pos
FROM p0 JOIN p1 ON p0.id = p1.id AND p1.pos = p0.pos + 1
GROUP BY p0.id
""",
    doc="Exact phrase query ('table hash') — the workload a POSITIONAL "
    "index exists for: posexplode pruned to the phrase's tokens, then "
    "(id, pos+offset) equi-joins; candidate volume is bounded by the "
    "rarer token's posting list, no document substring scan.",
)
def q_docs_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.phrase_search(load_table(spark, sf_dir, "documents"), PHRASE)


@register(
    "docs_conjunctive_bm25_topk",
    """
WITH occ AS (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
    SELECT id, token, COUNT(*) AS tf FROM occ
    WHERE token IN ('vector', 'stream', 'window')
    GROUP BY id, token
),
dl AS (SELECT doc_id AS id, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
dfreq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY token),
idf AS (
    SELECT token, ln(1.0 + (n_docs - dfreq + 0.5) / (dfreq + 0.5)) AS idf
    FROM dfreq CROSS JOIN stats
),
per AS (
    SELECT tf.id,
           CAST(ROUND(idf.idf * (tf.tf * (1.2 + 1))
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             * 1000000000) AS BIGINT) AS w_nano
    FROM tf JOIN idf USING (token) JOIN dl ON tf.id = dl.id CROSS JOIN stats
),
scored AS (
    SELECT id AS doc_id, COUNT(*) AS n_terms_matched,
           CAST(SUM(w_nano) AS BIGINT) AS bm25_nano
    FROM per GROUP BY id
    HAVING COUNT(*) = 3
)
SELECT doc_id, n_terms_matched, bm25_nano / 1e9 AS bm25
FROM scored
ORDER BY bm25_nano DESC, doc_id
LIMIT 10
""",
    doc="Conjunctive (AND) BM25 top-10: docs containing ALL of "
    "(vector, stream, window) ranked by BM25 — selection is a HAVING "
    "over the matched-term count the scorer already computes (no extra "
    "corpus pass); TakeOrderedAndProject top-k, (score, doc_id) "
    "tie-break on the nano grid.",
)
def q_docs_conjunctive_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:

    return retrieval.conjunctive_bm25_topk(
        load_table(spark, sf_dir, "documents"), BM25_QUERY_TERMS, k=10
    )


@register(
    "docs_bm25_hard_negatives",
    """
WITH occ AS (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
    SELECT id, token, COUNT(*) AS tf FROM occ
    WHERE token IN ('vector', 'stream', 'window')
    GROUP BY id, token
),
dl AS (SELECT doc_id AS id, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
dfreq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY token),
idf AS (
    SELECT token, ln(1.0 + (n_docs - dfreq + 0.5) / (dfreq + 0.5)) AS idf
    FROM dfreq CROSS JOIN stats
),
per AS (
    SELECT tf.id,
           CAST(ROUND(idf.idf * (tf.tf * (1.2 + 1))
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             * 1000000000) AS BIGINT) AS w_nano
    FROM tf JOIN idf USING (token) JOIN dl ON tf.id = dl.id CROSS JOIN stats
),
scored AS (
    SELECT id AS doc_id, COUNT(*) AS n_terms_matched,
           CAST(SUM(w_nano) AS BIGINT) AS bm25_nano
    FROM per GROUP BY id
    HAVING COUNT(*) < 3
)
SELECT doc_id, n_terms_matched, bm25_nano / 1e9 AS bm25
FROM scored
ORDER BY bm25_nano DESC, doc_id
LIMIT 10
""",
    doc="BM25 hard-negative mining for contrastive retrieval training: "
    "the top-scoring docs that match SOME but not ALL query terms — "
    "lexically close, semantically incomplete, exactly the negatives "
    "a dual-encoder needs. Same scorer pass as the conjunctive search "
    "with the HAVING inverted; TakeOrderedAndProject top-k.",
)
def q_docs_bm25_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:

    scored = retrieval.bm25_scores(load_table(spark, sf_dir, "documents"), BM25_QUERY_TERMS)
    return (
        scored.where(F.col("n_terms_matched") < len(BM25_QUERY_TERMS))
        .withColumn("bm25_nano", F.round(F.col("bm25") * 1e9).cast("long"))
        .orderBy(F.desc("bm25_nano"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", "n_terms_matched", "bm25")
    )


DSIR_BUDGET = 15_000
DSIR_QB = 1000


@register(
    "dsir_token_budget_selection",
    f"""
WITH tok AS (
    SELECT doc_id AS id, source = '{DSIR_TARGET_SOURCE}' AS is_target,
           unnest(string_split(text, ' ')) AS token
    FROM documents
),
occ AS (
    SELECT id, is_target,
           CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % {DSIR_BUCKETS} AS b
    FROM tok
),
hist AS (
    SELECT b, COUNT(*) AS cnt_raw,
           CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS cnt_tgt
    FROM occ GROUP BY b
),
tot AS (
    SELECT CAST(SUM(cnt_raw) AS BIGINT) AS tot_raw,
           CAST(SUM(cnt_tgt) AS BIGINT) AS tot_tgt
    FROM hist
),
llr AS (
    SELECT b,
           CAST(ROUND((ln((cnt_tgt + 1.0) / (tot_tgt + {DSIR_BUCKETS}.0))
                       - ln((cnt_raw + 1.0) / (tot_raw + {DSIR_BUCKETS}.0)))
                      * 1000000000) AS BIGINT) AS llr_nano
    FROM hist, tot
),
pdb AS (SELECT id, b, COUNT(*) AS n_b FROM occ GROUP BY 1, 2),
scored AS (
    SELECT id AS doc_id, CAST(SUM(n_b) AS BIGINT) AS n_tokens,
           CAST(SUM(n_b * llr_nano) AS BIGINT) AS lw_nano
    FROM pdb JOIN llr USING (b)
    GROUP BY id
),
sel AS (
    SELECT doc_id, n_tokens, lw_nano,
           CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY lw_nano DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tokens_before
    FROM scored
)
SELECT doc_id, n_tokens, lw_nano / 1e9 AS logweight, tokens_before
FROM sel WHERE tokens_before < {DSIR_BUDGET}
""",
    doc="DSIR-ranked greedy selection under a {:,}-token budget: most "
    "target-like docs first until the budget is spent. Spec is a "
    "cumulative prefix over (logweight desc, id) — executed WITHOUT a "
    "global sort via monotone affine nano-weight buckets (integer div; "
    "bucket-cum broadcast + bucket-partitioned window), the same "
    "decomposition as corpus_token_budget_selection.".format(DSIR_BUDGET),
)
def q_dsir_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return selection.dsir_token_budget_selection(
        load_table(spark, sf_dir, "documents"),
        F.col("source") == DSIR_TARGET_SOURCE,
        budget=DSIR_BUDGET,
        n_buckets=DSIR_BUCKETS,
        quality_buckets=DSIR_QB,
    )


@register(
    "corpus_shard_manifest",
    """
WITH h AS (
    SELECT doc_id, text,
           md5(CAST(doc_id AS VARCHAR) || 'r5shuffle') AS hx
    FROM documents
),
assigned AS (
    SELECT CAST(CAST('0x' || substr(hx, 1, 8) AS BIGINT) % 16 AS INTEGER)
               AS shard,
           doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS content_h
    FROM h
)
SELECT shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       bit_xor(content_h) AS content_checksum,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM assigned
GROUP BY shard
""",
    doc="Training-shard integrity manifest (the reproducibility artifact "
    "next to corpus_shuffle_shards): per shard, doc/token counts, an "
    "ORDER-INDEPENDENT content checksum (bit_xor of 60-bit md5-prefix "
    "ints — commutative and associative with NO overflow at any corpus "
    "size, so any task layout yields the same value), and the id "
    "range. Two training runs read identical data iff manifests match.",
)
def q_corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:

    hx = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(SHUFFLE_SALT)))
    shard = (
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % SHUFFLE_SHARDS
    ).cast("int")
    content_h = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast(
        "bigint"
    )
    from .operators.text import token_count

    return (
        load_table(spark, sf_dir, "documents")
        .select(
            shard.alias("shard"),
            "doc_id",
            token_count("text").alias("n_tokens"),
            content_h.alias("content_h"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.bit_xor("content_h").alias("content_checksum"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Widened at the QUERY layer (operators stay shuffle-free): the
    # single-file fixture otherwise runs its callers' heavy per-row
    # regexp/parse work on one task (r5 parallelism-audit discipline);
    # no-op at production scan widths.
    return widen_input(load_table(spark, sf_dir, "documents"))


BB_BUCKETS = 4096
UB_BUCKETS = 1024


@register(
    "doc_bigram_logprob_hashed",
    f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    WHERE len(string_split(text, ' ')) >= 2
),
occ AS (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, len(ts)),
                   i -> struct_pack(b := ts[i] || chr(31) || ts[i + 1],
                                    t := ts[i]))) AS u
    FROM toks
),
o2 AS (
    SELECT id,
           CAST('0x' || substr(md5(u.b), 1, 8) AS BIGINT) % {BB_BUCKETS} AS bb,
           CAST('0x' || substr(md5(u.t), 1, 8) AS BIGINT) % {UB_BUCKETS} AS ub
    FROM occ
),
bbm AS (
    SELECT bb, CAST(ROUND(ln(COUNT(*)) * 1000000000) AS BIGINT) AS lnb_nano
    FROM o2 GROUP BY bb
),
ubm AS (
    SELECT ub, CAST(ROUND(ln(COUNT(*)) * 1000000000) AS BIGINT) AS lnu_nano
    FROM o2 GROUP BY ub
)
SELECT id AS doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(lnb_nano - lnu_nano) AS BIGINT) / COUNT(*) / 1e9
           AS mean_logprob
FROM o2 JOIN bbm USING (bb) JOIN ubm USING (ub)
GROUP BY id
""",
    doc="Mean bigram log-probability per doc under a HASHED bucket model "
    f"P(t2|t1) ~ cnt_bb[h(t1,t2) % {BB_BUCKETS}] / cnt_ub[h(t1) % "
    f"{UB_BUCKETS}] — the bounded-model twin of doc_bigram_logprob: the "
    "exact model's stat table grows with vocabulary squared (3.6x at 10x "
    "rows), this one is O(1)-sized and broadcastable at any corpus scale "
    "(DSIR-style feature hashing). Per-bucket nano-grid ln, exact BIGINT "
    "per-doc sums.",
)
def q_doc_bigram_logprob_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.hashed_bigram_logprob_scores(
        _docs(spark, sf_dir),
        n_bigram_buckets=BB_BUCKETS,
        n_unigram_buckets=UB_BUCKETS,
    )


# ---------------------------------------------------------------------------
# Raw-web normalization (html strip, mojibake repair) + composed quality
# ---------------------------------------------------------------------------
#
# The dirty input is synthesized DETERMINISTICALLY from the plain-text
# corpus on BOTH engines (no raw-web crawl in the sandbox); the SQL
# builders below interpolate the very same literal constants the Spark
# noise/clean operators use (operators/text.py), so the two sides cannot
# drift. RE2 (DuckDB) and java.util.regex agree on every construct used:
# inline (?is), non-greedy .*?, \b, character classes, \s.


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _replace_chain_sql(expr: str, table) -> str:
    for a, b in table:
        expr = f"replace({expr}, {_sq(a)}, {_sq(b)})"
    return expr


def _html_dirty_sql() -> str:
    return (
        f"{_sq(_text.HTML_PAGE_TITLE_PREFIX)} || CAST(doc_id AS VARCHAR)"
        f" || {_sq(_text.HTML_PAGE_HEAD_REST)}"
        " || CASE WHEN doc_id % 3 = 0 THEN replace(text, ' ', '</p><p>')"
        " ELSE text END"
        f" || {_sq(_text.HTML_PAGE_SUFFIX)}"
    )


def _html_clean_sql(expr: str) -> str:
    expr = (
        f"regexp_replace({expr},"
        " '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g')"
    )
    expr = (
        f"regexp_replace({expr},"
        " '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g')"
    )
    expr = f"regexp_replace({expr}, '(?s)<!--.*?-->', ' ', 'g')"
    expr = f"regexp_replace({expr}, '<[^>]+>', ' ', 'g')"
    expr = _replace_chain_sql(expr, _text.HTML_ENTITIES)
    return f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"


def _moji_dirty_sql() -> str:
    return (
        f"CASE WHEN doc_id % 2 = 0 THEN {_sq(_text.MOJI_PREFIX_EVEN)}"
        f" ELSE {_sq(_text.MOJI_PREFIX_ODD)} END"
        f" || text || {_sq(_text.MOJI_SUFFIX)}"
    )


def _moji_clean_sql(expr: str) -> str:
    expr = _replace_chain_sql(expr, _text.MOJIBAKE_REPAIRS)
    expr = _replace_chain_sql(expr, _text.PUNCT_FOLDS)
    expr = (
        f"regexp_replace({expr},"
        " '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')"
    )
    return f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"


@register(
    "doc_html_to_text",
    f"""
WITH dirty AS (
    SELECT doc_id, {_html_dirty_sql()} AS html FROM documents
)
SELECT doc_id,
       CAST(length(html) AS BIGINT) AS n_chars_html,
       CAST(length({_html_clean_sql('html')}) AS BIGINT) AS n_chars_clean,
       {_html_clean_sql('html')} AS text_clean
FROM dirty
""",
    doc="HTML/markup strip + entity decode over deterministically "
    "synthesized dirty pages (script/style/comment blocks dropped whole, "
    "tags to spaces, named+numeric entities decoded with &amp; last so "
    "double-escapes yield literals, whitespace collapsed). Pure "
    "regexp_replace/replace chain — per-row projection, no shuffle, "
    "whole-stage codegen; the raw-web step that runs BEFORE every "
    "quality gate.",
)
def q_doc_html_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    dirty = d.select(
        "doc_id", _text.html_noise("text", "doc_id").alias("html")
    )
    return dirty.select(
        "doc_id",
        F.length("html").cast("long").alias("n_chars_html"),
        F.length(_text.html_to_text("html")).cast("long").alias(
            "n_chars_clean"
        ),
        _text.html_to_text("html").alias("text_clean"),
    )


@register(
    "doc_unicode_normalize",
    f"""
WITH dirty AS (
    SELECT doc_id, {_moji_dirty_sql()} AS raw FROM documents
)
SELECT doc_id,
       CAST(length(raw) AS BIGINT) AS n_chars_raw,
       CAST(length({_moji_clean_sql('raw')}) AS BIGINT) AS n_chars_clean,
       {_moji_clean_sql('raw')} AS text_clean
FROM dirty
""",
    doc="Encoding-damage repair over deterministically synthesized "
    "mojibake (cp1252-decoded UTF-8 undone longest-sequence-first, "
    "curly quotes/dashes/NBSP folded to ASCII, control chars stripped, "
    "whitespace collapsed) — the ftfy/NFC stand-in as a pure "
    "replace/regexp chain with the repair table as the swappable part.",
)
def q_doc_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    dirty = d.select(
        "doc_id", _text.mojibake_noise("text", "doc_id").alias("raw")
    )
    return dirty.select(
        "doc_id",
        F.length("raw").cast("long").alias("n_chars_raw"),
        F.length(_text.unicode_repair("raw")).cast("long").alias(
            "n_chars_clean"
        ),
        _text.unicode_repair("raw").alias("text_clean"),
    )


def _quality_after_strip_oracle() -> str:

    return f"""
WITH dirty AS (
    SELECT doc_id, {_html_dirty_sql()} AS html FROM documents
),
cleaned AS (
    SELECT doc_id, {_html_clean_sql('html')} AS text FROM dirty
)
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       {QUALITY_SQL} AS quality_score
FROM cleaned
"""


@register(
    "doc_quality_after_html_strip",
    _quality_after_strip_oracle(),
    doc="The existing composite quality gate RE-RUN COMPOSED on top of "
    "the html_to_text normalizer (strip first, then score) — the order "
    "a raw-web pipeline actually executes: Gopher/C4-style flags assume "
    "plain text, so markup strip must precede them. Same thresholds as "
    "doc_quality_score (shared QUALITY_SQL constant).",
)
def q_doc_quality_after_html_strip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _docs(spark, sf_dir)
    cleaned = d.select(
        "doc_id",
        _text.html_to_text(_text.html_noise("text", "doc_id")).alias("text"),
    )
    return _text.quality_score(cleaned)


# ---------------------------------------------------------------------------
# Governance: right-to-erasure propagated into the stateful index sink
# ---------------------------------------------------------------------------

ERASE_MOD = 50


@register(
    "postings_erasure_index",
    f"""
WITH docs2 AS (
    SELECT doc_id, text FROM documents WHERE doc_id % {ERASE_MOD} <> 0
),
toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM docs2),
occ AS (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, len(ts) + 1),
                                 i -> struct_pack(p := i, t := ts[i]))) AS u
    FROM toks
),
o2 AS (SELECT id, u.p AS pos, u.t AS token FROM occ),
post AS (
    SELECT token, id, COUNT(*) AS tf,
           CAST(MIN(pos) AS BIGINT) AS first_pos,
           CAST(MAX(pos) AS BIGINT) AS last_pos
    FROM o2 GROUP BY 1, 2
),
st AS (
    SELECT token, COUNT(*) AS df_docs, CAST(SUM(tf) AS BIGINT) AS cf
    FROM post GROUP BY 1
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM docs2)
SELECT post.token, post.id AS doc_id, tf, first_pos, last_pos, df_docs, cf,
       CAST(ROUND(ln((n_docs + 1.0) / (df_docs + 1.0)) * 1000000000) AS BIGINT)
           / 1e9 AS idf
FROM post JOIN st ON post.token = st.token, n
""",
    doc="Right-to-erasure PROPAGATED INTO THE POSTINGS SINK: ingest the "
    "corpus as two compacted partials plus one uncompacted one, erase "
    f"doc_id % {ERASE_MOD} == 0 via compaction.postings_erase_ids "
    "(physically rewrites every retained snapshot AND partial — time "
    "travel cannot resurrect erased docs), then serve the index from "
    "the sink. Oracle = the one-shot batch index over the surviving "
    "documents; read-time df/cf/idf derive from the folded postings, so "
    "the statistics reflect the erasure with no stored-stat "
    "invalidation.",
)
def q_postings_erasure_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .operators.compaction import (
        compact_postings_sink,
        postings_erase_ids,
        read_postings_sink_with_stats,
        write_postings_partial,
    )

    d = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="erasink_")
    try:
        write_postings_partial(d.where(F.col("doc_id") % 3 == 0), path, 0)
        write_postings_partial(d.where(F.col("doc_id") % 3 == 1), path, 1)
        v = compact_postings_sink(spark, path, retain_snapshots=2)
        write_postings_partial(d.where(F.col("doc_id") % 3 == 2), path, v + 1)
        erase = d.where(F.col("doc_id") % ERASE_MOD == 0).select(
            F.col("doc_id").alias("id")
        )
        postings_erase_ids(spark, path, erase)
        # serve through the stored-stats path: erasure must have REBUILT
        # the snapshot's stats/v=N table (ghost df/cf counts would
        # hash-mismatch the surviving-docs oracle)
        return read_postings_sink_with_stats(spark, path).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# Typed PII redaction (rewrite half of pii_scan).
# ---------------------------------------------------------------------------


def _pii_dirty_sql() -> str:
    return (
        f"{_sq(_text.PII_NOISE_PREFIX)} || CAST(doc_id AS VARCHAR)"
        f" || {_sq(_text.PII_NOISE_MAIL_HOST)}"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        f" || {_sq(_text.PII_NOISE_AT_IP)}"
        " || CAST(doc_id % 256 AS VARCHAR) || '.'"
        " || CAST((doc_id * 7) % 256 AS VARCHAR) || '.'"
        " || CAST((doc_id * 13) % 256 AS VARCHAR) || '. ' || text"
    )


def _pii_redact_oracle() -> str:
    sql = f"WITH s0 AS (SELECT doc_id, {_pii_dirty_sql()} AS t FROM documents)"
    cols = []
    prev = "s0"
    for i, (pat, mask) in enumerate(_text.PII_MASKS, start=1):
        label = "n_" + mask.strip("<>").lower() + "s"
        carry = ", ".join(cols)
        carry = carry + ", " if carry else ""
        sql += (
            f", s{i} AS (SELECT doc_id, {carry}"
            f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS {label},"
            f" regexp_replace(t, '{pat}', '{mask}', 'g') AS t FROM {prev})"
        )
        cols.append(label)
        prev = f"s{i}"
    return sql + (
        f" SELECT doc_id, {', '.join(cols)}, t AS text_redacted FROM {prev}"
    )


@register(
    "doc_pii_redact",
    _pii_redact_oracle(),
    doc="Typed PII redaction REWRITE (the production half of pii_scan's "
    "audit): sequentially mask emails, +N-555 phones, dotted IPs, then "
    "residual digit runs, counting each type on the text as it stands "
    "when that pattern runs — so an email's digits never double-count "
    "as <NUM>. Injection fixture + patterns are shared literals "
    "(operators/text.py PII_*); every pattern is RE2-safe so Java and "
    "RE2 match identically. Pure per-row regexp chain, zero shuffle.",
)
def q_doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    dirty = d.select(
        "doc_id", _text.pii_noise("text", "doc_id").alias("text")
    )
    return _text.pii_redact(dirty)


# ---------------------------------------------------------------------------
# Epoch oversampling materializer
# ---------------------------------------------------------------------------

EPOCH_TEMP = 0.7  # same temperature as source_temperature_mix
EPOCH_BUDGET_MULT = 2  # budget = 2x corpus size → epochs ≈ 2, reshaped by T


@register(
    "corpus_epoch_oversample",
    f"""
WITH counts AS (
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_docs) AS n FROM counts),
shares AS (
    SELECT source, n_docs,
           CAST(ROUND(pow(CAST(n_docs AS DOUBLE) / n, 1.0 / {EPOCH_TEMP})
                      * 1000000000) AS BIGINT) AS share_nano
    FROM counts CROSS JOIN tot
),
norm AS (SELECT SUM(share_nano) AS z, SUM(n_docs) AS n FROM shares),
targets AS (
    SELECT source, n_docs,
           CAST(ROUND({EPOCH_BUDGET_MULT} * n * CAST(share_nano AS DOUBLE) / z)
                AS BIGINT) AS sample_target
    FROM shares CROSS JOIN norm
),
ranked AS (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
    FROM documents
),
copies AS (
    SELECT r.doc_id, r.source,
           t.sample_target // t.n_docs
           + CASE WHEN r.rn <= t.sample_target % t.n_docs THEN 1 ELSE 0 END
               AS n_copies
    FROM ranked r JOIN targets t ON r.source = t.source
)
SELECT doc_id, source,
       CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_idx
FROM copies WHERE n_copies > 0
""",
    doc="Physical epoch-oversampling materializer: turn temperature-mix "
    "sample targets (p_s ~ share^(1/T), budget = "
    f"{EPOCH_BUDGET_MULT}x corpus) into an EXACT per-source row count "
    "via largest-remainder allocation — every doc gets target DIV n "
    "copies, the first target MOD n docs in deterministic md5 order get "
    "one more, so the materialized epoch hits each source target "
    "exactly (no sampling variance, idempotent across reruns). The "
    "explode generates copies distributed (sequence per row, never a "
    "driver loop); shuffle keys are source (rank) then nothing — at "
    "100 TB the only state is the per-source rank window, and the same "
    "allocation runs per-shard by ranking within (source, shard) and "
    "splitting the remainder by shard size.",
)
def q_corpus_epoch_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("n"))
    shares = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n",
        F.round(
            F.pow(F.col("n_docs") / F.col("n"), 1.0 / EPOCH_TEMP)
            * 1_000_000_000
        )
        .cast("long")
        .alias("share_nano"),
    )
    norm = shares.agg(F.sum("share_nano").alias("z"), F.max("n").alias("nn"))
    targets = shares.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_docs",
        F.round(
            F.lit(EPOCH_BUDGET_MULT)
            * F.col("nn")
            * F.col("share_nano")
            / F.col("z")
        )
        .cast("long")
        .alias("sample_target"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select("doc_id", "source").withColumn(
        "rn", F.row_number().over(w)
    )
    copies = ranked.join(targets, "source").select(
        "doc_id",
        "source",
        (
            (F.col("sample_target") / F.col("n_docs")).cast("long")
            + F.when(
                F.col("rn") <= F.col("sample_target") % F.col("n_docs"), 1
            ).otherwise(0)
        ).alias("n_copies"),
    )
    return copies.where(F.col("n_copies") > 0).select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1).cast("long"), "n_copies")).alias(
            "copy_idx"
        ),
    )


# --------------------------------------------------------------------------
# Fill-in-middle training-example assembly (operators/text.py:fim_transform)
# --------------------------------------------------------------------------

FIM_NUM = 1
FIM_DEN = 2
FIM_SALT = "fim8:"
FIM_MIN_TOKENS = 4
_FIM_BIG = 2_147_483_647


def _fim_oracle_sql() -> str:
    from .operators import text as _t

    def bucket(salt: str, den) -> str:
        return (
            f"CAST('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)),"
            f" 1, 8) AS BIGINT) % {den}"
        )

    pre, suf, mid = _t.FIM_PRE, _t.FIM_SUF, _t.FIM_MID
    join = "coalesce(array_to_string({}, ' '), '')"
    return f"""
WITH t AS (
    SELECT doc_id, text,
           string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n,
           {bucket(FIM_SALT + 'coin:', FIM_DEN)} AS coin,
           ({bucket(FIM_SALT + 'c1:', _FIM_BIG)})
               % (len(string_split(text, ' ')) + 1) AS c1,
           ({bucket(FIM_SALT + 'c2:', _FIM_BIG)})
               % (len(string_split(text, ' ')) + 1) AS c2
    FROM documents
),
cut AS (
    SELECT doc_id, text, toks, n,
           (coin < {FIM_NUM} AND n >= {FIM_MIN_TOKENS}) AS is_fim,
           LEAST(c1, c2) AS lo, GREATEST(c1, c2) AS hi
    FROM t
)
SELECT doc_id,
       CASE WHEN is_fim THEN 'fim' ELSE 'ar' END AS mode,
       CAST(n AS BIGINT) AS n_tokens,
       CASE WHEN is_fim THEN CAST(lo AS BIGINT) END AS n_prefix,
       CASE WHEN is_fim THEN CAST(hi - lo AS BIGINT) END AS n_middle,
       CASE WHEN is_fim THEN CAST(n - hi AS BIGINT) END AS n_suffix,
       CASE WHEN is_fim
            THEN '{pre}' || {join.format('list_slice(toks, 1, lo)')}
              || '{suf}' || {join.format('list_slice(toks, hi + 1, n)')}
              || '{mid}' || {join.format('list_slice(toks, lo + 1, hi)')}
            ELSE text END AS text_out
FROM cut
"""


@register(
    "doc_fim_transform",
    _fim_oracle_sql(),
    doc="Fill-in-middle pretraining transform (PSM layout, Bavarian et "
    "al. 2022 / the StarCoder-CodeLlama prep): a salted-md5 coin picks "
    f"{FIM_NUM}/{FIM_DEN} of documents, two hash-uniform token cut "
    "points split each into prefix/middle/suffix, emitted as <PRE> p "
    "<SUF> s <MID> m; the rest pass through autoregressive. All "
    "randomness is hash-of-id — a pure per-row projection, zero "
    "shuffle, byte-identical across runs/engines/partitionings (which "
    "is what the oracle certifies), so a 100 TB prep is restartable "
    "and shard-order-independent.",
)
def q_doc_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import text as _t

    return _t.fim_transform(
        load_table(spark, sf_dir, "documents"),
        fim_num=FIM_NUM,
        fim_den=FIM_DEN,
        salt=FIM_SALT,
        min_tokens=FIM_MIN_TOKENS,
    )


# --------------------------------------------------------------------------
# Per-language token budgets (operators/text.py:grouped_token_budget_selection)
# --------------------------------------------------------------------------

LANG_BUDGETS = {"en": 5000, "de": 2000, "es": 10000, "fr": 1500}
LB_BUCKETS = 1000


def _lang_budget_case() -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in LANG_BUDGETS.items()
    )
    return f"CASE lang {whens} END"


@register(
    "corpus_lang_token_budgets",
    f"""
WITH d AS (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           ({LB_BUCKETS} * CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT))
               // CAST(len(string_split(text, ' ')) AS BIGINT) AS qb
    FROM documents
),
sel AS (
    SELECT doc_id, lang, qb, n_tokens,
           COALESCE(CAST(SUM(n_tokens) OVER (
               PARTITION BY lang
               ORDER BY qb DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS tokens_before
    FROM d
)
SELECT doc_id, lang, qb, n_tokens, tokens_before
FROM sel WHERE tokens_before < {_lang_budget_case()}
""",
    doc="Multilingual mixture assembly: each language fills its OWN "
    "token budget highest-quality-first, independently (languages "
    "without a budget are dropped) — the per-language knob a "
    "pretraining mix actually specifies, so a dominant language cannot "
    "starve the rest. The oracle is the naive spec (one window per "
    "language over quality DESC, id); the engine computes the identical "
    "prefix sum with no global or per-language sort — per-(lang, "
    "bucket) totals, a broadcast cumulative over langs x 1000 rows, "
    "and (lang, bucket)-partitioned windows "
    "(operators/text.py:grouped_token_budget_selection). Hash-equality "
    "proves the two-level decomposition exact.",
)
def q_corpus_lang_token_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import text as _t

    return _t.grouped_token_budget_selection(
        load_table(spark, sf_dir, "documents"),
        budgets=LANG_BUDGETS,
        quality_buckets=LB_BUCKETS,
    )


# --------------------------------------------------------------------------
# Global token-stream chunk index (operators/text.py:stream_chunk_index)
# --------------------------------------------------------------------------

CHUNK_TOKENS = 256
CHUNK_SALT = "chunk8:"
CHUNK_BUCKETS = 256


@register(
    "corpus_stream_chunk_index",
    f"""
WITH d AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5('{CHUNK_SALT}' || CAST(doc_id AS VARCHAR)) AS hx
    FROM documents
),
b AS (
    SELECT doc_id, n_tokens, hx,
           CAST('0x' || substr(hx, 1, 8) AS BIGINT) % {CHUNK_BUCKETS} AS bkt
    FROM d
),
o AS (
    SELECT doc_id, n_tokens,
           COALESCE(CAST(SUM(n_tokens) OVER (
               ORDER BY bkt, hx, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS global_start
    FROM b
)
SELECT doc_id, n_tokens, global_start,
       global_start // {CHUNK_TOKENS} AS chunk_first,
       (global_start + n_tokens - 1) // {CHUNK_TOKENS} AS chunk_last
FROM o
""",
    doc="GPT-style pretraining layout index: documents in deterministic "
    "salted-hash shuffle order, concatenated, sliced into fixed "
    f"{CHUNK_TOKENS}-token chunks that CROSS document boundaries — "
    "emitted as per-doc placement metadata (global_start, chunk span), "
    "never the materialized token stream. The oracle is the naive spec "
    "(one global window over the shuffle order); the engine computes "
    "the identical prefix sum with NO global sort — hash-bucket totals, "
    "a broadcast cumulative over 256 rows, bucket-partitioned windows "
    "(operators/text.py:stream_chunk_index). The salt doubles as the "
    "epoch knob: a new salt is a new global order with zero data "
    "movement.",
)
def q_corpus_stream_chunk_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import text as _t

    return _t.stream_chunk_index(
        load_table(spark, sf_dir, "documents"),
        chunk_tokens=CHUNK_TOKENS,
        salt=CHUNK_SALT,
        order_buckets=CHUNK_BUCKETS,
    )


CHUNK_PICK = 7  # deterministic chunk id the serve-path query assembles


@register(
    "corpus_stream_chunk_assemble",
    f"""
WITH d AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5('{CHUNK_SALT}' || CAST(doc_id AS VARCHAR)) AS hx,
           string_split(text, ' ') AS toks
    FROM documents
),
b AS (
    SELECT *, CAST('0x' || substr(hx, 1, 8) AS BIGINT) % {CHUNK_BUCKETS} AS bkt
    FROM d
),
o AS (
    SELECT doc_id, n_tokens, toks,
           COALESCE(CAST(SUM(n_tokens) OVER (
               ORDER BY bkt, hx, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS global_start
    FROM b
),
span AS (
    SELECT * FROM o
    WHERE global_start // {CHUNK_TOKENS} <= {CHUNK_PICK}
      AND (global_start + n_tokens - 1) // {CHUNK_TOKENS} >= {CHUNK_PICK}
),
tok AS (
    SELECT doc_id, global_start + u.i - 1 AS global_pos, toks[u.i] AS token
    FROM span, UNNEST(range(1, CAST(len(toks) + 1 AS BIGINT))) AS u(i)
)
SELECT global_pos, CAST(global_pos - {CHUNK_PICK * CHUNK_TOKENS} AS BIGINT)
           AS pos_in_chunk,
       doc_id, token
FROM tok
WHERE global_pos >= {CHUNK_PICK * CHUNK_TOKENS}
  AND global_pos < {(CHUNK_PICK + 1) * CHUNK_TOKENS}
""",
    doc="The chunk-index SERVE path: assemble one fixed "
    f"{CHUNK_TOKENS}-token training chunk (id {CHUNK_PICK}) from the "
    "stream layout — the index narrows to the docs whose spans cover "
    "the chunk (2-3 rows), their tokens posexplode with global "
    "positions, and the window slice comes out in order, crossing a "
    "document boundary by construction. What a data loader executes "
    "per chunk; the corpus-wide work is only the index (see "
    "corpus_stream_chunk_index), never the token stream.",
)
def q_corpus_stream_chunk_assemble(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import text as _t

    docs = load_table(spark, sf_dir, "documents")
    idx = _t.stream_chunk_index(
        docs,
        chunk_tokens=CHUNK_TOKENS,
        salt=CHUNK_SALT,
        order_buckets=CHUNK_BUCKETS,
    )
    span = idx.where(
        (F.col("chunk_first") <= CHUNK_PICK)
        & (F.col("chunk_last") >= CHUNK_PICK)
    )
    toks = span.join(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "global_start",
        F.posexplode(F.split(F.col("text"), " ")).alias("i", "token"),
    )
    lo = CHUNK_PICK * CHUNK_TOKENS
    hi = (CHUNK_PICK + 1) * CHUNK_TOKENS
    gp = F.col("global_start") + F.col("i")
    return toks.select(
        gp.alias("global_pos"),
        (gp - lo).cast("long").alias("pos_in_chunk"),
        "doc_id",
        "token",
    ).where((F.col("global_pos") >= lo) & (F.col("global_pos") < hi))


# --------------------------------------------------------------------------
# Zipf exponent of the corpus token distribution, fitted in-engine
# --------------------------------------------------------------------------

ZIPF_MIN_COUNT = 2  # drop hapax tail: its staircase dominates the fit


@register(
    "corpus_zipf_fit",
    f"""
WITH tf AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
),
ranked AS (
    SELECT c,
           CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS BIGINT)
               AS rank
    FROM tf WHERE c >= {ZIPF_MIN_COUNT}
),
xy AS (
    SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS xn,
           CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS yn
    FROM ranked
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(xn) AS BIGINT) AS sx, CAST(SUM(yn) AS BIGINT) AS sy,
           SUM(CAST(xn AS HUGEINT) * CAST(yn AS HUGEINT)) AS sxy,
           SUM(CAST(xn AS HUGEINT) * CAST(xn AS HUGEINT)) AS sxx
    FROM xy
)
SELECT n AS n_ranks,
       CAST(ROUND(
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         * 1000000) AS BIGINT) AS zipf_slope_micro
FROM s
""",
    doc="Zipf's-law exponent of the corpus token distribution, fitted "
    "IN the engine: token frequencies (one corpus pass), vocab-sized "
    "rank window, OLS of ln(freq) on ln(rank) over ranks with count >= "
    f"{ZIPF_MIN_COUNT} (the hapax staircase is excluded). Exactness "
    "discipline: ln() values are quantized to the 1e-6 grid as int64 "
    "BEFORE accumulation (transcendental-ulp parity rule) and the "
    "quadratic sums accumulate as exact decimal/hugeint — every sum is "
    "order-independent; doubles appear only in the final closed-form "
    "division. A healthy natural corpus fits slope ~ -1; "
    "a synthetic or collapsed corpus doesn't — a one-row datacard "
    "check at any scale (the heavy grain is the vocab-sized window, "
    "bounded by Heaps' law).",
)
def q_corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import zipf_fit

    return zipf_fit(
        load_table(spark, sf_dir, "documents"), min_count=ZIPF_MIN_COUNT
    )


# --------------------------------------------------------------------------
# Content-defined chunking (operators/text.py:cdc_chunks)
# --------------------------------------------------------------------------

CDC_K = 8
CDC_MOD = 64


def _cdc_oracle_sql() -> str:
    from .operators.text import WINNOW_BASE

    poly = " + ".join(
        f"(CASE WHEN u.i + {j} <= len(cs)"
        f" THEN CAST(ascii(cs[u.i + {j}]) AS BIGINT) END)"
        f" * {WINNOW_BASE ** (CDC_K - 1 - j)}"
        for j in range(CDC_K)
    )
    return f"""
WITH base AS (
    SELECT doc_id, string_split(text, '') AS cs FROM documents
),
chars AS (
    SELECT doc_id, u.i AS i, cs[u.i] AS ch,
           {poly} AS h
    FROM base, UNNEST(range(1, CAST(len(cs) + 1 AS BIGINT))) AS u(i)
),
cutf AS (
    SELECT doc_id, i, ch,
           CASE WHEN h IS NOT NULL AND h % {CDC_MOD} = 0 THEN 1 ELSE 0 END
               AS cut
    FROM chars
),
seg AS (
    SELECT doc_id, i, ch,
           COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk_idx
    FROM cutf
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(COUNT(*) AS BIGINT) AS n_chars,
       md5(string_agg(ch, '' ORDER BY i)) AS chunk_md5
FROM seg GROUP BY doc_id, chunk_idx
"""


@register(
    "doc_cdc_chunks",
    _cdc_oracle_sql(),
    doc="Content-defined chunking (Rabin/LBFS family): cut after every "
    f"character whose {CDC_K}-gram polynomial hash is 0 mod {CDC_MOD}, "
    f"so chunk boundaries are functions of CONTENT with expected length "
    f"{CDC_MOD} — an insertion shifts every fixed-offset block but only "
    "the 1-2 chunks containing the edit here, which is what makes "
    "chunk-digest dedup resilient to near-identical refetches (the "
    "storage-dedup primitive, corpus-side). Same relational rolling-"
    "hash formulation and int64 polynomial as winnowing; one doc-keyed "
    "shuffle (operators/text.py:cdc_chunks).",
)
def q_doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import cdc_chunks

    return cdc_chunks(
        widen_input(load_table(spark, sf_dir, "documents")),
        k=CDC_K,
        boundary_mod=CDC_MOD,
    )


# --------------------------------------------------------------------------
# Code-switching detector: segment-level language mix per document
# --------------------------------------------------------------------------

CS_SEG_TOKENS = 16


def _codeswitch_oracle() -> str:
    from .operators import text as _t

    score = {
        lang: (
            "len(list_filter(list_distinct(string_split(seg, ' ')),"
            " t -> t IN ({})))".format(
                ",".join(f"'{m}'" for m in markers)
            )
        )
        for lang, markers in sorted(_t.LANG_MARKERS.items())
    }
    case = "CASE " + " ".join(
        f"WHEN {score[lang]} > 0 AND {score[lang]} = g.best THEN '{lang}'"
        for lang in sorted(score)
    ) + " ELSE 'und' END"
    best = ", ".join(score[lang] for lang in sorted(score))
    s = CS_SEG_TOKENS
    return f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS toks
    FROM documents WHERE len(string_split(text, ' ')) >= {s}
),
segs AS (
    SELECT doc_id,
           array_to_string(list_slice(toks, i * {s} + 1,
                                      i * {s} + {s}), ' ') AS seg
    FROM base, UNNEST(range(0, CAST(len(toks) // {s} AS BIGINT))) AS u(i)
),
scored AS (
    SELECT doc_id, {case} AS pred
    FROM segs, LATERAL (SELECT greatest({best}) AS best) g
),
per AS (SELECT doc_id, pred, COUNT(*) AS c FROM scored GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_segments,
       CAST(COUNT(*) AS BIGINT) AS n_langs,
       CAST(ROUND(MAX(c) * 1000000.0 / SUM(c)) AS BIGINT) AS majority_ppm
FROM per GROUP BY doc_id
"""


@register(
    "doc_codeswitch_segments",
    _codeswitch_oracle(),
    doc="Code-switching detector: language-ID applied per "
    f"{CS_SEG_TOKENS}-token SEGMENT instead of per document, rolled up "
    "to (n_segments, n_langs, majority-language ppm) per doc — a "
    "document-level lang label hides mixed-language documents that "
    "poison monolingual training mixes, and the segment grain is what "
    "CCNet-style pipelines actually filter on. Pure per-row slicing + "
    "the shared marker heuristic (same LANG_MARKERS constants, two "
    "renderings), one doc-keyed two-level aggregate; remainder tokens "
    "below one segment are excluded (the fixture rule the intradoc "
    "segment ops already follow).",
)
def q_doc_codeswitch_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import lang_pred_col, tokens

    s = CS_SEG_TOKENS
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    base = docs.where(F.size(toks) >= s).select(
        "doc_id", toks.alias("toks")
    )
    segs = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), (F.size("toks") / s).cast("long") - 1
                ),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i * s + 1, s), " "
                ),
            )
        ).alias("seg"),
    )
    scored = segs.select("doc_id", lang_pred_col(F.col("seg")).alias("pred"))
    per = scored.groupBy("doc_id", "pred").agg(F.count("*").alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").alias("n_segments"),
        F.count("*").alias("n_langs"),
        F.round(F.max("c") * 1_000_000.0 / F.sum("c"))
        .cast("long")
        .alias("majority_ppm"),
    )
