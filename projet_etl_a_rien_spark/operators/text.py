"""Text-analysis operators for large-scale training-data pipelines.

Everything here is built on JVM-side ``pyspark.sql.functions`` (split /
higher-order array functions / md5) — no Python UDFs — so the hot path
stays inside whole-stage codegen and scales linearly with partitions.
Tokenization is single-space split: the ``documents`` fixture is
space-separated word soup, and keeping the tokenizer trivial keeps every
downstream operator exactly mirrorable in the DuckDB oracle.

Design notes for 100 TB: all operators are per-row projections (no
shuffle) except the frequency/grouping ones, which aggregate with
map-side partial aggregation. Language-ID and quality scoring are
heuristics-as-columns — the scale path for a real pipeline swaps the
marker lists for a fastText-style model behind the same column contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. Deliberately tiny and deterministic; mirrored in oracle SQL.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "la", "de", "et"),
    "de": ("der", "die", "das", "und"),
    "zh": ("de", "le", "shi", "bu"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in")


def tokens(col: Column | str) -> Column:
    """Whitespace tokens (single-space split)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def unique_token_count(col: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(col))).cast("long")


def _member_test(words: tuple[str, ...]):
    """Single-arg lambda factory for higher-order functions.

    NB: PySpark's lambda binding passes as many arguments as the Python
    callable has *parameters* — including defaulted ones — so the usual
    ``lambda t, w=words:`` closure idiom silently binds the array index
    to ``w``. A closure factory keeps the arity at exactly 1.
    """
    return lambda t: t.isin(*words)


def stopword_count(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    toks = tokens(col)
    return F.size(F.filter(toks, _member_test(stopwords))).cast("long")


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 over canonicalized text.

    Canonicalization = lowercase + trim + collapse whitespace runs, the
    standard exact-dedup key. md5 (not xxhash64) so the DuckDB oracle and
    any other engine compute the identical key.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), " +", " "))


SUBWORD_PATTERN = "[a-z0-9]+|[^a-z0-9 ]"


def subword_token_count(col: Column | str) -> Column:
    """BPE-ish token estimate: alphanumeric runs + individual punctuation
    marks over lowercased text — the standard cheap proxy for subword
    tokenizer counts when the real vocab isn't available. Same RE2/Java-
    compatible pattern runs verbatim in the DuckDB oracle."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(F.lower(c), F.lit(SUBWORD_PATTERN), F.lit(0))
    ).cast("long")


WINNOW_BASE = 31  # polynomial rolling-hash base (codepoint-weighted)


def winnow_fingerprint_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    out_col: str = "fingerprint",
) -> DataFrame:
    """Winnowing document fingerprints as SCALAR rows (id, fingerprint):
    hash every character k-gram, slide a window of w consecutive hashes,
    keep each window's minimum, dedupe. Standard plagiarism/near-copy
    signature (Schleimer et al., MOSS); guarantees any shared substring
    of length >= k + w - 1 contributes a shared fingerprint.

    The k-gram hash is a POLYNOMIAL over character codepoints —
    sum(ascii(ch[i+j]) * BASE^(k-1-j)) — built from w-1 ``lead()`` calls
    over one (id, pos) sort, replacing the per-gram md5 of the previous
    revision: same shuffle shape, but pure integer arithmetic inside
    whole-stage codegen instead of a cryptographic hash per row (measured
    3.5× faster at sf0.1, SCALE_NOTES §4). No modulus needed: max
    codepoint 0x10FFFF × BASE^(k-1) × k stays far below int64 for
    k <= 8. DuckDB replicates the exact expression with ascii(substr()).

    Fully RELATIONAL formulation (posexplode chars → lead-window hash →
    window min), not nested array lambdas, on purpose: a Column-expression
    sliding window that slices a hash array it also builds gets re-inlined
    by CollapseProject under downstream projections (an added explode
    multiplied the hash subtree 5× and turned the operator O(n²) —
    minutes per 5k docs at sf0.1). Here each character is hashed into
    exactly one gram ROW, the lead/min windows are real Window operators
    over ONE sort, and no optimizer rewrite can duplicate work. Cost: one
    shuffle on the doc id, linear in total characters. Documents shorter
    than k + w - 1 yield no rows.
    """
    from pyspark.sql.window import Window

    c = F.col(text_col)
    chars = df.where(F.length(c) >= k + w - 1).select(
        id_col,
        F.posexplode(F.split(c, "")).alias("_i", "_ch"),
    )
    order = Window.partitionBy(id_col).orderBy("_i")
    poly = None
    for j in range(k):
        term = (
            F.col("_c") if j == 0 else F.lead("_c", j).over(order)
        ) * F.lit(WINNOW_BASE ** (k - 1 - j))
        poly = term if poly is None else poly + term
    hashed = (
        chars.select(id_col, "_i", F.ascii("_ch").cast("long").alias("_c"))
        .select(id_col, "_i", poly.alias("_h"))
        .where(F.col("_h").isNotNull())
    )
    win = Window.partitionBy(id_col).orderBy("_i").rowsBetween(0, w - 1)
    cnt = Window.partitionBy(id_col)
    return (
        hashed.select(
            id_col,
            "_i",
            F.min("_h").over(win).alias("_m"),
            F.count("*").over(cnt).alias("_n"),
        )
        .where(F.col("_i") <= F.col("_n") - w)
        .select(id_col, F.col("_m").alias(out_col))
        .distinct()
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    out_col: str = "fingerprints",
) -> DataFrame:
    """Array-per-document form of :func:`winnow_fingerprint_rows` (sorted,
    distinct, empty array for short docs). Prefer the row form for joins —
    arrays exist for per-doc signature export only."""
    rows = winnow_fingerprint_rows(
        df, text_col, id_col, k, w, out_col="_fp"
    )
    mins = rows.groupBy(id_col).agg(
        F.array_sort(F.collect_list("_fp")).alias(out_col)
    )
    return df.select(id_col).join(mins, id_col, "left").select(
        id_col,
        F.coalesce(F.col(out_col), F.array().cast("array<long>")).alias(out_col),
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features, one narrow projection.

    - n_tokens / n_uniq: size + distinct size of the token array
    - uniq_ratio: lexical diversity (near-1 for natural text, low for
      boilerplate/spam repeats)
    - mean_token_len: (chars - spaces) / tokens
    - stopword_ratio: fraction of tokens in the stopword list

    All double ratios are single deterministic fp divisions of exact
    integers — engine-order independent.
    """
    t = F.col(text_col)
    n_tok = token_count(t)
    n_uniq = unique_token_count(t)
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_uniq.alias("n_uniq"),
        (n_uniq / n_tok).alias("uniq_ratio"),
        ((F.length(t) - (n_tok - 1)) / n_tok).alias("mean_token_len"),
        (stopword_count(t) / n_tok).alias("stopword_ratio"),
    )


def quality_score_col(text_col: Column | str = "text") -> Column:
    """Composite 0-4 quality score as a plain Column — inlineable into a
    WHERE so a cleanup pipeline filters in the scan projection instead of
    semi-joining a derived table back to itself."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    n_tok = token_count(t)
    n_uniq = unique_token_count(t)
    return (
        (n_tok >= 20).cast("int")
        + (n_tok <= 2000).cast("int")
        + ((n_uniq / n_tok) >= 0.2).cast("int")
        + ((stopword_count(t) / n_tok) >= 0.01).cast("int")
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0-4 quality score from thresholded features.

    Mirrors the shape of published heuristic filters (Gopher/C4-style
    length + diversity + stopword gates) with fixture-appropriate bounds.
    """
    return df.select(
        "doc_id",
        token_count(F.col(text_col)).alias("n_tokens"),
        quality_score_col(text_col).alias("quality_score"),
    )


def lang_pred_col(text_col: Column | str = "text") -> Column:
    """Marker-stopword language ID as a plain Column: argmax of
    per-language marker hits. Ties (including all-zero) resolve to the
    lexicographically first language among the winners, 'und' when no
    marker hits at all — a total, deterministic rule both engines apply
    identically."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.array_distinct(tokens(t))
    scores = {
        lang: F.size(F.filter(toks, _member_test(markers)))
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # build CASE from last to first so earlier (lexicographic) langs win ties
    for lang in sorted(scores, reverse=True):
        pred = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(
            pred
        )
    return pred


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document language ID projection (see ``lang_pred_col``)."""
    return df.select("doc_id", lang_pred_col(text_col).alias("pred_lang"))


def token_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus token frequency: explode → count. The one shuffling op here;
    partial aggregation makes it a word-count, the canonical scalable shape."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    Rational idf (score = tf · N / df) instead of tf · ln(N/df): the
    ordering inside one document is identical (ln is monotonic and N is
    constant), and the score stays a single division of exact integers —
    bit-equal across engines, where ln's last ulp is libm-dependent.

    Shuffle shape at scale: explode → (doc, term) count [shuffle 1 on
    (doc, term)], term document-frequency [shuffle 2 on term, word-count
    sized], join df back onto tf on the term key, top-k via per-doc
    window [shuffle 3 on doc]. Nothing is ever collected. The df table
    is vocabulary-sized, which GROWS with the corpus (Heaps' law) — so
    the tf⋈df join carries no broadcast hint: AQE broadcasts it when it
    fits and falls back to a term-keyed shuffle join (tf is already
    term-partitioned from shuffle 2's perspective) when it doesn't.
    Forcing the hint would OOM the driver at web-corpus vocabulary
    sizes.
    """
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n_docs"))
    pairs = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = pairs.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = pairs.groupBy("term").agg(F.count_distinct("id").alias("df"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * F.col("n_docs") / F.col("df"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(F.col("id").alias(id_col), "term", "tf", "df", "score", "rank")
    )


def split_bucket(
    id_col: Column | str = "doc_id",
    salt: str = "split:",
    n_buckets: int = 100,
) -> Column:
    """Deterministic hash bucket in [0, n_buckets) for reproducible
    train/val/test assignment: md5 of the salted id — stable across runs,
    engines, partitionings, and corpus growth (a doc's split never
    changes when other docs are added, unlike rand(seed) which is
    partition-order sensitive)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    )


def distinct_stopword_count(
    col: Column | str, stopwords: tuple[str, ...] = STOPWORDS
) -> Column:
    """How many DISTINCT stopwords appear — the Gopher-style "contains at
    least 2 of a small stopword list" signal (presence of several distinct
    function words separates prose from keyword soup better than a raw
    stopword count, which one repeated 'the' can satisfy)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.array_intersect(
            F.array_distinct(tokens(c)), F.array(*[F.lit(s) for s in stopwords])
        )
    ).cast("long")


def bigrams(col: Column | str) -> Column:
    """Adjacent word pairs as 'w1 w2' strings (empty array when < 2
    words). Built by indexing the token array over a 0..n-2 sequence —
    per-row JVM column algebra, no explode needed to CONSTRUCT the list
    (callers explode to aggregate). The token array is bound ONCE as a
    lambda variable (the dedup._bind_once guard): inlined into each
    element_at, the split re-executes per element and the build turns
    O(n^2) per row — measured 7.5s -> 1.3s on doc_repetition_stats at
    sf0.1."""
    from .dedup import _bind_once

    return _bind_once(tokens(col), _bigrams_from_tokens)


def _bigrams_from_tokens(toks: Column) -> Column:
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - 1)  # element_at is 1-based
    return F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            idx,
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        )
    )


def gopher_passes(text_col: Column | str = "text") -> Column:
    """The composite Gopher/C4 quality verdict as a reusable boolean
    column — same thresholds as ``gopher_quality_flags``, for pipelines
    that gate on the verdict without materializing the signal columns."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    n_words = token_count(t)
    mean_wl = F.length(F.translate(t, " ", "")).cast("long") / n_words
    uniq_frac = unique_token_count(t) / n_words
    return (
        (n_words >= 20)
        & (n_words <= 100_000)
        & (mean_wl >= 2.0)
        & (mean_wl <= 12.0)
        & (distinct_stopword_count(t) >= 2)
        & (uniq_frac >= 0.1)
    )


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4-style per-document quality gate, JVM-side end to end:
    word count bounds, mean word length bounds, >= 2 distinct stopwords,
    unique-word fraction — the standard cheap filters a pretraining
    pipeline applies before any model-based scoring. Emits the signal
    columns plus the composite ``passes_quality`` verdict so downstream
    stages can re-cut thresholds without recomputing."""
    t = F.col(text_col)
    n_words = token_count(t)
    # exact-integer operands; single double division identical cross-engine
    mean_wl = F.length(F.translate(t, " ", "")).cast("long") / n_words
    n_stop = distinct_stopword_count(t)
    uniq_frac = unique_token_count(t) / n_words
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        n_stop.alias("n_stopword_kinds"),
        uniq_frac.alias("frac_unique_words"),
        (
            (n_words >= 20)
            & (n_words <= 100_000)
            & (mean_wl >= 2.0)
            & (mean_wl <= 12.0)
            & (n_stop >= 2)
            & (uniq_frac >= 0.1)
        ).alias("passes_quality"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher repetition signals: duplicate-token fraction and the most
    frequent bigram's share of all bigrams (docs stuck in n-gram loops
    are the classic LM-generated / boilerplate failure mode).

    Relational shape: bigram list built per-row (JVM), exploded once,
    counted, and the per-doc argmax taken with a window — one shuffle on
    (doc, bigram), one on doc; no Python, no collect. Ties break to the
    lexicographically smallest bigram. Docs with < 2 words are excluded
    (no bigram distribution to measure).
    """
    from pyspark.sql.window import Window

    t = F.col(text_col)
    base = df.select(
        F.col(id_col),
        token_count(t).alias("n_words"),
        unique_token_count(t).alias("n_uniq"),
        bigrams(t).alias("bg"),
    ).where(F.col("n_words") >= 2)
    counts = (
        base.select(id_col, "n_words", "n_uniq", F.explode("bg").alias("bigram"))
        .groupBy(id_col, "n_words", "n_uniq", "bigram")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cnt"), F.asc("bigram"))
    top = counts.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return top.select(
        F.col(id_col),
        (F.lit(1.0) - F.col("n_uniq") / F.col("n_words")).alias("dup_token_frac"),
        F.col("bigram").alias("top_bigram"),
        F.col("cnt").alias("top_bigram_count"),
        (F.col("cnt") / (F.col("n_words") - 1)).alias("top_bigram_frac"),
    )


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII surface scan + redaction fingerprint: counts of email-shaped
    and digit-run matches, and the md5 of the digit-redacted text (the
    cheap pre-redaction audit a curation pipeline runs corpus-wide).
    Patterns are deliberately RE2-safe (no lookaround, no backrefs) so
    the identical pattern strings run in Spark (Java regex) and any
    RE2-based engine."""
    t = F.col(text_col)
    email = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    digits = "[0-9]+"
    return df.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(email), F.lit(0))).cast("long").alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(t, F.lit(digits), F.lit(0))).cast("long").alias(
            "n_digit_runs"
        ),
        F.md5(F.regexp_replace(t, digits, "<NUM>")).alias("redacted_fingerprint"),
    )


def pack_documents(
    df: DataFrame,
    budget_tokens: int = 2048,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy sequence packing: assign documents to fixed-token-budget
    bins (pretraining context windows) within each group.

    The scalable formulation: a deterministic order (id) per group, a
    running token cumsum, and bin = floor((cumsum - n_tokens) / budget) —
    each document starts a new bin exactly when its predecessors filled
    one. One shuffle on the group key; the window never sorts globally.
    (First-fit-decreasing packs ~tighter but is inherently sequential;
    the cumsum split is the standard distributed compromise — documents
    longer than the budget get a bin of their own and are truncated
    downstream.)
    """
    from pyspark.sql.window import Window

    n_tok = token_count(F.col(text_col))
    w = Window.partitionBy(group_col).orderBy(id_col)
    cum = F.sum(n_tok).over(w)
    return df.select(
        group_col,
        id_col,
        n_tok.alias("n_tokens"),
        F.floor((cum - n_tok) / budget_tokens).cast("long").alias("bin"),
        (cum - n_tok - F.floor((cum - n_tok) / budget_tokens) * budget_tokens)
        .cast("long")
        .alias("bin_offset_tokens"),
    )


def segment_dup_stats(
    df: DataFrame,
    seg_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document segment-level duplication profile (the CCNet /
    RefinedWeb paragraph-dedup signal, adapted to newline-free text):
    cut each document into consecutive ``seg_tokens``-token segments
    (trailing remainder dropped), count every segment's occurrences
    across the WHOLE corpus, and report per document how many of its
    segments are corpus-duplicated.

    Scale shape: segments are built row-local with higher-order array
    functions (sequence -> transform -> slice -> array_join), then keyed
    by ``md5(segment)`` so the corpus count and the count-back join both
    shuffle a 32-char digest, never the segment text — at 100 TB the
    exchange payload is (digest, id), doc-length independent. The
    corpus-count aggregate is map-side partial; the per-doc rollup
    reuses the id key. A full paragraph-remover would semi-join docs
    against the dup digests — same plan minus the final rollup.
    """
    toks = tokens(text_col)
    n_segs = F.floor(F.size(toks) / seg_tokens).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(F.slice(toks, i * seg_tokens + 1, seg_tokens), " "),
    )
    exploded = (
        df.where(F.size(toks) >= seg_tokens)
        .select(F.col(id_col), F.explode(segs).alias("seg"))
        .select(id_col, F.md5(F.col("seg")).alias("seg_h"))
    )
    corpus_counts = exploded.groupBy("seg_h").agg(F.count("*").alias("c"))
    return (
        exploded.join(corpus_counts, "seg_h")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup_segments"),
        )
        .select(
            id_col,
            "n_segments",
            "n_dup_segments",
            (F.col("n_dup_segments") / F.col("n_segments")).alias("dup_segment_frac"),
        )
    )


def segment_dedup_rewrite(
    df: DataFrame,
    seg_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    within_doc: bool = False,
) -> DataFrame:
    """Corpus-level segment REMOVAL + document reconstruction — the
    rewrite half of :func:`segment_dup_stats` (C4's famous line-dedup,
    adapted to newline-free text): cut each document into consecutive
    ``seg_tokens``-token segments, keep only the FIRST occurrence of
    every segment corpus-wide (first = smallest (doc_id, position) —
    C4 keeps one occurrence of each thrice-repeated line; keep-first is
    its deterministic, engine-replicable form), and reassemble each
    document from its surviving segments in position order.

    Returns (id, clean_text, n_kept, n_removed); documents shorter than
    one segment are excluded and the trailing sub-segment remainder is
    dropped, both exactly as in ``segment_dup_stats``. ``clean_text`` is
    ``''`` when every segment was removed (both engines coalesce — Spark
    ``concat_ws`` of nothing and DuckDB ``string_agg`` of no rows differ
    on this edge).

    Scale shape: one shuffle keyed on ``md5(segment)`` for the global
    keep-first window, one on the doc id for reassembly. Unlike the
    stats query this one must carry segment TEXT through both exchanges
    (it rebuilds documents); payload is the corpus itself, the floor for
    any rewrite. The window is a row_number over (digest) — no global
    sort, and skew equals segment duplication, which is precisely what
    the operator deletes.

    ``within_doc=True`` narrows the dedup scope to EACH DOCUMENT: keep
    the first occurrence of a segment within its own doc, leave
    cross-document duplication alone (the boilerplate-header/chorus
    cleanup that precedes corpus-level dedup — Gopher's within-document
    repetition removal as a rewrite). The window key gains the doc id,
    so the rewrite becomes entirely doc-local: segment skew cannot
    concentrate keys beyond one document's segments, and the reassembly
    reuses the same shuffle key — at scale this variant is strictly
    cheaper than the corpus-wide form.
    """
    from pyspark.sql.window import Window

    toks = tokens(text_col)
    n_segs = F.floor(F.size(toks) / seg_tokens).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(F.slice(toks, i * seg_tokens + 1, seg_tokens), " "),
    )
    exploded = df.where(F.size(toks) >= seg_tokens).select(
        F.col(id_col), F.posexplode(segs).alias("pos", "seg")
    )
    part = (
        [F.col(id_col), F.md5(F.col("seg"))]
        if within_doc
        else [F.md5(F.col("seg"))]
    )
    w = Window.partitionBy(*part).orderBy(id_col, "pos")
    ranked = exploded.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("pos"), F.col("seg"))
    )  # collect_list drops the NULLs for removed segments
    return ranked.groupBy(id_col).agg(
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg"]
                ),
                " ",
            ),
            F.lit(""),
        ).alias("clean_text"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_removed"),
    )


def token_budget_selection(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_buckets: int = 1000,
) -> DataFrame:
    """Greedy corpus selection under a total token budget, highest
    quality first — WITHOUT a global sort.

    The spec is a prefix sum over the total order (quality DESC, id ASC):
    keep every doc whose preceding-token count is still under ``budget``
    (the straightforward single-window form is what the DuckDB oracle
    runs). A literal translation needs ORDER BY over the whole corpus —
    a single-reducer sort at 100 TB. Instead the prefix sum decomposes
    exactly:

        global_tokens_before(doc) = bucket_tokens_before(doc.qb)
                                  + tokens_before_within_bucket(doc)

    - ``qb``: integer quality bucket, (quality_buckets × n_uniq) div
      n_tokens — all-integer, so both engines bucket identically.
    - bucket totals: one narrow groupBy(qb) — at most ``quality_buckets``
      rows, whose descending cumulative sum is broadcast back.
    - within-bucket prefix: a window partitioned BY BUCKET (ordered by
      id), so no partition exceeds one bucket's docs.

    The only global structure is the broadcast of ≤ quality_buckets+1
    cumulative rows; every per-doc computation is bucket-partitioned.
    Returns (id, qb, n_tokens, tokens_before) for the selected docs.

    Window-partition sizing: a quality bucket holds ~corpus/
    quality_buckets docs, so scale ``quality_buckets`` with the corpus
    (the :func:`order_buckets_for` rule: ~corpus_rows/4M, floor 256).
    Unlike the chunk index's hash buckets, a finer quality grid only
    REFINES the selection order (same quality → id tiebreak within a
    bucket), and if one quality value itself is hot, the within-bucket
    window can be decomposed further by monotone id ranges without
    changing the total order — the hierarchical form of the same
    prefix-sum identity.
    """
    from pyspark.sql.window import Window

    t = F.col(text_col)
    d = df.select(
        F.col(id_col),
        token_count(t).alias("n_tokens"),
        (
            (F.lit(quality_buckets) * unique_token_count(t))
            .cast("long")
            / token_count(t)
        )
        .cast("long")
        .alias("qb"),
    )
    per_bucket = d.groupBy("qb").agg(F.sum("n_tokens").alias("bucket_tokens"))
    wb = (
        Window.orderBy(F.desc("qb"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per_bucket.select(
        "qb",
        F.coalesce(F.sum("bucket_tokens").over(wb), F.lit(0)).alias(
            "bucket_tokens_before"
        ),
    )
    wd = (
        Window.partitionBy("qb")
        .orderBy(F.col(id_col).asc())
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
        .select(id_col, "qb", "n_tokens", "tokens_before")
    )


def source_cap_sample(
    df: DataFrame,
    cap: int,
    by_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "cap:",
) -> DataFrame:
    """Cap each group at ``cap`` docs, membership chosen by salted-hash
    order (ties broken by id): the over-represented-domain limiter every
    web-corpus mix applies. Hash order makes the kept subset a uniform,
    reproducible sample of the group — stable across runs, engines and
    partitionings — instead of whatever head() the scan order produced.
    One window per group key; no global structure."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(by_col).orderBy(
        split_bucket(id_col, salt=salt, n_buckets=2_147_483_647).asc(),
        F.col(id_col).asc(),
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .select(id_col, by_col)
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 32,
    stride: int = 24,
    min_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking — the context-window prep step
    of a training/RAG pipeline: each doc becomes ceil(n/stride) chunks of
    ``chunk_size`` tokens starting every ``stride`` tokens (overlap =
    chunk_size - stride), tail fragments under ``min_tokens`` dropped.
    Returns (id_col, chunk_id, n_tokens, chunk_text); chunk_id is the
    start offset / stride, so (doc, chunk_id) is a stable global key.

    Per-row array algebra + one posexplode — narrow, no shuffle at all:
    chunking 100 TB is a map-only job whose output partitioning inherits
    the scan's. The token array is built once per doc and sliced per
    chunk (slice is O(chunk_size), not O(n)); whitespace tokenization
    matches `tokens()` so chunk token counts agree with the corpus-stats
    family.
    """
    toks = F.split(F.col(text_col), " ")
    starts = F.sequence(F.lit(0), F.size(toks) - 1, F.lit(stride))
    base = df.select(
        F.col(id_col), toks.alias("_toks"), F.explode(starts).alias("_start")
    )
    chunk = F.slice(F.col("_toks"), F.col("_start") + 1, F.lit(chunk_size))
    return (
        base.select(
            id_col,
            (F.col("_start") / stride).cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .where(F.col("n_tokens") >= min_tokens)
    )


def token_rarity_stats(
    df: DataFrame,
    head_max: float = 29.3,
    tail_min: float = 40.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style corpus-frequency document gate with an exact-integer
    kernel: per doc, the mean inverse corpus frequency of its tokens —
    rarity = (Σ_t floor(N / cnt(t))) / n — plus the head/middle/tail
    bucket CCNet keeps or drops by. Common-token docs score low (head),
    rare-token docs high (tail).

    The published filter ranks docs by LM perplexity; the decision
    structure here is identical (explode → corpus-frequency join →
    per-doc aggregate → fixed thresholds) with the surprisal kernel
    swapped for floor(N/cnt): an exact int64 per token, so the per-doc
    sum is partition-order-free and the DuckDB replay is bit-identical —
    the repo-wide rule of rational kernels over libm transcendentals
    (cf. tfidf_top_terms). A production KenLM scorer drops into the same
    shape via mapInPandas.

    Scale: one grouped count builds the frequency table (vocabulary-sized
    — broadcastable at even web scale), one token-keyed join scores the
    exploded corpus, one doc-keyed agg folds it back. No global sort, no
    driver data.
    """
    tok = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("n_total"))
    wt = freq.crossJoin(F.broadcast(total)).select(
        "token", F.floor(F.col("n_total") / F.col("cnt")).alias("wt")
    )
    return (
        tok.join(wt, "token")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("wt").alias("sum_inv_freq"),
        )
        .select(
            id_col,
            "n_tokens",
            "sum_inv_freq",
            (F.col("sum_inv_freq") / F.col("n_tokens")).alias("rarity"),
            F.when(F.col("sum_inv_freq") / F.col("n_tokens") <= head_max, "head")
            .when(F.col("sum_inv_freq") / F.col("n_tokens") >= tail_min, "tail")
            .otherwise("middle")
            .alias("ppl_bucket"),
        )
    )


CLASSIFIER_BUCKETS = 64


def classifier_weights(n_buckets: int = CLASSIFIER_BUCKETS) -> list[int]:
    """Deterministic integer weight table for the hashed linear
    classifier: w_b = (md5-prefix of 'w:b') % 2001 - 1000, i.e. a fixed
    pseudo-random integer in [-1000, 1000] per feature bucket. Both the
    Spark literal array and the oracle SQL literal are generated from
    this one function, so there is a single source of truth."""
    import hashlib

    return [
        int(hashlib.md5(f"w:{b}".encode()).hexdigest()[:8], 16) % 2001 - 1000
        for b in range(n_buckets)
    ]


def hashed_classifier_score(
    df: DataFrame,
    n_buckets: int = CLASSIFIER_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style linear quality-classifier gate, all-JVM: tokens
    hash into ``n_buckets`` feature buckets (md5-prefix — the portable
    hash the dedup family uses), each bucket carries a fixed integer
    weight, and a doc's score is the mean bucket weight of its tokens:
    score = (Σ_t w[bucket(t)]) / (1000 * n). ``label`` = score >= 0.

    This is the exact inference shape of a bag-of-hashed-ngrams linear
    model (the classifier gate most published curation stacks run); the
    weights here are a deterministic fixture stand-in for trained ones —
    swap `classifier_weights` for a trained vector and nothing else
    changes. Integer weights keep the per-doc sum exact int64
    (partition-order-free); the only float op is one final division.

    Scale: the whole gate is ONE per-row fold — tokenize, map each token
    through md5-bucket → weight lookup, sum left-to-right — so scoring
    100 TB is a map-only job with ZERO shuffle (an explode + groupBy
    formulation would shuffle the entire exploded corpus just to fold it
    back per doc). The weight table is a literal array in the plan, not
    even a broadcast; being row-local, the same expression drops into a
    streaming select unchanged (see streaming classifier gate). The
    weight array is bound once as a lambda argument would be — it
    appears only inside the two HOF lambdas, so CollapseProject cannot
    duplicate it across projections (SCALE_NOTES §10)."""
    w = F.array(*[F.lit(v) for v in classifier_weights(n_buckets)])
    toks = F.split(F.col(text_col), " ")
    wt_of = lambda t: F.element_at(  # noqa: E731
        w,
        (
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
            % n_buckets
            + 1
        ).cast("int"),
    ).cast("long")
    sum_wt = F.aggregate(
        F.transform(toks, wt_of), F.lit(0).cast("long"), lambda a, x: a + x
    )
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        sum_wt.alias("_sum_wt"),
    ).select(
        id_col,
        "n_tokens",
        (F.col("_sum_wt") / (F.lit(1000) * F.col("n_tokens"))).alias("score"),
        (F.col("_sum_wt") >= 0).alias("label"),
    )


def pack_training_sequences(
    df: DataFrame,
    seq_len: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    order_salt: str = "pack:",
) -> DataFrame:
    """Concat-and-chunk sequence packing — the layout step that turns a
    curated corpus into fixed-length training rows: documents are laid
    end-to-end in a deterministic pseudo-random order (md5 of the salted
    id, ties by id — stable across runs, engines and partitionings) and
    the concatenated token stream is cut into bins of ``seq_len``
    tokens; a document crossing a boundary is split across bins, GPT
    -style. Returns one row per (document, bin) span:
    (id, bin, start_in_doc, start_in_bin, n_tok).

    The spec is a prefix sum over the global order — a single-reducer
    sort at 100 TB if translated literally (the DuckDB oracle's window
    form). Instead the prefix sum decomposes over order-aligned hash
    buckets, exactly as in :func:`token_budget_selection`:

        offset(doc) = tokens_in_buckets_before(doc.hb)
                    + tokens_before_within_bucket(doc)

    ``hb`` is the integer value of the first 3 hex chars of the order
    hash — a PREFIX of the sort key, so bucket order equals global
    order (4096 buckets, uniformly loaded by construction since the
    key is a hash). Bucket totals are one narrow groupBy whose
    cumulative sum is broadcast back; the within-bucket window never
    sees more than ~1/4096 of the corpus. Bin spans then come from one
    ``explode(sequence(first_bin, last_bin))`` — each doc emits
    1 + n_tokens/seq_len rows, the output's own size.
    """
    from pyspark.sql.window import Window

    hk = F.md5(F.concat(F.lit(order_salt), F.col(id_col).cast("string")))
    d = df.select(
        F.col(id_col).alias("id"),
        token_count(text_col).alias("n_tokens"),
        hk.alias("hk"),
    ).where(F.col("n_tokens") > 0)
    d = d.withColumn(
        "hb", F.conv(F.substring("hk", 1, 3), 16, 10).cast("long")
    )
    per_bucket = d.groupBy("hb").agg(F.sum("n_tokens").alias("bucket_tokens"))
    wb = Window.orderBy("hb").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_bucket.select(
        "hb",
        F.coalesce(F.sum("bucket_tokens").over(wb), F.lit(0)).alias("before_bucket"),
    )
    wd = (
        Window.partitionBy("hb")
        .orderBy("hk", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        d.join(F.broadcast(cum), "hb")
        .withColumn(
            "off",
            F.col("before_bucket") + F.coalesce(F.sum("n_tokens").over(wd), F.lit(0)),
        )
        .select("id", "n_tokens", "off")
    )
    L = F.lit(int(seq_len)).cast("long")
    spans = off.select(
        "id",
        "n_tokens",
        "off",
        F.explode(
            F.sequence(
                F.floor(F.col("off") / L),
                F.floor((F.col("off") + F.col("n_tokens") - 1) / L),
            )
        ).alias("bin"),
    )
    start_in_doc = F.greatest(F.lit(0).cast("long"), F.col("bin") * L - F.col("off"))
    return spans.select(
        "id",
        F.col("bin").cast("long").alias("bin"),
        start_in_doc.alias("start_in_doc"),
        F.greatest(F.lit(0).cast("long"), F.col("off") - F.col("bin") * L).alias(
            "start_in_bin"
        ),
        (
            F.least(F.col("n_tokens"), (F.col("bin") + 1) * L - F.col("off"))
            - start_in_doc
        ).alias("n_tok"),
    )


def token_drift_by_source(
    df: DataFrame,
    top_v: int = 256,
    text_col: str = "text",
    source_col: str = "source",
    scale: int = 10**12,
) -> DataFrame:
    """Per-source distribution drift: total-variation distance between
    each source's unigram distribution and the corpus-wide distribution,
    both restricted to (and renormalized over) the corpus's ``top_v``
    tokens — the mixture-monitoring statistic a corpus pipeline tracks
    to catch a source whose content shifted (scraper broke, domain
    changed hands, template flooded in).

        TV(p_s, q) = 1/2 * [ sum over present tokens |p_s(t) - q(t)|
                           + (1 - sum over present tokens q(t)) ]

    (the second term is the mass of top-V tokens the source never uses,
    where |p-q| = q exactly — no smoothing needed for TV.)

    Parity rule (the ``exactmath`` discipline): per-term doubles are
    quantized to an integer 1/``scale`` grid and summed as BIGINT, so
    the aggregate is order-independent and engine-exact — a double SUM's
    low bits depend on accumulation order, which AQE and partial
    aggregation reorder. Each term is |c/n - g/G| — pure IEEE divisions
    on exact int64 counts, bitwise identical on any engine; one rounding
    per term, one exact integer sum, one final double division.

    Scale shape: token counts are vocabulary-sized aggregates with
    map-side partials; top-V is TakeOrdered (never a global sort); the
    per-source total and the scalar G are broadcast; the only
    corpus-sized exchange is the (source, token) count shuffle.
    Returns (source, n_present, tv_drift); a source with zero top-V
    tokens is absent (its distribution over V is undefined).
    """
    tok = df.select(
        F.col(source_col).alias("source"), F.explode(tokens(text_col)).alias("token")
    )
    corpus = tok.groupBy("token").agg(F.count("*").alias("g"))
    topv = corpus.orderBy(F.desc("g"), F.asc("token")).limit(top_v)
    # "big_g", not "G": Spark resolves column names case-insensitively,
    # so a G column is ambiguous against g after the join
    gt = topv.agg(F.sum("g").alias("big_g"))
    sc = (
        tok.join(topv, "token")
        .groupBy("source", "token", "g")
        .agg(F.count("*").alias("c"))
    )
    ns = sc.groupBy("source").agg(F.sum("c").alias("n"))
    rows = sc.join(F.broadcast(ns), "source").crossJoin(F.broadcast(gt))
    p = F.col("c") / F.col("n")
    q = F.col("g") / F.col("big_g")
    terms = rows.select(
        "source",
        F.round(F.abs(p - q) * scale).cast("long").alias("term"),
        F.round(q * scale).cast("long").alias("qterm"),
    )
    return terms.groupBy("source").agg(
        F.count("*").alias("n_present"),
        (
            (F.sum("term") + (F.lit(scale) - F.sum("qterm")))
            / F.lit(float(2 * scale))
        ).alias("tv_drift"),
    )


def length_bucket_batches(
    df: DataFrame,
    bucket_width: int = 64,
    batch_size: int = 32,
    shard_hex_chars: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Length-bucketed dynamic batching for padded inference: group docs
    of similar token length into fixed-size batches so padding waste
    (batch-max minus own length, summed) stays small — the standard
    serving/embedding-pipeline preprocessing step. A single global
    length-sorted order would minimize padding but costs a global sort
    and serializes batch assembly; the distributed form shards FIRST
    (md5 prefix of the id — deterministic, uniform), then windows only
    within (bucket, shard): every window partition is ~1/16th (one hex
    char) of one length bucket, bounded however large the corpus grows,
    and batches are independently assemblable per shard. Waste stays
    near-optimal because lengths within a bucket differ by < bucket_width
    regardless of which shard a doc lands in.

    Returns one row per batch: (bucket, shard, batch_idx, n_docs,
    batch_max_tokens, pad_waste) — exact integers, engine-exact.
    """
    from pyspark.sql.window import Window

    n_tok = token_count(text_col)
    d = df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.md5(F.concat(F.lit("lbb:"), F.col(id_col).cast("string"))).alias("hk"),
    ).where(F.col("n_tokens") > 0)
    d = d.select(
        "*",
        (F.col("n_tokens") / bucket_width).cast("long").alias("bucket"),
        F.substring("hk", 1, shard_hex_chars).alias("shard"),
    )
    w = Window.partitionBy("bucket", "shard").orderBy("hk", id_col)
    batched = d.select(
        "bucket",
        "shard",
        "n_tokens",
        ((F.row_number().over(w) - 1) / batch_size).cast("long").alias("batch_idx"),
    )
    return batched.groupBy("bucket", "shard", "batch_idx").agg(
        F.count("*").alias("n_docs"),
        F.max("n_tokens").alias("batch_max_tokens"),
        (F.count("*") * F.max("n_tokens") - F.sum("n_tokens")).alias("pad_waste"),
    )


def curriculum_interleave(
    df: DataFrame,
    quality_col: Column | None = None,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Curriculum ordering with source interleaving: rank documents
    best-first WITHIN each source, then round-robin the sources so
    training consumes a stable source mix at every quality tier instead
    of exhausting the best source before touching the next. Global
    position = (round - 1) * n_sources + source_index — a closed form,
    no global sort: the only full-width shuffle is the per-source
    ranking window (same shape as the per-source caps operator; at
    extreme scale the rank decomposes over quality buckets exactly like
    token-budget selection, SCALE_NOTES §12). The source dimension
    (index + count) is a bounded broadcast join, not a scalar cross
    join. Ties rank deterministically by id.

    Returns (doc_id, source, quality, round, global_pos).
    """
    from pyspark.sql.window import Window

    q = quality_col if quality_col is not None else quality_score_col(text_col)
    d = df.select(F.col(id_col), F.col(source_col).alias("source"), q.alias("quality"))
    # materialized once: `srcs` feeds the n_src count AND the broadcast
    # join — without the checkpoint the corpus-wide distinct scan runs
    # twice (self-consumption trap, SCALE_NOTES round-4 audit)
    srcs = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (
                F.row_number().over(Window.orderBy("source")) - 1
            ).alias("src_idx"),
        )
        .localCheckpoint(eager=True)
    )
    n_src = srcs.count()
    w = Window.partitionBy("source").orderBy(F.desc("quality"), F.col(id_col))
    ranked = d.select("*", F.row_number().over(w).cast("long").alias("round"))
    return (
        ranked.join(F.broadcast(srcs), "source")
        .select(
            id_col,
            "source",
            "quality",
            "round",
            (
                (F.col("round") - 1) * F.lit(n_src) + F.col("src_idx")
            ).alias("global_pos"),
        )
    )


def chunk_documents_udtf(
    df: DataFrame,
    chunk_size: int = 32,
    stride: int = 24,
    min_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Python UDTF twin of :func:`chunk_documents` — identical semantics
    through Spark 4's user-defined TABLE function API (SPARK-43798):
    an ``@udtf`` class applied per row via ``DataFrame.lateralJoin`` with
    an ``.outer()`` correlated column, Arrow-batched
    (``ArrowEvalPythonUDTF`` in the plan, never row-pickled
    ``BatchEvalPython``).

    Division of labor, stated plainly: the RELATIONAL form is the hot
    path — whole-stage-codegen'd array algebra, zero Python — and is
    what the registered pipeline uses at scale. The UDTF form is the
    escape hatch for chunkers that genuinely need imperative Python
    (sentence segmenters, tokenizer-aware splitters, stateful format
    parsers) and this twin pins the API plumbing (schema contract,
    lateral correlation, Arrow batching) against the same oracle the
    relational form answers, exactly like the stateful v1/v2 pairing in
    streaming/windows. Still map-only: the lateral join is per-partition
    generation, no shuffle; 100 TB chunking inherits the scan's
    partitioning either way.
    """
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_id bigint, n_tokens bigint, chunk_text string",
        useArrow=True,
    )
    class ChunkWindows:
        def eval(self, text):  # noqa: ANN001 — UDTF eval signature
            if text is None:
                return
            toks = text.split(" ")
            for start in range(0, len(toks), stride):
                ch = toks[start : start + chunk_size]
                if len(ch) >= min_tokens:
                    yield (start // stride, len(ch), " ".join(ch))

    return df.lateralJoin(ChunkWindows(F.col(text_col).outer())).select(
        id_col, "chunk_id", "n_tokens", "chunk_text"
    )


def vocab_oov_rates(
    df: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_size`` token vocabulary — the tokenizer-coverage health
    check a training pipeline runs before committing to a vocab: docs
    with high OOV either carry rare/foreign/noisy content or the vocab
    is too small for the mix.

    Vocabulary = top-``vocab_size`` tokens by (count DESC, token ASC) —
    the token tiebreak makes the cutoff boundary deterministic when
    counts tie. Selection is orderBy+limit (TakeOrderedAndProject: top-k
    per partition then a k-row merge, never a global sort), and the
    vocab join IS broadcast: unlike the corpus-sized LM model tables,
    this side is bounded by the ``vocab_size`` PARAMETER, not by data.
    oov_rate is one BIGINT/BIGINT division — deterministic cross-engine.
    """
    occ = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("token")
    )
    vocab = (
        occ.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(vocab_size)
        .select("token", F.lit(1).alias("_in_vocab"))
    )
    return (
        occ.join(F.broadcast(vocab), "token", "left")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
        .withColumn("oov_rate", F.col("n_oov") / F.col("n_tokens"))
    )


# ---------------------------------------------------------------------------
# Raw-web normalization: markup strip + entity decode, mojibake repair
# ---------------------------------------------------------------------------
#
# A training-data pipeline meets HTML and encoding damage BEFORE any of
# the quality gates above (Gopher/C4 flags assume plain text). Both
# normalizers are pure regexp_replace/replace chains — JVM-side, whole-
# stage codegen, per-row projections with no shuffle — and both are
# mirrored 1:1 in DuckDB regexp/replace for hash-exact oracles. The
# registered queries synthesize the dirty input DETERMINISTICALLY from
# the plain-text corpus (the same fixture discipline as
# fixtures.airports_messages: the sandbox has no raw-web crawl, so the
# damage is injected column-side, identically on both engines).

# (entity, decoded) in DECODE ORDER: every other entity decodes before
# &amp; so a double-escaped '&amp;lt;' correctly yields the LITERAL
# string '&lt;' (standard entity-decode ordering).
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)

# UTF-8 bytes mis-decoded as cp1252 (the classic double-encoding
# mojibake), LONGEST FIRST so 3-byte sequences repair before their
# 2-byte suffixes could be touched. Only well-defined cp1252 images are
# listed (sequences through 0x81/0x8d/0x8f/0x90/0x9d are unmappable).
MOJIBAKE_REPAIRS: tuple[tuple[str, str], ...] = (
    ("â€™", "’"),  # â€™ → ’
    ("â€œ", "“"),  # â€œ → “
    ("â€”", "—"),  # â€” → —
    ("â€“", "–"),  # â€“ → –
    ("Ã©", "é"),  # Ã© → é
    ("Ã¨", "è"),  # Ã¨ → è
    ("Ã\u00a0", "à"),  # C3 A0 read as cp1252 = Ã + NBSP → à
    ("Ã¯", "ï"),  # Ã¯ → ï
    ("Ã§", "ç"),  # Ã§ → ç
    ("Ã¼", "ü"),  # Ã¼ → ü
    ("Ã¶", "ö"),  # Ã¶ → ö
    ("Ã¤", "ä"),  # Ã¤ → ä
    ("Ã±", "ñ"),  # Ã± → ñ
)

# Typographic folding AFTER repair: curly quotes/dashes/nbsp to ASCII —
# the practical "NFKC-ish" canonicalization a tokenizer wants.
PUNCT_FOLDS: tuple[tuple[str, str], ...] = (
    ("’", "'"),
    ("‘", "'"),
    ("“", '"'),
    ("”", '"'),
    ("—", "-"),
    ("–", "-"),
    ("\u00a0", " "),  # NBSP
)

_CONTROL_CHARS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def html_to_text(col: Column | str) -> Column:
    """Strip markup to plain text: drop <script>/<style> blocks and
    comments wholesale, replace every remaining tag with a space, decode
    the common named/numeric entities (&amp; last, so double-escapes
    yield literals), then collapse whitespace and trim. Each step is one
    JVM regexp/replace; the DuckDB mirror is the identical chain (RE2
    and Java agree on every construct used: (?is), non-greedy .*?,
    \\b, character classes, \\s)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def unicode_repair(col: Column | str) -> Column:
    """Encoding-damage repair: undo cp1252-decoded UTF-8 mojibake
    (longest sequences first), fold typographic punctuation and NBSP to
    ASCII, strip control characters, collapse whitespace. Replace/regexp
    chain only — the column-contract stand-in for a full ftfy/NFC pass
    (the repair TABLE is the swappable part; the plan shape is the
    point)."""
    c = F.col(col) if isinstance(col, str) else col
    for bad, good in MOJIBAKE_REPAIRS:
        c = F.replace(c, F.lit(bad), F.lit(good))
    for bad, good in PUNCT_FOLDS:
        c = F.replace(c, F.lit(bad), F.lit(good))
    c = F.regexp_replace(c, _CONTROL_CHARS, "")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


# Shared fixture literals — the SQL oracle builders in queries_curation
# interpolate EXACTLY these strings, so Spark synthesis and DuckDB
# synthesis cannot drift.
HTML_PAGE_TITLE_PREFIX = "<html><head><title>d"
HTML_PAGE_HEAD_REST = (
    '</title><script type="text/javascript">if (a && b < c) '
    '{ x = "<y>"; }</script><style>p { color: #fff; }</style>'
    "</head><body><!-- generated fixture --><p>"
)
HTML_PAGE_SUFFIX = (
    "</p><p>&quot;end&nbsp;of&nbsp;doc&quot; &amp; &#39;fin&#39;"
    " &lt;eof&gt; &amp;lt;literal&amp;gt;</p></body></html>"
)


def html_noise(text_col: Column | str = "text", id_col: str = "doc_id") -> Column:
    """Deterministic dirty-HTML synthesis from plain text (the fixture
    half of the html_to_text oracle pair): wraps the document in a page
    with a script block (containing <, &&, quotes — tag-strip bait), a
    style block, a comment, entity-encoded punctuation, and — for
    doc_id % 3 == 0 — the body re-paragraphed word-per-<p>."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    body = F.when(
        F.col(id_col) % 3 == 0, F.replace(t, F.lit(" "), F.lit("</p><p>"))
    ).otherwise(t)
    return F.concat(
        F.lit(HTML_PAGE_TITLE_PREFIX),
        F.col(id_col).cast("string"),
        F.lit(HTML_PAGE_HEAD_REST),
        body,
        F.lit(HTML_PAGE_SUFFIX),
    )


MOJI_PREFIX_EVEN = "cafÃ© rÃ©sumÃ© "
MOJI_PREFIX_ODD = "naÃ¯ve dÃ©jÃ\u00a0 vu "
MOJI_SUFFIX = " â€œquoted”\u00a0â€” itâ€™s done\x07here"


def mojibake_noise(
    text_col: Column | str = "text", id_col: str = "doc_id"
) -> Column:
    """Deterministic encoding-damage synthesis (the fixture half of the
    unicode_repair oracle pair): mojibake words prefixed by doc_id
    parity, curly-quoted/em-dashed/NBSP'd suffix, a stray control char."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    pre = F.when(
        F.col(id_col) % 2 == 0, F.lit(MOJI_PREFIX_EVEN)
    ).otherwise(F.lit(MOJI_PREFIX_ODD))
    return F.concat(pre, t, F.lit(MOJI_SUFFIX))


# --------------------------------------------------------------------------
# Typed PII redaction (the rewrite half of pii_scan) — shared literals +
# RE2-safe patterns, mirrored verbatim in the queries_curation oracle.
# --------------------------------------------------------------------------

PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,2}-555-[0-9]{4}"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_NUM_RE = "[0-9]+"

# Redaction ORDER IS THE CONTRACT: emails first (their local parts
# contain digits), then phones (contain hyphens + digit runs), then IPs
# (dotted digit runs), then bare digit runs mop up the rest. Reversing
# any pair corrupts the earlier type's match.
PII_MASKS = (
    (PII_EMAIL_RE, "<EMAIL>"),
    (PII_PHONE_RE, "<PHONE>"),
    (PII_IP_RE, "<IP>"),
    (PII_NUM_RE, "<NUM>"),
)

PII_NOISE_PREFIX = "Contact user"
PII_NOISE_MAIL_HOST = "@mail.example.com or +1-555-"
PII_NOISE_AT_IP = " at 10."


def pii_noise(text_col: Column | str = "text", id_col: str = "doc_id") -> Column:
    """Deterministic PII injection (the fixture half of the pii_redact
    oracle pair): a doc_id-derived email, a +1-555 phone, and a dotted
    IP prepended to the document text."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    d = F.col(id_col)
    return F.concat(
        F.lit(PII_NOISE_PREFIX), d.cast("string"),
        F.lit(PII_NOISE_MAIL_HOST),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(PII_NOISE_AT_IP),
        (d % 256).cast("string"), F.lit("."),
        ((d * 7) % 256).cast("string"), F.lit("."),
        ((d * 13) % 256).cast("string"),
        F.lit(". "), t,
    )


def pii_redact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Typed PII redaction rewrite: sequentially mask emails, phones,
    IPs, then residual digit runs, counting each type on the text AS IT
    STANDS when that pattern runs (so an email's digits are never
    double-counted as <NUM>). Pure per-row regexp chain — no shuffle,
    whole-stage codegen; the production redactor a curation pipeline
    runs corpus-wide after pii_scan triages.
    """
    c = F.col(text_col)
    out = [F.col(id_col)]
    for pat, mask in PII_MASKS:
        label = "n_" + mask.strip("<>").lower() + "s"
        out.append(
            F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(label)
        )
        c = F.regexp_replace(c, pat, mask)
    out.append(c.alias("text_redacted"))
    return df.select(*out)


# --------------------------------------------------------------------------
# Fill-in-middle (FIM) training-example assembly
# --------------------------------------------------------------------------

FIM_PRE = "<PRE> "
FIM_SUF = " <SUF> "
FIM_MID = " <MID> "


def fim_transform(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fim_num: int = 1,
    fim_den: int = 2,
    salt: str = "fim8:",
    min_tokens: int = 4,
) -> DataFrame:
    """Fill-in-middle pretraining transform (Bavarian et al. 2022; the
    StarCoder / Code Llama data prep): with probability fim_num/fim_den
    a document is rearranged into PSM layout — two uniform token cut
    points split it into (prefix, middle, suffix), emitted as
    ``<PRE> prefix <SUF> suffix <MID> middle`` so the model learns to
    infill — and otherwise passes through unchanged (mode ``ar``).

    Every random choice (the mode coin and both cut points) is a
    salted-md5 hash of the document id, NOT rand(): the transform is a
    pure per-row projection that is reproducible across runs, engines,
    partitionings and corpus growth — rerunning the prep on a resharded
    100 TB corpus yields byte-identical examples, and the DuckDB oracle
    replays the identical arithmetic. Zero shuffle, no Python; documents
    shorter than ``min_tokens`` stay autoregressive (a degenerate split
    of a 2-token doc teaches nothing).

    Emits (id, mode, n_tokens, n_prefix, n_middle, n_suffix, text_out);
    the three span lengths are NULL on ``ar`` rows.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    coin = split_bucket(id_col, salt=salt + "coin:", n_buckets=fim_den)
    big = 2_147_483_647
    c1 = split_bucket(id_col, salt=salt + "c1:", n_buckets=big) % (n + 1)
    c2 = split_bucket(id_col, salt=salt + "c2:", n_buckets=big) % (n + 1)
    lo = F.least(c1, c2)
    hi = F.greatest(c1, c2)
    is_fim = (coin < fim_num) & (n >= min_tokens)
    prefix = F.slice(toks, F.lit(1), lo)
    middle = F.slice(toks, lo + 1, hi - lo)
    suffix = F.slice(toks, hi + 1, n - hi)
    fim_text = F.concat(
        F.lit(FIM_PRE), F.array_join(prefix, " "),
        F.lit(FIM_SUF), F.array_join(suffix, " "),
        F.lit(FIM_MID), F.array_join(middle, " "),
    )
    null_l = F.lit(None).cast("long")
    return df.select(
        F.col(id_col),
        F.when(is_fim, F.lit("fim")).otherwise(F.lit("ar")).alias("mode"),
        n.cast("long").alias("n_tokens"),
        F.when(is_fim, lo.cast("long")).otherwise(null_l).alias("n_prefix"),
        F.when(is_fim, (hi - lo).cast("long"))
        .otherwise(null_l)
        .alias("n_middle"),
        F.when(is_fim, (n - hi).cast("long"))
        .otherwise(null_l)
        .alias("n_suffix"),
        F.when(is_fim, fim_text).otherwise(F.col(text_col)).alias("text_out"),
    )


def grouped_token_budget_selection(
    df: DataFrame,
    budgets: dict[str, int],
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_buckets: int = 1000,
) -> DataFrame:
    """Per-GROUP greedy token-budget selection — the multilingual-mix
    version of :func:`token_budget_selection`: each group (language,
    source, domain…) gets its own token budget and fills it highest
    quality first, independently of every other group. This is how a
    real pretraining mix is assembled — per-language budgets from the
    mixture spec, not one global budget that lets a dominant language
    starve the rest.

    Same no-global-sort decomposition, one level down: the prefix sum
    over each group's (quality DESC, id) order splits into per-(group,
    bucket) totals — a groups x quality_buckets-row aggregate whose
    within-group descending cumulative is broadcast back — plus a
    window partitioned by (group, bucket). No partition exceeds one
    bucket of one group; groups never synchronize. Docs in groups
    absent from ``budgets`` are dropped (budget 0).

    Returns (id, group, qb, n_tokens, tokens_before) for selected docs.
    """
    from pyspark.sql.window import Window

    t = F.col(text_col)
    g = F.col(group_col)
    budget_expr = F.lit(None).cast("long")
    for k, v in budgets.items():
        budget_expr = F.when(g == k, F.lit(int(v))).otherwise(budget_expr)
    d = df.select(
        F.col(id_col),
        g.alias(group_col),
        token_count(t).alias("n_tokens"),
        (
            (F.lit(quality_buckets) * unique_token_count(t))
            .cast("long")
            / token_count(t)
        )
        .cast("long")
        .alias("qb"),
    )
    per_bucket = d.groupBy(group_col, "qb").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    wb = (
        Window.partitionBy(group_col)
        .orderBy(F.desc("qb"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per_bucket.select(
        group_col,
        "qb",
        F.coalesce(F.sum("bucket_tokens").over(wb), F.lit(0)).alias(
            "bucket_tokens_before"
        ),
    )
    wd = (
        Window.partitionBy(group_col, "qb")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(F.broadcast(cum), [group_col, "qb"])
        .withColumn(
            "tokens_before",
            F.col("bucket_tokens_before")
            + F.coalesce(F.sum("n_tokens").over(wd), F.lit(0)),
        )
        .where(F.col("tokens_before") < budget_expr)
        .select(id_col, group_col, "qb", "n_tokens", "tokens_before")
    )


def order_buckets_for(
    n_rows: int, target_rows_per_bucket: int = 4_000_000
) -> int:
    """Bucket count for the hash-decomposed prefix sums
    (:func:`stream_chunk_index`, :func:`token_budget_selection`'s
    within-bucket windows) — THE knob that keeps window partitions
    bounded as the corpus grows.

    A fixed bucket count means window partitions hold ~corpus/buckets
    rows: fine at sf1 (a few thousand docs per bucket at 256), a
    multi-hundred-million-row sort partition at 100 TB. The rule:
    size buckets so one bucket's rows sort comfortably inside one task
    (~4M rows ≈ 100-200 MB of window state), never below the 256 floor
    that keeps the broadcast cumulative trivially small. The hash makes
    bucket populations uniform (binomial concentration: at ≥4M expected
    rows per bucket the max/mean ratio is 1 + O(10⁻³)), so the bound is
    the EXPECTED population — pinned by test.

    NOTE: the bucket count participates in the shuffle ORDER (bucket =
    hash % buckets is the leading sort key), so changing it changes the
    deterministic document order — like changing the salt, it's an
    epoch-level decision, not a per-run tuning knob. Pick it from the
    corpus size class, keep it fixed for the dataset's lifetime.
    """
    return max(256, -(-n_rows // target_rows_per_bucket))


def stream_chunk_index(
    df: DataFrame,
    chunk_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "chunk8:",
    order_buckets: int = 256,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Chunk INDEX of the concatenated token stream — the GPT-style
    pretraining layout where documents are shuffled deterministically,
    concatenated, and sliced into fixed ``chunk_tokens`` windows that
    CROSS document boundaries. Emits per doc its placement in that
    stream: (id, global_start, chunk_first, chunk_last) with
    chunk_k = floor(offset / chunk_tokens); the metadata a loader needs
    to assemble any chunk is this index plus the doc text — the token
    stream itself is never materialized.

    The spec is a prefix sum over the global order (salted-md5 hash of
    the id, id tiebreak). A literal translation is ORDER BY over the
    whole corpus — a single-reducer sort at 100 TB — so the prefix sum
    is decomposed exactly the same way as token_budget_selection, with
    the hash's own top bits as the bucket:

        global_start(doc) = bucket_tokens_before(doc.bucket)
                          + tokens_before_within_bucket(doc)

    Bucket totals are one ``order_buckets``-row aggregate whose
    cumulative is broadcast back; within-bucket prefixes are windows
    partitioned by bucket (hash order makes bucket populations uniform,
    so no window partition exceeds ~corpus/order_buckets docs). The
    shuffle-order salt doubles as the epoch knob: a new salt is a new
    global order with zero data movement.

    ``order_buckets`` must SCALE with the corpus — size it with
    :func:`order_buckets_for` (≈ corpus_rows / 4M, floor 256) so a
    window partition's sort stays one-task-sized at any scale. The
    bucket count is part of the deterministic order (like the salt):
    fix it per dataset, don't retune per run.

    ``n_tokens_col`` swaps the whitespace token count for a
    PRECOMPUTED per-doc count column (e.g. byte-level BPE counts from
    :func:`~projet_etl_a_rien_spark.operators.bpe.apply_bbpe_merges`)
    — the layout a production loader sees is defined by the trainer's
    tokenizer, not the whitespace approximation."""
    from pyspark.sql.window import Window

    hx = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    bucket = (
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % order_buckets
    )
    n_tok = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col is not None
        else token_count(F.col(text_col))
    )
    d = df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        hx.alias("hx"),
        bucket.alias("bkt"),
    )
    per_bucket = d.groupBy("bkt").agg(F.sum("n_tokens").alias("bt"))
    wb = Window.orderBy(F.asc("bkt")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per_bucket.select(
        "bkt",
        F.coalesce(F.sum("bt").over(wb), F.lit(0)).alias("bucket_before"),
    )
    wd = (
        Window.partitionBy("bkt")
        .orderBy(F.asc("hx"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(F.broadcast(cum), "bkt")
        .withColumn(
            "global_start",
            F.col("bucket_before")
            + F.coalesce(F.sum("n_tokens").over(wd), F.lit(0)),
        )
        .select(
            id_col,
            "n_tokens",
            "global_start",
            # DIV, not `/`+cast: Spark `/` is double division, and past
            # ~2^53 stream tokens the floor loses exactness — the very
            # regime the bucket-decomposed prefix sum exists for
            F.expr(f"global_start DIV {int(chunk_tokens)}")
            .cast("long")
            .alias("chunk_first"),
            F.expr(
                f"(global_start + n_tokens - 1) DIV {int(chunk_tokens)}"
            )
            .cast("long")
            .alias("chunk_last"),
        )
    )


def zipf_fit(
    df: DataFrame, text_col: str = "text", min_count: int = 2
) -> DataFrame:
    """Zipf's-law exponent of the token distribution, fitted in-engine:
    token frequencies (one corpus pass), a vocab-sized rank window,
    then OLS of ln(freq) on ln(rank) over ranks with count >=
    ``min_count`` (the hapax staircase is excluded). Exactness
    discipline: ln() values quantize to the 1e-6 grid as int64 BEFORE
    accumulation and the quadratic sums accumulate as exact decimals —
    every sum is order-independent, doubles appear only in the final
    closed-form division. One row out: (n_ranks, zipf_slope_micro).
    A healthy natural corpus fits slope ~ -1; a synthetic or collapsed
    one doesn't — a datacard check whose heavy grain (the vocab window)
    is bounded by Heaps' law at any corpus size."""
    from pyspark.sql.window import Window

    tf = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= min_count)
    )
    w = Window.orderBy(F.desc("c"), F.asc("token"))
    ranked = tf.select("c", F.row_number().over(w).cast("long").alias("rank"))
    xy = ranked.select(
        F.round(F.log(F.col("rank").cast("double")) * 1_000_000)
        .cast("long")
        .alias("xn"),
        F.round(F.log(F.col("c").cast("double")) * 1_000_000)
        .cast("long")
        .alias("yn"),
    )
    dec = "decimal(38,0)"
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum("xn").alias("sx"),
        F.sum("yn").alias("sy"),
        F.sum(F.col("xn").cast(dec) * F.col("yn").cast(dec)).alias("sxy"),
        F.sum(F.col("xn").cast(dec) * F.col("xn").cast(dec)).alias("sxx"),
    )
    n, sx, sy = (
        F.col("n").cast("double"),
        F.col("sx").cast("double"),
        F.col("sy").cast("double"),
    )
    slope = (
        n * F.col("sxy").cast("double") - sx * sy
    ) / (n * F.col("sxx").cast("double") - sx * sx)
    return s.select(
        F.col("n").cast("long").alias("n_ranks"),
        F.round(slope * 1_000_000).cast("long").alias("zipf_slope_micro"),
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    boundary_mod: int = 64,
) -> DataFrame:
    """Content-defined chunking (CDC, the Rabin/LBFS family): cut a
    document AFTER every character position whose k-gram polynomial
    hash is ≡ 0 (mod ``boundary_mod``), giving chunks of expected
    length ``boundary_mod`` whose boundaries are functions of CONTENT,
    not offsets — an insertion near the head shifts every fixed-size
    block but only the 1-2 chunks that actually contain the edit here,
    so chunk-hash dedup keeps matching the untouched remainder. The
    storage-layer dedup primitive, applied corpus-side: near-identical
    refetches share most chunk digests.

    Same relational formulation (posexplode chars -> lead-window
    polynomial -> running boundary count -> per-chunk reassembly via
    sort-key-in-struct collect) and the same int64 polynomial as the
    winnowing fingerprinter, for the same CollapseProject-safety
    reasons; one shuffle keyed by the doc id, state bounded per doc.
    Emits (id, chunk_idx, n_chars, chunk_md5).
    """
    from pyspark.sql.window import Window

    c = F.col(text_col)
    chars = df.select(
        id_col, F.posexplode(F.split(c, "")).alias("_i", "_ch")
    )
    order = Window.partitionBy(id_col).orderBy("_i")
    poly = None
    for j in range(k):
        term = (
            F.col("_c") if j == 0 else F.lead("_c", j).over(order)
        ) * F.lit(WINNOW_BASE ** (k - 1 - j))
        poly = term if poly is None else poly + term
    hashed = chars.select(
        id_col, "_i", "_ch", F.ascii("_ch").cast("long").alias("_c")
    ).select(
        id_col,
        "_i",
        "_ch",
        F.when(poly.isNotNull() & (poly % boundary_mod == 0), 1)
        .otherwise(0)
        .alias("_cut"),
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("_i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = hashed.withColumn(
        "chunk_idx", F.coalesce(F.sum("_cut").over(w_run), F.lit(0))
    )
    # chunks are CONTIGUOUS char ranges, so reassembly is a substring
    # of the original text, not a per-char collect: the span aggregate
    # collapses map-side to chunk-count-sized shuffle rows (vs shipping
    # every char in a struct), and one join back to the text slices the
    # chunk out. The oracle stays the naive per-char string_agg spec —
    # hash-equality certifies the substring shortcut.
    spans = seg.groupBy(id_col, "chunk_idx").agg(
        F.count("*").cast("long").alias("n_chars"),
        F.min("_i").alias("_start"),
    )
    return (
        spans.join(df.select(id_col, c.alias("_text")), id_col)
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            "n_chars",
            F.md5(
                F.substr(
                    F.col("_text"),
                    F.col("_start") + 1,
                    F.col("n_chars"),
                )
            ).alias("chunk_md5"),
        )
    )
