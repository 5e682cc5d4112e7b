"""Tokenizer registry: word-level BPE and byte-level BPE (operators/bpe.py).

Merge learning and encoding for the word-level tokenizer, the byte-level
(GPT-2 BBPE family) twin, and the production GPT-2-faithful
pre-tokenizer driving a production-sized frozen merge table
(bpe.FIXED_BYTE_MERGES_V2, the vocab-budget cut of the exhaustion ladder
learned by tools/learn_bbpe_ladder.py), plus the full ladder as the
plan-depth proof point.

Engine-parity design: byte symbols are 2-hex-digit byte codes
(hex(encode(x)) is bit-identical between Spark and DuckDB), the
pre-tokenizer regex is lookahead-free so java.util.regex and RE2 agree,
and every learning loop's bounded iteration unrolls into MATERIALIZED
CTEs — so both halves of each tokenizer are hash-exact against DuckDB.
The 10-merge v1 byte-level entries stay registered as the engine-parity
pins; the v2 entries are what a production trainer's packing, budget
and chunk layout would consume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import load_table
from .operators import bpe
from .queries import register


def _bpe_learn_oracle(num_merges: int = 10, min_count: int = 2) -> str:
    """DuckDB oracle for BPE merge LEARNING — the loop is iterative, but
    ``num_merges`` is a fixed constant, so it unrolls: one CTE block per
    merge (pair counts from the current symbol strings → 1-row argmax
    with the (count desc, l, r) tie-break → anchored boundary-replace
    rewrite, the same ⊔l⊔⊔r⊔ → ⊔lr⊔ trick the encode oracle uses).

    Early stop (max pair count < ``min_count``) is reproduced by a
    PER-ITERATION gate, which equals the global stop by monotonicity:
    a below-threshold argmax leaves the table unchanged, so every later
    iteration re-finds the same below-threshold pair and emits nothing.

    ``MATERIALIZED`` on each per-iteration CTE is essential: the rewrite
    references the previous state twice (FROM + the top-pair join), so
    default CTE inlining would expand the chain exponentially
    (2^num_merges scans of the corpus)."""
    S = "chr(30)"

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    ctes = [
        "occ AS (SELECT unnest(string_split(text, ' ')) AS word"
        " FROM documents)",
        "occ2 AS (SELECT word FROM occ WHERE word <> '')",
        "wc AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM occ2"
        " GROUP BY word)",
        f"r0 AS MATERIALIZED (SELECT cnt, regexp_replace(word, '(.)',"
        f" {S} || '\\1' || {S}, 'g') || {S} || {q(bpe.END)} || {S} AS rep"
        " FROM wc)",
    ]
    outs = []
    prev = "r0"
    for i in range(1, num_merges + 1):
        ctes.append(
            f"p{i} AS (SELECT u.l AS l, u.r AS r, CAST(SUM(cnt) AS BIGINT)"
            f" AS n FROM (SELECT cnt, unnest(list_transform(range(1,"
            f" len(ss)), j -> struct_pack(l := ss[j], r := ss[j + 1]))) AS u"
            f" FROM (SELECT cnt, string_split(trim(rep, {S}), {S} || {S})"
            f" AS ss FROM {prev}) WHERE len(ss) >= 2) GROUP BY 1, 2)"
        )
        ctes.append(
            f"t{i} AS MATERIALIZED (SELECT l, r, n FROM p{i}"
            " ORDER BY n DESC, l ASC, r ASC LIMIT 1)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT cnt, CASE WHEN t.n >= {min_count}"
            f" THEN replace(rep, {S} || t.l || {S} || {S} || t.r || {S},"
            f" {S} || t.l || t.r || {S}) ELSE rep END AS rep"
            f" FROM {prev}, t{i} t)"
        )
        prev = f"r{i}"
        outs.append(
            f'SELECT CAST({i} AS INTEGER) AS rank, l AS "left",'
            f' r AS "right", n AS pair_count FROM t{i}'
            f" WHERE n >= {min_count}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(outs)


@register(
    "bpe_learn_merges",
    _bpe_learn_oracle(num_merges=10, min_count=2),
    doc="Word-level BPE merge learning (Sennrich 2016): 10 merges over "
    "the corpus word-count table; per-iteration JVM pair-count groupBy + "
    "1-row argmax + greedy F.aggregate rewrite with localCheckpoint "
    "lineage truncation. Deterministic (count desc, pair asc) tie-break. "
    "The oracle unrolls the bounded loop into one MATERIALIZED CTE block "
    "per merge (argmax + anchored boundary-replace), with the early-stop "
    "gate reproduced per iteration — so even the registry's iterative "
    "entry is hash-exact against DuckDB; the pure-Python property test "
    "(tests/test_round6.py) remains as an independent third opinion.",
)
def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe.bpe_merge_table(spark, load_table(spark, sf_dir, "documents"), num_merges=10)


def _bpe_encode_oracle(merges: list[tuple[int, str, str, int]]) -> str:
    """DuckDB oracle for frozen-merge-table BPE encoding.

    The greedy left-to-right non-overlapping merge over a symbol array
    is EXACTLY one anchored string ``replace`` per merge when each
    symbol is flanked by a separator on BOTH sides (double separator
    between symbols): pattern ``⊔l⊔⊔r⊔`` → ``⊔lr⊔``. The flanks pin
    matches to symbol boundaries; consuming both symbols' flanks makes
    matches non-overlapping exactly like the fold ("aaa" under (a,a) →
    ["aa","a"], "aaaa" → ["aa","aa"] — both verified in tests). The
    separator is chr(30); valid because the corpus alphabet is
    [a-y ] (no control chars) — an ORACLE assumption only, the Spark
    side folds over arrays and needs no separator.
    """

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    S = "chr(30)"
    ctes = [
        "occ AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS word"
        " FROM documents)",
        "occ2 AS (SELECT id, word FROM occ WHERE word <> '')",
        "w AS (SELECT DISTINCT word FROM occ2)",
        f"r0 AS (SELECT word, regexp_replace(word, '(.)', {S} || '\\1' || {S},"
        f" 'g') || {S} || {q(bpe.END)} || {S} AS rep FROM w)",
    ]
    prev = "r0"
    for i, (_rank, left, right, _n) in enumerate(merges, start=1):
        pat = f"{S} || {q(left)} || {S} || {S} || {q(right)} || {S}"
        rep = f"{S} || {q(left + right)} || {S}"
        ctes.append(
            f"r{i} AS (SELECT word, replace(rep, {pat}, {rep}) AS rep"
            f" FROM {prev})"
        )
        prev = f"r{i}"
    ctes.append(
        f"lens AS (SELECT word, CAST(len(string_split(rep, {S} || {S}))"
        f" AS BIGINT) AS n_sym FROM {prev})"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT id AS doc_id, COUNT(*) AS n_words,\n"
        "       CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,\n"
        "       CAST(SUM(n_sym) AS BIGINT) / COUNT(*) AS bpe_per_word\n"
        "FROM occ2 JOIN lens USING (word)\n"
        "GROUP BY id"
    )


@register(
    "corpus_bpe_encode_stats",
    _bpe_encode_oracle(bpe.FIXED_MERGES),
    doc="Tokenizer-application half of the BPE loop: per-doc word/BPE-"
    "token counts under the FROZEN 10-merge table (bpe.FIXED_MERGES — "
    "learned once, shipped, applied everywhere: the production "
    "deployment shape). Rank-ordered greedy fold chain over the "
    "distinct-word table, vocab-sized throughout; freezing the table "
    "makes encoding non-iterative, so this entry carries a full "
    "hash-exact DuckDB oracle (anchored replace-chain rewrite).",
)
def q_corpus_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe.apply_bpe_merges(load_table(spark, sf_dir, "documents"), bpe.FIXED_MERGES)


# ---------------------------------------------------------------------------
# Byte-level BPE merge LEARNING (operators/bpe.py:learn_bbpe_merges)
# ---------------------------------------------------------------------------


def _sql_re(pattern: str) -> str:
    """SQL-string-literal escaping for a regex (the GPT-2 pre-tokenizer
    carries apostrophes; the v1 pattern is unchanged by this)."""
    return pattern.replace("'", "''")


def _bbpe_learn_oracle(
    num_merges: int = 10,
    min_count: int = 2,
    pretoken_re: str = bpe.BYTE_PRETOKEN_RE,
) -> str:
    """DuckDB oracle for byte-level BPE merge learning — the same
    bounded-loop CTE unrolling as the word-level ``_bpe_learn_oracle``
    above, with two substitutions: the seed table is
    GPT-2-style pre-tokens (leading space attached, no </w>), and the
    initial symbols are 2-hex-digit UTF-8 byte codes, so ``r0`` wraps
    each hex PAIR in separators instead of each character.

    ``MATERIALIZED`` per iteration is load-bearing: the rewrite
    references the previous state twice, and default CTE inlining would
    expand the chain exponentially."""
    S = "chr(30)"
    ctes = [
        "occ AS (SELECT unnest(regexp_extract_all(text,"
        f" '{_sql_re(pretoken_re)}')) AS pt FROM documents)",
        "wc AS MATERIALIZED (SELECT pt, COUNT(*) AS cnt FROM occ"
        " GROUP BY pt)",
        f"r0 AS MATERIALIZED (SELECT cnt, regexp_replace(hex(encode(pt)),"
        f" '(..)', {S} || '\\1' || {S}, 'g') AS rep FROM wc)",
    ]
    outs = []
    prev = "r0"
    for i in range(1, num_merges + 1):
        ctes.append(
            f"p{i} AS (SELECT u.l AS l, u.r AS r, CAST(SUM(cnt) AS BIGINT)"
            f" AS n FROM (SELECT cnt, unnest(list_transform(range(1,"
            f" len(ss)), j -> struct_pack(l := ss[j], r := ss[j + 1]))) AS u"
            f" FROM (SELECT cnt, string_split(trim(rep, {S}), {S} || {S})"
            f" AS ss FROM {prev}) WHERE len(ss) >= 2) GROUP BY 1, 2)"
        )
        ctes.append(
            f"t{i} AS MATERIALIZED (SELECT l, r, n FROM p{i}"
            " ORDER BY n DESC, l ASC, r ASC LIMIT 1)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT cnt, CASE WHEN t.n >= {min_count}"
            f" THEN replace(rep, {S} || t.l || {S} || {S} || t.r || {S},"
            f" {S} || t.l || t.r || {S}) ELSE rep END AS rep"
            f" FROM {prev}, t{i} t)"
        )
        prev = f"r{i}"
        outs.append(
            f'SELECT CAST({i} AS INTEGER) AS rank, l AS "left",'
            f' r AS "right", n AS pair_count FROM t{i}'
            f" WHERE n >= {min_count}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(outs)


@register(
    "bpe_learn_merges_bytes",
    _bbpe_learn_oracle(num_merges=10, min_count=2),
    doc="Byte-level BPE merge learning (GPT-2 BBPE family, Radford "
    "2019): 10 merges over the corpus PRE-TOKEN count table — leading "
    "space travels inside the token (Ġ), the merge unit is the UTF-8 "
    "byte rendered as a 2-hex-digit symbol, multibyte characters are "
    "mergeable byte runs. Same distributed loop as the word-level "
    "trainer (vocab-scale pair-count groupBy, 1-row argmax with "
    "count-desc/pair-asc tie-break, greedy JVM fold rewrite, "
    "localCheckpoint lineage truncation); the oracle unrolls the "
    "bounded loop into MATERIALIZED CTEs with hex(encode(pt)) seeding "
    "— bit-identical across engines. Pure-Python property test on "
    "multibyte/whitespace edge cases in tests/test_round9.py.",
)
def q_bpe_learn_merges_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe.bbpe_merge_table(spark, load_table(spark, sf_dir, "documents"), num_merges=10)


# ---------------------------------------------------------------------------
# Byte-level BPE ENCODING under the frozen merge table
# (operators/bpe.py:apply_bbpe_merges, bpe.FIXED_BYTE_MERGES)
# ---------------------------------------------------------------------------


def _bbpe_encode_oracle(
    merges: list[tuple[int, str, str, int]],
    pretoken_re: str = bpe.BYTE_PRETOKEN_RE,
) -> str:
    """DuckDB oracle for frozen-table byte-level encoding: the anchored
    boundary-replace chain of the word-level encode oracle, seeded from
    hex byte symbols. Hex symbols are [0-9A-F]+ so the chr(30)
    separator is safe BY CONSTRUCTION here (the word-level oracle needs
    a corpus-alphabet assumption; the byte-level one does not). The
    chain length equals the merge-table size — at the production cut
    (80) and the full exhaustion ladder (586, r11) each merge is still
    one replace CTE, materialized every 16 steps so DuckDB never
    inlines the chain into one giant expression."""
    S = "chr(30)"

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    ctes = [
        "occ AS (SELECT doc_id AS id, unnest(regexp_extract_all(text,"
        f" '{_sql_re(pretoken_re)}')) AS pt FROM documents)",
        "w AS (SELECT DISTINCT pt FROM occ)",
        f"r0 AS (SELECT pt, regexp_replace(hex(encode(pt)), '(..)',"
        f" {S} || '\\1' || {S}, 'g') AS rep FROM w)",
    ]
    prev = "r0"
    for i, (_rank, left, right, _n) in enumerate(merges, start=1):
        pat = f"{S} || {q(left)} || {S} || {S} || {q(right)} || {S}"
        rep = f"{S} || {q(left + right)} || {S}"
        mat = " MATERIALIZED" if i % 16 == 0 else ""
        ctes.append(
            f"r{i} AS{mat} (SELECT pt, replace(rep, {pat}, {rep}) AS rep"
            f" FROM {prev})"
        )
        prev = f"r{i}"
    ctes.append(
        f"lens AS (SELECT pt, CAST(len(string_split(rep, {S} || {S}))"
        f" AS BIGINT) AS n_sym,"
        f" CAST(len(replace(rep, {S}, '')) // 2"
        f" AS BIGINT) AS n_b FROM {prev})"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT id AS doc_id, COUNT(*) AS n_pretokens,\n"
        "       CAST(SUM(n_b) AS BIGINT) AS n_bytes,\n"
        "       CAST(SUM(n_sym) AS BIGINT) AS n_bbpe_tokens,\n"
        "       CAST(SUM(n_b) AS BIGINT) / CAST(SUM(n_sym) AS BIGINT)\n"
        "           AS bytes_per_token\n"
        "FROM occ JOIN lens USING (pt)\n"
        "GROUP BY id"
    )


@register(
    "corpus_bbpe_encode_stats",
    _bbpe_encode_oracle(bpe.FIXED_BYTE_MERGES),
    doc="Tokenizer-application half of byte-level BPE: per-doc "
    "pre-token/byte/BBPE-token counts plus the bytes-per-token "
    "compression ratio under the FROZEN 10-merge table "
    "(bpe.FIXED_BYTE_MERGES — learned once at sf0.01, shipped, applied "
    "everywhere). Rank-ordered greedy fold chain over the distinct "
    "pre-token table, vocab-sized throughout; these counts — not the "
    "word-level approximation — are what a production trainer's "
    "packing/budget/chunk layout sees.",
)
def q_corpus_bbpe_encode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return bpe.apply_bbpe_merges(load_table(spark, sf_dir, "documents"), bpe.FIXED_BYTE_MERGES)


# ---------------------------------------------------------------------------
# Tokenizer fertility by language — the datacard stat a tokenizer-fit
# report quotes per language (bytes/token; high fertility = the vocab
# under-serves that language and its documents cost more tokens per
# byte of content at training time).
# ---------------------------------------------------------------------------


def _bbpe_fertility_oracle() -> str:
    per_doc = _bbpe_encode_oracle(bpe.FIXED_BYTE_MERGES)
    return f"""
WITH per_doc AS ({per_doc})
SELECT d.lang,
       COUNT(*) AS n_docs,
       CAST(SUM(p.n_bytes) AS BIGINT) AS n_bytes,
       CAST(SUM(p.n_bbpe_tokens) AS BIGINT) AS n_bbpe_tokens,
       CAST(ROUND(CAST(SUM(p.n_bbpe_tokens) AS DOUBLE)
            / SUM(p.n_bytes) * 1000000) AS BIGINT) AS fertility_ppm
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY d.lang
"""


@register(
    "corpus_bbpe_fertility_by_lang",
    _bbpe_fertility_oracle(),
    doc="Per-language tokenizer fertility under the frozen byte-level "
    "merge table: tokens per byte (ppm-quantized for cross-engine hash "
    "parity — the only division happens once per language, after exact "
    "BIGINT sums). The language whose fertility is highest is the one "
    "the vocab under-serves — the datacard signal that drives merge-"
    "budget allocation in multilingual tokenizer training. Reuses the "
    "vocab-sized BBPE encode chain; the corpus-scale work is one "
    "pre-token explode/join and one lang-keyed agg.",
)
def q_corpus_bbpe_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    per_doc = bpe.apply_bbpe_merges(
        load_table(spark, sf_dir, "documents"), bpe.FIXED_BYTE_MERGES
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        per_doc.join(d, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("n_bytes"),
            F.sum("n_bbpe_tokens").alias("n_bbpe_tokens"),
            F.round(
                F.sum("n_bbpe_tokens").cast("double")
                / F.sum("n_bytes")
                * 1_000_000
            )
            .cast("long")
            .alias("fertility_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Chunk layout under PRODUCTION token counts — stream_chunk_index driven
# by the frozen byte-level tokenizer instead of the whitespace
# approximation (what a real loader's placement index actually uses).
# ---------------------------------------------------------------------------

BB_CHUNK_TOKENS = 512
BB_CHUNK_SALT = "bbchunk9:"
BB_CHUNK_BUCKETS = 256


def _bbpe_chunk_oracle() -> str:
    per_doc = _bbpe_encode_oracle(bpe.FIXED_BYTE_MERGES)
    return f"""
WITH per_doc AS ({per_doc}),
d AS (
    SELECT doc_id, n_bbpe_tokens AS n_tokens,
           md5('{BB_CHUNK_SALT}' || CAST(doc_id AS VARCHAR)) AS hx
    FROM per_doc
),
b AS (
    SELECT doc_id, n_tokens, hx,
           CAST('0x' || substr(hx, 1, 8) AS BIGINT) % {BB_CHUNK_BUCKETS}
               AS bkt
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
       global_start // {BB_CHUNK_TOKENS} AS chunk_first,
       (global_start + n_tokens - 1) // {BB_CHUNK_TOKENS} AS chunk_last
FROM o
"""


@register(
    "corpus_stream_chunk_index_bbpe",
    _bbpe_chunk_oracle(),
    doc="GPT-style token-stream chunk layout computed from the FROZEN "
    "byte-level tokenizer's per-doc counts (apply_bbpe_merges feeding "
    "stream_chunk_index's n_tokens_col) — the placement index a real "
    "training loader uses is defined by the trainer's tokenizer, not a "
    "whitespace approximation; a 1% count drift misplaces every chunk "
    "boundary after it. Same no-global-sort bucket decomposition "
    "(totals -> broadcast cumulative -> bucket-partitioned windows); "
    "the BBPE counts add one vocab-sized fold chain + a corpus join. "
    "Oracle composes the encode CTE chain with the naive global-order "
    "prefix-sum spec.",
)
def q_corpus_stream_chunk_index_bbpe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import text as _t

    docs = load_table(spark, sf_dir, "documents")
    counts = bpe.apply_bbpe_merges(docs, bpe.FIXED_BYTE_MERGES).select(
        "doc_id", "n_bbpe_tokens"
    )
    return _t.stream_chunk_index(
        counts,
        chunk_tokens=BB_CHUNK_TOKENS,
        salt=BB_CHUNK_SALT,
        order_buckets=BB_CHUNK_BUCKETS,
        n_tokens_col="n_bbpe_tokens",
    )


# ---------------------------------------------------------------------------
# Learning under the GPT-2 pre-tokenizer (operators/bpe.py:
# learn_bbpe_merges with pretoken_re=GPT2_PRETOKEN_RE) — the category
# structure changes WHICH merges are learned (contraction suffixes and
# punctuation runs pre-tokenize separately), so the learner gets its own
# hash-exact pin at a bounded depth; the full exhaustion run (rank 586
# over the enriched training corpus, r11) is pinned by the pure-Python
# provenance test in tests/test_round10.py.
# ---------------------------------------------------------------------------

GPT2_LEARN_MERGES = 32


@register(
    "bpe_learn_merges_bytes_gpt2",
    _bbpe_learn_oracle(
        num_merges=GPT2_LEARN_MERGES,
        min_count=2,
        pretoken_re=bpe.GPT2_PRETOKEN_RE,
    ),
    doc="Byte-level BPE merge learning under the GPT-2-FAITHFUL "
    "pre-tokenizer (contraction splits 's/'t/'re/'ve/'m/'ll/'d, "
    "letter/digit/punctuation category runs each taking at most one "
    "leading space — lookahead-free so java.util.regex and RE2 run it "
    "bit-identically, pre-token parity pinned Spark==DuckDB==pure-"
    f"Python in tests/test_round10.py). {GPT2_LEARN_MERGES} merges, "
    "same distributed loop and tie-break as the v1 learner; the oracle "
    "unrolls the bounded loop into MATERIALIZED CTEs. The v1 "
    "whitespace-split learner entry stays as the r9 parity pin.",
)
def q_bpe_learn_merges_bytes_gpt2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return bpe.bbpe_merge_table(
        spark,
        load_table(spark, sf_dir, "documents"),
        num_merges=GPT2_LEARN_MERGES,
        pretoken_re=bpe.GPT2_PRETOKEN_RE,
    )


# ---------------------------------------------------------------------------
# Encoding under the PRODUCTION cut (FIXED_BYTE_MERGES_V2, rank <= 80 of
# the exhaustion ladder): per-doc token stats a real trainer would see.
# ---------------------------------------------------------------------------


@register(
    "corpus_bbpe_encode_stats_v2",
    _bbpe_encode_oracle(
        bpe.FIXED_BYTE_MERGES_V2, pretoken_re=bpe.GPT2_PRETOKEN_RE
    ),
    doc="Tokenizer-application under the PRODUCTION-SIZED frozen table: "
    f"the rank-{bpe.DEFAULT_VOCAB_CUT} vocab-budget cut of the "
    "exhaustion ladder (operators/bbpe_merges_v2.py — learned once "
    "over sf0.01 + the deterministic morphology enrichment "
    "(fixtures.enrichment_texts, the r10 verdict's #3 ask) with the "
    "GPT-2 pre-tokenizer, offered 2000 slots, exhausted at rank "
    f"{bpe.EXHAUSTION_RANK}; the ~3%-mass enrichment widens the "
    "vocabulary past 500 merges while the cut region stays "
    "corpus-driven — count ~900 at the cut vs 2-digit enrichment "
    "pairs). English bytes_per_token ≈ 2.86 at this cut — the 2-4 "
    "band a real BPE vocab yields — vs ~1.1 at the 10-merge pin, so "
    "downstream packing/budget/chunk numbers match what a trainer "
    "sees. Oracle: 80-step anchored replace chain, materialized every "
    "16 steps.",
)
def q_corpus_bbpe_encode_stats_v2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return bpe.apply_bbpe_merges(
        load_table(spark, sf_dir, "documents"),
        bpe.FIXED_BYTE_MERGES_V2,
        pretoken_re=bpe.GPT2_PRETOKEN_RE,
        checkpoint_every=8,
    )


# ---------------------------------------------------------------------------
# Encoding under the FULL exhaustion ladder (586 merges) — the deepest
# merge table the training data defines, exercising the encode path at
# a REAL-VOCAB plan width (the r10 verdict's stress-test ask). At this
# depth the chained-fold engine would pay ~45 s of pure plan
# construction, so the auto engine takes the Arrow-batched encoder:
# ONE mapInPandas over the vocab-sized distinct-pre-token table, plan
# depth O(1), fold/arrow equality property-pinned.
# ---------------------------------------------------------------------------


@register(
    "corpus_bbpe_encode_stats_ladder",
    _bbpe_encode_oracle(
        bpe.BBPE_MERGES_V2, pretoken_re=bpe.GPT2_PRETOKEN_RE
    ),
    doc="Tokenizer-application under the FULL exhaustion ladder "
    f"({bpe.EXHAUSTION_RANK} merges — every merge the training corpus "
    "admits): at this depth every pre-token is one token, so "
    "bytes_per_token equals mean pre-token byte length (~5.5) — the "
    "memorization asymptote that motivates shipping the rank-80 cut "
    "instead. Registered to pin the encode path at PRODUCTION table "
    "width: 586 rank-ordered greedy merges applied by the "
    "Arrow-batched distinct-pre-token encoder (one mapInPandas stage, "
    "plan depth O(1) — the fold-chain twin is property-pinned equal "
    "and remains the engine for bounded tables), against a 586-step "
    "replace-chain oracle (materialized every 16).",
)
def q_corpus_bbpe_encode_stats_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return bpe.apply_bbpe_merges(
        load_table(spark, sf_dir, "documents"),
        bpe.BBPE_MERGES_V2,
        pretoken_re=bpe.GPT2_PRETOKEN_RE,
        checkpoint_every=8,
    )


# ---------------------------------------------------------------------------
# Fertility + chunk layout under the production tokenizer — the
# datacard and loader-placement numbers recomputed from v2 counts.
# ---------------------------------------------------------------------------


def _bbpe_fertility_oracle_v2() -> str:
    per_doc = _bbpe_encode_oracle(
        bpe.FIXED_BYTE_MERGES_V2, pretoken_re=bpe.GPT2_PRETOKEN_RE
    )
    return f"""
WITH per_doc AS ({per_doc})
SELECT d.lang,
       COUNT(*) AS n_docs,
       CAST(SUM(p.n_bytes) AS BIGINT) AS n_bytes,
       CAST(SUM(p.n_bbpe_tokens) AS BIGINT) AS n_bbpe_tokens,
       CAST(ROUND(CAST(SUM(p.n_bbpe_tokens) AS DOUBLE)
            / SUM(p.n_bytes) * 1000000) AS BIGINT) AS fertility_ppm
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY d.lang
"""


@register(
    "corpus_bbpe_fertility_by_lang_v2",
    _bbpe_fertility_oracle_v2(),
    doc="Per-language tokenizer fertility under the PRODUCTION cut "
    "table + GPT-2 pre-tokenizer (tokens per byte, ppm-quantized after "
    "exact BIGINT sums — same parity discipline as the v1 entry). At a "
    "production-sized vocab the per-language spread is the real "
    "merge-budget-allocation signal: languages the 80-merge English-"
    "heavy cut under-serves stay near 1 token/byte while English "
    "drops to ~0.35.",
)
def q_corpus_bbpe_fertility_by_lang_v2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    per_doc = bpe.apply_bbpe_merges(
        load_table(spark, sf_dir, "documents"),
        bpe.FIXED_BYTE_MERGES_V2,
        pretoken_re=bpe.GPT2_PRETOKEN_RE,
        checkpoint_every=8,
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        per_doc.join(d, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("n_bytes"),
            F.sum("n_bbpe_tokens").alias("n_bbpe_tokens"),
            F.round(
                F.sum("n_bbpe_tokens").cast("double")
                / F.sum("n_bytes")
                * 1_000_000
            )
            .cast("long")
            .alias("fertility_ppm"),
        )
    )


V2_CHUNK_TOKENS = 512
V2_CHUNK_SALT = "bbchunk10:"
V2_CHUNK_BUCKETS = 256


def _bbpe_chunk_oracle_v2() -> str:
    per_doc = _bbpe_encode_oracle(
        bpe.FIXED_BYTE_MERGES_V2, pretoken_re=bpe.GPT2_PRETOKEN_RE
    )
    return f"""
WITH per_doc AS ({per_doc}),
d AS (
    SELECT doc_id, n_bbpe_tokens AS n_tokens,
           md5('{V2_CHUNK_SALT}' || CAST(doc_id AS VARCHAR)) AS hx
    FROM per_doc
),
b AS (
    SELECT doc_id, n_tokens, hx,
           CAST('0x' || substr(hx, 1, 8) AS BIGINT) % {V2_CHUNK_BUCKETS}
               AS bkt
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
       global_start // {V2_CHUNK_TOKENS} AS chunk_first,
       (global_start + n_tokens - 1) // {V2_CHUNK_TOKENS} AS chunk_last
FROM o
"""


@register(
    "corpus_stream_chunk_index_bbpe_v2",
    _bbpe_chunk_oracle_v2(),
    doc="GPT-style token-stream chunk layout computed from the "
    "PRODUCTION tokenizer's per-doc counts (rank-80 cut + GPT-2 "
    "pre-tokenizer): the loader-placement index a real trainer uses, "
    "now fed counts in the realistic 2-4 bytes/token regime instead "
    "of the near-byte-identity 10-merge counts. Same no-global-sort "
    "bucket decomposition as the v1 entry; oracle composes the 80-step "
    "encode chain with the naive global-order prefix-sum spec.",
)
def q_corpus_stream_chunk_index_bbpe_v2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import text as _t

    docs = load_table(spark, sf_dir, "documents")
    counts = bpe.apply_bbpe_merges(
        docs,
        bpe.FIXED_BYTE_MERGES_V2,
        pretoken_re=bpe.GPT2_PRETOKEN_RE,
        checkpoint_every=8,
    ).select("doc_id", "n_bbpe_tokens")
    return _t.stream_chunk_index(
        counts,
        chunk_tokens=V2_CHUNK_TOKENS,
        salt=V2_CHUNK_SALT,
        order_buckets=V2_CHUNK_BUCKETS,
        n_tokens_col="n_bbpe_tokens",
    )


# ---------------------------------------------------------------------------
# GPT-2 pre-token CLASS census over a synthesized text axis — the
# corpus's 61-word vocabulary contains no contractions, digits, or
# punctuation, so without this entry the GPT-2 pattern's distinguishing
# behavior would be unit-tested but never exercised through the oracle
# gate. Same synthesized-axis precedent as the r7 URL corpus: a
# deterministic doc_id-derived decoration, identical SQL on both sides.
# ---------------------------------------------------------------------------

_DECOR_SPARK_SUFFIX = " I'm sure it's the 42nd try (v"
_DECOR_TAIL = ")  twice-spaced café 中文!"


def _decorated_sql() -> str:
    sfx = _DECOR_SPARK_SUFFIX.replace("'", "''")
    return (
        f"text || '{sfx}' || CAST(doc_id % 97 AS VARCHAR) || '{_DECOR_TAIL}'"
    )


@register(
    "corpus_gpt2_pretoken_class_census",
    f"""
WITH dec AS (SELECT {_decorated_sql()} AS t FROM documents),
pt AS (SELECT unnest(regexp_extract_all(t,
           '{{GPT2_RE}}')) AS p FROM dec),
cls AS (
    SELECT p,
           CASE WHEN p IN ('''s', '''t', '''re', '''ve', '''m', '''ll',
                           '''d') THEN 'contraction'
                WHEN regexp_matches(p, '^ ?\\p{{L}}+$') THEN 'word'
                WHEN regexp_matches(p, '^ ?\\p{{N}}+$') THEN 'number'
                WHEN regexp_matches(p, '^[ \\t\\n\\r\\x0B\\f]+$')
                    THEN 'whitespace'
                ELSE 'punct' END AS cls
    FROM pt
)
SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_pretokens,
       CAST(COUNT(DISTINCT p) AS BIGINT) AS n_distinct
FROM cls GROUP BY cls
""".replace("{GPT2_RE}", bpe.GPT2_PRETOKEN_RE.replace("'", "''")),
    doc="Census of GPT-2 pre-token CLASSES (contraction / word / "
    "number / punct / whitespace) over a synthesized text axis that "
    "actually exercises them — each document gains a deterministic "
    "decoration carrying contractions ('m, 's), a letter-digit "
    "boundary (42nd -> '42' + 'nd'), parenthesized doc_id-derived "
    "digits, a double space, and multibyte words. Pins the faithful "
    "pattern's distinguishing behavior (the plain corpus is "
    "letters-and-single-spaces only, where v1 and GPT-2 agree) "
    "end-to-end through both engines: the same pattern string AND the "
    "same class regexes run on java.util.regex and RE2.",
)
def q_corpus_gpt2_pretoken_class_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    dec = docs.select(
        F.concat(
            F.col("text"),
            F.lit(_DECOR_SPARK_SUFFIX),
            (F.col("doc_id") % 97).cast("string"),
            F.lit(_DECOR_TAIL),
        ).alias("t")
    )
    pt = dec.select(
        F.explode(
            F.regexp_extract_all(
                F.col("t"), F.lit(bpe.GPT2_PRETOKEN_RE), F.lit(0)
            )
        ).alias("p")
    )
    contractions = ["'s", "'t", "'re", "'ve", "'m", "'ll", "'d"]
    cls = (
        F.when(F.col("p").isin(contractions), F.lit("contraction"))
        .when(F.col("p").rlike(r"^ ?\p{L}+$"), F.lit("word"))
        .when(F.col("p").rlike(r"^ ?\p{N}+$"), F.lit("number"))
        .when(F.col("p").rlike("^[ \\t\\n\\r\\x0B\\f]+$"), F.lit("whitespace"))
        .otherwise(F.lit("punct"))
    )
    return (
        pt.select("p", cls.alias("cls"))
        .groupBy("cls")
        .agg(
            F.count("*").alias("n_pretokens"),
            F.countDistinct("p").alias("n_distinct"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer DECODE path (operators/bpe.py bbpe_roundtrip) — the half of
# the tokenizer contract the encode-stats entries can't see: encode ∘
# decode == identity, byte for byte, through the hash gate. Runs over
# the DECORATED text axis (contractions, digit runs, double spaces,
# multibyte café/中文) so UTF-8 multi-byte symbols, category-split
# pre-tokens, and merged tokens all roundtrip — the oracle is the
# decorated text itself, so ANY loss anywhere in pretokenize → byte
# symbols → merge folds → unhex-decode → positional reassembly breaks
# the hash.
# ---------------------------------------------------------------------------


@register(
    "corpus_bbpe_roundtrip",
    f"SELECT doc_id, {_decorated_sql()} AS decoded FROM documents",
    doc="BBPE decode: every document encoded with the production merge "
    "table (rank-80 cut, GPT-2 pre-tokenizer) and reconstructed from "
    "its token sequence — decoded must equal the input text exactly. "
    "Pins that the pre-tokenizer PARTITIONS text (total, no byte lost "
    "or doubled), that merge-concatenated hex symbols are the token's "
    "byte sequence (decode = unhex, no tokenizer state at decode time), "
    "and that positional reassembly restores document order. The "
    "oracle is the identity on the decorated text — the strongest "
    "possible roundtrip gate. Scale shape unchanged from encode: merge "
    "folds on the vocab-sized distinct pre-token table; the corpus "
    "pays one posexplode + one join + one groupBy(doc).",
)
def q_corpus_bbpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    dec = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(_DECOR_SPARK_SUFFIX),
            (F.col("doc_id") % 97).cast("string"),
            F.lit(_DECOR_TAIL),
        ).alias("text"),
    )
    return bpe.bbpe_roundtrip(
        dec,
        bpe.FIXED_BYTE_MERGES_V2,
        pretoken_re=bpe.GPT2_PRETOKEN_RE,
        checkpoint_every=8,
    )
