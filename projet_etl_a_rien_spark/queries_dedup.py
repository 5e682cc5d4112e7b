"""Dedup and similarity registry: exact, near-duplicate and semantic.

Exact fingerprints, winnowing, MinHash/LSH, SimHash, Jaccard and
containment joins, exact-substring spans, edit-distance joins and entity
resolution, n-gram and Bloom decontamination, and the embedding surface
(cosine top-k, ANN, k-means, SemDeDup, kNN joins, product quantization,
IVF) — the operators of operators/dedup.py, similarity.py and strings.py.

MinHash/LSH oracles replicate the *entire* construction (same md5 seeds,
same banding) so Spark and DuckDB agree on candidate generation, not
just on final Jaccard — LSH recall misses match by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table, widen_input
from .fixtures import DOCUMENTS_WITH_DUPS_ORACLE_CTE, documents_with_dups
from .operators import dedup, similarity, text
from .operators import strings as _strings
from .queries import register


MINHASH_K = 16
MINHASH_BANDS = 4


WINNOW_K = 8
WINNOW_W = 4
# polynomial codepoint hash over the k-gram at 1-based position i —
# replicates operators/text.py winnow_fingerprint_rows exactly
_POLY = "(" + " + ".join(
    f"CAST(ascii(substr(text, i + {j}, 1)) AS BIGINT)"
    f" * {text.WINNOW_BASE ** (WINNOW_K - 1 - j)}"
    for j in range(WINNOW_K)
) + ")"


# winnow construction as a reusable CTE chain ending in ``fp`` =
# scalar (doc_id, fprint) rows — shared by the fingerprint query and the
# decontamination query. Scalar on purpose: the correctness harness
# canonicalizes through pandas, which cannot sort/hash array cells.
_WINNOW_CTES = f"""
pos AS (
    SELECT doc_id, text, unnest(range(1, length(text) - {WINNOW_K} + 2)) AS i
    FROM documents WHERE length(text) >= {WINNOW_K + WINNOW_W - 1}
),
g AS (SELECT doc_id, i, CAST({_POLY} AS BIGINT) AS h FROM pos),
wm AS (
    SELECT doc_id, i,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS m,
           COUNT(*) OVER (PARTITION BY doc_id) AS n
    FROM g
),
fp AS (SELECT DISTINCT doc_id, m AS fprint
       FROM wm WHERE i <= n - {WINNOW_W} + 1)"""


@register(
    "doc_winnow_fingerprints",
    f"""
WITH {_WINNOW_CTES}
SELECT doc_id, fprint AS fingerprint FROM fp
""",
    doc="Winnowing rolling-hash document fingerprints (MOSS construction: "
    "char 8-gram polynomial codepoint hashes, window-4 minima, distinct) — "
    "any shared substring of length >= 11 yields a shared fingerprint. "
    "Scalar (doc_id, fingerprint) rows so every value is hash-checkable.",
)
def q_doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # spread the per-character hash loop across cores — the source is a
    # single parquet file, and this is the heaviest per-row projection in
    # the registry
    par = spark.sparkContext.defaultParallelism
    return text.winnow_fingerprint_rows(
        d.repartition(par), k=WINNOW_K, w=WINNOW_W
    )


# -------------------------------------------------------------- dedup ----


@register(
    "doc_fingerprint_dups",
    f"""
WITH {DOCUMENTS_WITH_DUPS_ORACLE_CTE}
SELECT md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fingerprint,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS keeper_id
FROM docs_dup
GROUP BY 1
HAVING COUNT(*) > 1
""",
    doc="Exact-dup clusters by canonicalized md5 fingerprint (portable rolling-hash analogue).",
)
def q_doc_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dup_clusters(documents_with_dups(spark, sf_dir))


@register(
    "dedup_exact_keepers",
    f"""
WITH {DOCUMENTS_WITH_DUPS_ORACLE_CTE}
SELECT doc_id FROM docs_dup
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g'))
    ORDER BY doc_id) = 1
""",
    doc="Exact dedup: deterministic min-id keeper per fingerprint cluster.",
)
def q_dedup_exact_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(documents_with_dups(spark, sf_dir)).select("doc_id")


def _minhash_ctes() -> str:
    """The full MinHash-LSH construction as a CTE chain ending in
    ``pairs`` (verified near-dups) — shared by the pair query and the
    connected-components clustering query."""
    k, bands = MINHASH_K, MINHASH_BANDS
    p = dedup.MINHASH_P
    rows = k // bands
    sig_items = ", ".join(
        f"list_min(list_transform(xs, x -> (x * {a} + {b}) % {p}))"
        for (a, b) in dedup.minhash_params(k)
    )
    band_rows = " UNION ALL ".join(
        "SELECT id, {b} AS band, md5({expr}) AS bucket FROM sig".format(
            b=b,
            expr=" || '|' || ".join(
                f"sig[{b * rows + r + 1}]::VARCHAR" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    bb = dedup.SHINGLE_B
    return f"""{DOCUMENTS_WITH_DUPS_ORACLE_CTE},
wordhashed AS (
    SELECT doc_id AS id,
           list_transform(string_split(text, ' '),
               w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % {p}) AS wh
    FROM docs_dup
    WHERE len(string_split(text, ' ')) >= 3
),
hashed AS (
    SELECT id, list_distinct(list_transform(
        range(len(wh) - 2),
        i -> (((wh[i + 1] * {bb} + wh[i + 2]) % {p}) * {bb} + wh[i + 3]) % {p})) AS xs
    FROM wordhashed
),
sig AS (SELECT id, [{sig_items}] AS sig FROM hashed),
banded AS ({band_rows}),
cand AS (
    SELECT DISTINCT l.id AS id_a, r.id AS id_b
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
),
pairs AS (
    SELECT c.id_a, c.id_b,
           len(list_intersect(a.xs, b.xs))
             / (len(a.xs) + len(b.xs) - len(list_intersect(a.xs, b.xs))) AS jacc
    FROM cand c
    JOIN hashed a ON c.id_a = a.id
    JOIN hashed b ON c.id_b = b.id
    WHERE len(list_intersect(a.xs, b.xs))
            / (len(a.xs) + len(b.xs) - len(list_intersect(a.xs, b.xs))) >= 0.7
)"""


def _minhash_oracle() -> str:
    return f"WITH {_minhash_ctes()}\nSELECT id_a, id_b, jacc FROM pairs"


@register(
    "minhash_near_dup_pairs",
    _minhash_oracle(),
    doc="MinHash(16) + LSH(4 bands) near-dup pairs, exact-Jaccard verified; oracle replicates the full LSH construction.",
)
def q_minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_near_dup_pairs(
        documents_with_dups(spark, sf_dir),
        k=MINHASH_K,
        bands=MINHASH_BANDS,
        threshold=0.7,
    )


@register(
    "ngram_jaccard_pairs",
    f"""
WITH {DOCUMENTS_WITH_DUPS_ORACLE_CTE},
wordhashed AS (
    SELECT source AS blk, doc_id AS id,
           list_transform(string_split(text, ' '),
               w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT)
                    % {dedup.MINHASH_P}) AS wh
    FROM docs_dup
),
toks AS (
    SELECT blk, id,
           unnest(list_distinct(list_transform(
               range(len(wh) - 2),
               i -> (((wh[i + 1] * {dedup.SHINGLE_B} + wh[i + 2])
                      % {dedup.MINHASH_P}) * {dedup.SHINGLE_B} + wh[i + 3])
                    % {dedup.MINHASH_P}))) AS token
    FROM wordhashed
),
sizes AS (SELECT blk, id, COUNT(*) AS sz FROM toks GROUP BY blk, id),
inter AS (
    SELECT l.blk AS blk, l.id AS id_a, r.id AS id_b, COUNT(*) AS n_common
    FROM toks l JOIN toks r
      ON l.blk = r.blk AND l.token = r.token AND l.id < r.id
    GROUP BY l.blk, l.id, r.id
)
SELECT i.id_a, i.id_b,
       i.n_common / (sa.sz + sb.sz - i.n_common) AS jacc
FROM inter i
JOIN sizes sa ON i.blk = sa.blk AND i.id_a = sa.id
JOIN sizes sb ON i.blk = sb.blk AND i.id_b = sb.id
WHERE i.n_common / (sa.sz + sb.sz - i.n_common) >= 0.2
""",
    doc="Exact 3-gram-set Jaccard pairs within source blocks (inverted-index join).",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        documents_with_dups(spark, sf_dir), threshold=0.2
    )


@register(
    "simhash_near_dup_pairs",
    f"""
WITH {DOCUMENTS_WITH_DUPS_ORACLE_CTE},
toks AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
    FROM docs_dup
),
bits AS (
    -- bit b of the md5-prefix 64-bit token hash: hex digit (b//4) from the
    -- right = position 16 - b//4 from the left, then bit (b%4) of the digit
    SELECT doc_id, bb.b,
           ((strpos('0123456789abcdef', substr(md5(t), 16 - (bb.b // 4), 1)) - 1)
             >> (bb.b % 4)) & 1 AS bit
    FROM toks CROSS JOIN (SELECT unnest(range(64)) AS b) bb
),
votes AS (
    SELECT doc_id, b, SUM(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS v
    FROM bits GROUP BY doc_id, b
),
fp AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN
                  CASE WHEN b = 63 THEN -9223372036854775808
                       ELSE (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) END
                ELSE 0 END) AS BIGINT) AS sh
    FROM votes GROUP BY doc_id
),
chunks AS (
    SELECT doc_id, sh, ii.i AS ci,
           (sh >> CAST(16 * ii.i AS INTEGER)) & 65535 AS cv
    FROM fp CROSS JOIN (SELECT unnest(range(4)) AS i) ii
)
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
       CAST(bit_count(xor(l.sh, r.sh)) AS INTEGER) AS hamming
FROM chunks l JOIN chunks r
  ON l.ci = r.ci AND l.cv = r.cv AND l.doc_id < r.doc_id
WHERE bit_count(xor(l.sh, r.sh)) <= 3
""",
    doc="SimHash-64 near-dup pairs (Hamming <= 3) via 4x16-bit chunk-banded "
    "LSH (pigeonhole-guaranteed recall, no blocking column); md5-derived "
    "portable token hashes — the oracle replicates the full construction "
    "bit-for-bit.",
)
def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_dup_pairs(documents_with_dups(spark, sf_dir))


# --------------------------------------------------------- similarity ----

_COS = (
    "list_dot_product(b.vec, q.qvec)"
    " / (sqrt(list_dot_product(b.vec, b.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))"
)


@register(
    "embedding_cosine_topk",
    f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 7),
b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings WHERE vec_id != 7)
SELECT b.vec_id, ROUND({_COS}, 6) AS cos_sim
FROM b, q
ORDER BY cos_sim DESC, b.vec_id
LIMIT 10
""",
    doc="Brute-force exact cosine top-k (baseline ANN): broadcast query vector, TakeOrdered top-k.",
)
def q_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(
        load_table(spark, sf_dir, "embeddings"), query_id=7, k=10
    )


@register(
    "embedding_ann_pruned_topk",
    f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec, label AS qlabel
           FROM embeddings WHERE vec_id = 7),
b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings WHERE vec_id != 7)
SELECT b.vec_id, ROUND({_COS}, 6) AS cos_sim
FROM b JOIN q ON b.label = q.qlabel
ORDER BY cos_sim DESC, b.vec_id
LIMIT 10
""",
    doc="IVF-style ANN: scan pruned to the query's coarse cluster (label = inverted-list id).",
)
def q_embedding_ann_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk_partition_pruned(
        load_table(spark, sf_dir, "embeddings"), query_id=7, k=10
    )


@register(
    "embedding_near_dup_pairs",
    """
WITH b AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)
SELECT l.vec_id AS id_a, r.vec_id AS id_b,
       ROUND(list_dot_product(l.vec, r.vec)
             / (sqrt(list_dot_product(l.vec, l.vec)) * sqrt(list_dot_product(r.vec, r.vec))), 6) AS cos_sim
FROM b l JOIN b r ON l.label = r.label AND l.vec_id < r.vec_id
WHERE ROUND(list_dot_product(l.vec, r.vec)
            / (sqrt(list_dot_product(l.vec, l.vec)) * sqrt(list_dot_product(r.vec, r.vec))), 6) >= 0.4
""",
    doc="Embedding-cosine near-dup pairs within label blocks (threshold calibrated to fixture cosine spread).",
)
def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4,
        compute_splits="auto",  # few label blocks: salt from session parallelism
    )


_EMB_DIM = 64
QUANT_SCALE = 100_000  # embedding → integer grid (see similarity.quantize)

LSH_PLANES = 18
LSH_BAND_BITS = 6
LSH_THRESHOLD = 0.4


def _lsh_oracle() -> str:
    signs = similarity.hyperplane_signs(LSH_PLANES, _EMB_DIM)
    n_bands = LSH_PLANES // LSH_BAND_BITS
    mask = (1 << LSH_BAND_BITS) - 1
    bit_terms = " + ".join(
        "(CASE WHEN CAST(list_sum(list_transform(range(1, {d}), "
        "i -> q[i] * ({s}::BIGINT[])[i])) AS BIGINT) > 0 "
        "THEN {w} ELSE 0 END)".format(d=_EMB_DIM + 1, s=row, w=1 << j)
        for j, row in enumerate(signs)
    )
    cos = (
        "list_dot_product(l.vec, r.vec)"
        " / (sqrt(list_dot_product(l.vec, l.vec)) * sqrt(list_dot_product(r.vec, r.vec)))"
    )
    return f"""
WITH b0 AS (
    SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(round(x * {QUANT_SCALE}) AS BIGINT)) AS q
    FROM embeddings
),
sk AS (SELECT id, vec, {bit_terms} AS sketch FROM b0),
bands AS (
    SELECT id, vec, bb.b AS band,
           (sketch >> CAST({LSH_BAND_BITS} * bb.b AS INTEGER)) & {mask} AS bv
    FROM sk CROSS JOIN (SELECT unnest(range({n_bands})) AS b) bb
)
SELECT DISTINCT l.id AS id_a, r.id AS id_b, ROUND({cos}, 6) AS cos_sim
FROM bands l JOIN bands r
  ON l.band = r.band AND l.bv = r.bv AND l.id < r.id
WHERE ROUND({cos}, 6) >= {LSH_THRESHOLD}
"""


@register(
    "embedding_lsh_near_dup_pairs",
    _lsh_oracle(),
    doc="UNBLOCKED embedding near-dup via random-hyperplane LSH (18 planes, "
    "3x6-bit bands): sketch bits computed on the integer grid (exact "
    "cross-engine), candidates banded, exact-cosine verified. Closes the "
    "case embedding_near_dup_pairs defers to blocking for.",
)
def q_embedding_lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_lsh_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=LSH_THRESHOLD,
        n_planes=LSH_PLANES,
        band_bits=LSH_BAND_BITS,
    )


KMEANS_K = 8
KMEANS_ITERS = 2
KMEANS_SCALE = QUANT_SCALE


def _kmeans_oracle_cte(
    k: int, iters: int, scale: int, dim: int, fit_where: str = ""
) -> tuple[str, str]:
    """DuckDB CTE chain replicating operators.similarity.kmeans_assign
    exactly: integer-grid quantization, min-id seeds, exact-int argmin
    with smallest-cluster tie-break, round(sum/n) centroid updates.
    ``fit_where`` restricts the TRAINING set (seeds, argmin passes,
    centroid updates) to a subset — the incremental-ingest oracle fits on
    batch 1 only; the final assignment CTE stays over the fit set, and
    callers that need frozen-centroid assignment of OTHER vectors join
    against the last centroid CTE (``c{iters}``) themselves.
    Returns (cte_sql, final_assignment_cte_name)."""
    rng = f"range(1, {dim + 1})"
    parts = [
        f"""q AS (SELECT vec_id AS id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {scale}) AS BIGINT)) AS q
      FROM embeddings)""",
        f"""qf AS (SELECT * FROM q {fit_where})""",
        f"""c0 AS (SELECT rn - 1 AS c, q AS m
       FROM (SELECT q, ROW_NUMBER() OVER (ORDER BY id) AS rn FROM qf)
       WHERE rn <= {k})""",
    ]
    for t in range(iters + 1):
        parts.append(
            f"""a{t + 1} AS (SELECT id, q, c AS cluster FROM (
         SELECT qf.id, qf.q, c{t}.c,
                CAST(list_sum(list_transform({rng},
                     i -> (qf.q[i] - c{t}.m[i]) * (qf.q[i] - c{t}.m[i]))) AS BIGINT) AS dist
         FROM qf CROSS JOIN c{t})
       QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, c) = 1)"""
        )
        if t == iters:
            break
        parts.append(
            f"""u{t + 1} AS (SELECT cluster AS c,
              list(CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY pos) AS m
       FROM (SELECT cluster, pp.i AS pos, SUM(q[pp.i]) AS s, COUNT(*) AS n
             FROM a{t + 1} CROSS JOIN (SELECT unnest({rng}) AS i) pp
             GROUP BY cluster, pp.i)
       GROUP BY cluster)"""
        )
        parts.append(
            f"""c{t + 1} AS (SELECT c{t}.c, COALESCE(u{t + 1}.m, c{t}.m) AS m
       FROM c{t} LEFT JOIN u{t + 1} ON c{t}.c = u{t + 1}.c)"""
        )
    return ",\n".join(parts), f"a{iters + 1}"


_KM_CTE, _KM_FINAL = _kmeans_oracle_cte(KMEANS_K, KMEANS_ITERS, KMEANS_SCALE, _EMB_DIM)


@register(
    "embedding_kmeans_assign",
    f"""
WITH {_KM_CTE}
SELECT id AS vec_id, cluster FROM {_KM_FINAL}
""",
    doc="Deterministic quantized Lloyd's k-means (k=8, 2 iterations): the "
    "IVF index-build half that embedding_ann_pruned_topk previously assumed "
    "pre-existed. Integer-grid arithmetic end to end, so the DuckDB oracle "
    "reproduces every assignment bit-for-bit.",
)
def q_embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.kmeans_assign(
        load_table(spark, sf_dir, "embeddings"),
        k=KMEANS_K,
        iters=KMEANS_ITERS,
        scale=KMEANS_SCALE,
    )


@register(
    "embedding_ann_kmeans_topk",
    f"""
WITH {_KM_CTE},
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 7),
qc AS (SELECT cluster FROM {_KM_FINAL} WHERE id = 7),
b AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS vec
      FROM embeddings e
      JOIN {_KM_FINAL} af ON e.vec_id = af.id
      JOIN qc ON af.cluster = qc.cluster
      WHERE e.vec_id != 7)
SELECT b.vec_id, ROUND({_COS}, 6) AS cos_sim
FROM b, qv q
ORDER BY cos_sim DESC, b.vec_id
LIMIT 10
""",
    doc="End-to-end IVF ANN: k-means builds the inverted lists, the search "
    "prunes to the query's cell, exact cosine top-k inside it — the full "
    "index-build + search path with a bit-exact cross-engine oracle.",
)
def q_embedding_ann_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assign = similarity.kmeans_assign(
        emb, k=KMEANS_K, iters=KMEANS_ITERS, scale=KMEANS_SCALE
    )
    with_cells = emb.join(assign, "vec_id")
    return similarity.cosine_topk_partition_pruned(
        with_cells, query_id=7, k=10, list_col="cluster"
    )


SEMDEDUP_T = 0.4


@register(
    "embedding_semdedup",
    f"""
WITH RECURSIVE {_KM_CTE},
v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
wc AS (SELECT v.id, v.vec, af.cluster FROM v JOIN {_KM_FINAL} af ON v.id = af.id),
p AS (SELECT a.id AS ua, b.id AS ub FROM wc a JOIN wc b
      ON a.cluster = b.cluster AND a.id < b.id
      WHERE ROUND(list_dot_product(a.vec, b.vec)
                  / (sqrt(list_dot_product(a.vec, a.vec))
                   * sqrt(list_dot_product(b.vec, b.vec))), 6) >= {SEMDEDUP_T}),
und AS (SELECT ua AS u, ub AS w FROM p UNION SELECT ub, ua FROM p),
walk(node, comp) AS (
    SELECT u, u FROM und
    UNION
    SELECT e.w, wk.comp FROM walk wk JOIN und e ON wk.node = e.u
),
comps AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node)
SELECT wc.id AS vec_id, wc.cluster, (c.node IS NULL OR c.comp = wc.id) AS kept
FROM wc LEFT JOIN comps c ON wc.id = c.node
""",
    doc="SemDeDup (Abbas et al. 2023): semantic dedup by k-means "
    "clustering + within-cluster cosine pruning, min-id survivor per "
    "near-dup component (operators/similarity.py:semdedup). Cell-local "
    "pair join — Σ|cell|² work, zero cross-cell traffic — with the "
    "deterministic integer-grid k-means so the oracle replays clustering, "
    "pairing, and the connected-component keeper rule bit-for-bit.",
)
def q_embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # compute_splits: task-layout salt derived from the session's own
    # parallelism (r15 — was a local[32] literal); None at scale where
    # cells give parallelism
    return similarity.semdedup(
        load_table(spark, sf_dir, "embeddings"),
        k=KMEANS_K,
        iters=KMEANS_ITERS,
        threshold=SEMDEDUP_T,
        scale=KMEANS_SCALE,
        compute_splits="auto",
    )


ANN_PROBES = 4  # of KMEANS_K=8 cells; 1-probe recall ceiling is 0.8-0.9 here


def _probe_cte(probes: int) -> str:
    """DuckDB CTE ``p``: each vector's ``probes`` nearest k-means cells
    (exact int64 distance, ties to the smaller cell id) — the SQL replica
    of operators.similarity._probe_cells over the final centroids."""
    rng = f"range(1, {_EMB_DIM + 1})"
    cfin = f"c{KMEANS_ITERS}"
    return f"""p AS (
    SELECT id, c AS probe_cell FROM (
        SELECT q.id, {cfin}.c,
               CAST(list_sum(list_transform({rng},
                    i -> (q.q[i] - {cfin}.m[i]) * (q.q[i] - {cfin}.m[i]))) AS BIGINT) AS dist
        FROM q CROSS JOIN {cfin})
    QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, c) <= {probes})"""


@register(
    "embedding_ann_recall_at_10",
    f"""
WITH {{KM}},
{{PROBE}},
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 7),
qc AS (SELECT probe_cell AS cluster FROM p WHERE id = 7),
exact AS (
    SELECT b.vec_id
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
          FROM embeddings WHERE vec_id != 7) b, qv q
    ORDER BY {{COS}} DESC, b.vec_id LIMIT 10
),
ann AS (
    SELECT b.vec_id
    FROM (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS vec
          FROM embeddings e
          JOIN {{KMFINAL}} af ON e.vec_id = af.id
          JOIN qc ON af.cluster = qc.cluster
          WHERE e.vec_id != 7) b, qv q
    ORDER BY {{COS}} DESC, b.vec_id LIMIT 10
)
SELECT COUNT(*) AS n_hits,
       COUNT(*) / 10.0 AS recall_at_10
FROM ann JOIN exact ON ann.vec_id = exact.vec_id
""".format(KM=_KM_CTE, KMFINAL=_KM_FINAL, COS=_COS, PROBE=_probe_cte(ANN_PROBES)),
    doc="ANN quality metric computed BY the engine: recall@10 of the "
    "multi-probe IVF search (4 of 8 k-means cells probed) against the "
    "exact brute-force top-10 for the same query — the overlap join every "
    "index tuning loop monitors. Single-probe topped out at 0.9 here "
    "(cell-boundary neighbors unreachable); multi-probe reaches 1.0. "
    "Both branches, the k-means build, and the probe ranking replicate "
    "in the oracle.",
)
def q_embedding_ann_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, query_id=7, k=10).select("vec_id")
    ann = similarity.ann_multiprobe_topk(
        emb,
        query_id=7,
        k=10,
        probes=ANN_PROBES,
        n_cells=KMEANS_K,
        iters=KMEANS_ITERS,
        scale=KMEANS_SCALE,
    ).select("vec_id")
    return ann.join(exact, "vec_id").agg(
        F.count("*").alias("n_hits"),
        (F.count("*") / 10.0).alias("recall_at_10"),
    )


@register(
    "minhash_dedup_clusters",
    f"""
WITH RECURSIVE {_minhash_ctes()},
und AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION SELECT id_b, id_a FROM pairs
),
walk(node, comp) AS (
    SELECT u, u FROM und
    UNION
    SELECT e.v, w.comp FROM walk w JOIN und e ON w.node = e.u
)
SELECT node AS doc_id, MIN(comp) AS cluster
FROM walk GROUP BY node
""",
    doc="Near-dup CLUSTER formation (operators/graph.py): connected "
    "components over the verified MinHash pairs via iterative min-label "
    "propagation (one shuffle per round, driver sees only the "
    "changed-count — the kmeans_assign loop pattern). Transitivity is the "
    "point: A~B~C clusters {{A,B,C}} even though A~C was never emitted. "
    "Oracle walks the same graph with a recursive CTE.",
)
def q_minhash_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import connected_components

    pairs = dedup.minhash_near_dup_pairs(
        documents_with_dups(spark, sf_dir),
        k=MINHASH_K,
        bands=MINHASH_BANDS,
        threshold=0.7,
    )
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster")
    )


@register(
    "minhash_dedup_survivors",
    f"""
WITH RECURSIVE {_minhash_ctes()},
und AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION SELECT id_b, id_a FROM pairs
),
walk(node, comp) AS (
    SELECT u, u FROM und
    UNION
    SELECT e.v, w.comp FROM walk w JOIN und e ON w.node = e.u
),
clusters AS (SELECT node AS doc_id, MIN(comp) AS cluster FROM walk GROUP BY node)
SELECT d.doc_id FROM docs_dup d
LEFT JOIN clusters c ON d.doc_id = c.doc_id
WHERE c.doc_id IS NULL OR c.cluster = d.doc_id
""",
    doc="End-to-end near-dup dedup: every document not in any cluster "
    "survives, plus the min-id representative per cluster — the composed "
    "LSH -> verify -> components -> keeper pipeline a 100 TB corpus "
    "actually runs; survivors = corpus minus transitive near-dups.",
)
def q_minhash_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import connected_components

    d = documents_with_dups(spark, sf_dir)
    pairs = dedup.minhash_near_dup_pairs(
        d, k=MINHASH_K, bands=MINHASH_BANDS, threshold=0.7
    )
    clusters = connected_components(pairs)
    return (
        d.join(F.broadcast(clusters), d.doc_id == clusters.node, "left")
        .where(F.col("node").isNull() | (F.col("comp") == F.col("doc_id")))
        .select("doc_id")
    )


@register(
    "embedding_knn_join_top3",
    f"""
WITH {{KM}},
cells AS (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS vec, af.cluster
    FROM embeddings e JOIN {{KMFINAL}} af ON e.vec_id = af.id
),
sims AS (
    SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id,
           ROUND(list_dot_product(l.vec, r.vec)
                 / (sqrt(list_dot_product(l.vec, l.vec))
                    * sqrt(list_dot_product(r.vec, r.vec))), 6) AS cos_sim
    FROM cells l JOIN cells r
      ON l.cluster = r.cluster AND l.vec_id != r.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM sims
)
WHERE rank <= 3
""".format(KM=_KM_CTE, KMFINAL=_KM_FINAL),
    doc="Batch kNN SELF-join: top-3 neighbors for EVERY vector, searched "
    "within its k-means IVF cell — the corpus-wide similarity sweep "
    "(curation / retrieval-index build). Equi-join on the cell id makes "
    "cost sum(|cell|^2), not n^2; per-query window top-k, no global sort. "
    "Oracle replays index build + join + ranking.",
)
def q_embedding_knn_join_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # kmeans_index (not kmeans_assign): the self-join consumes the
    # assignment table on BOTH sides, and materializing the O(n) id→cell
    # table once avoids re-running quantize+argmin per subtree
    assign, _, _ = similarity.kmeans_index(
        emb, k=KMEANS_K, iters=KMEANS_ITERS, scale=KMEANS_SCALE
    )
    # compute_splits: few cells vs many cores — salt the quadratic pair
    # stage (width = session parallelism) so AQE's byte-based coalescing
    # can't serialize the whole sum(|cell|^2) onto one task
    return similarity.ann_knn_join(emb, assign, k=3, compute_splits="auto")


@register(
    "embedding_knn_join_dedup_top3",
    f"""
WITH {{KM}},
cells AS (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS vec, af.cluster
    FROM embeddings e JOIN {{KMFINAL}} af ON e.vec_id = af.id
),
sims AS (
    SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id,
           ROUND(list_dot_product(l.vec, r.vec)
                 / (sqrt(list_dot_product(l.vec, l.vec))
                    * sqrt(list_dot_product(r.vec, r.vec))), 6) AS cos_sim
    FROM cells l JOIN cells r
      ON l.cluster = r.cluster AND l.vec_id != r.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM sims
)
WHERE rank <= 3
""".format(KM=_KM_CTE, KMFINAL=_KM_FINAL),
    doc="embedding_knn_join_top3 through the duplicate-collapsed candidate "
    "path (similarity._collapsed_candidates): one representative per "
    "(cell, distinct vector), bounded (k+1)^3-per-member expansion — the "
    "hot-cell skew bound for corpora full of repeated embeddings. Results "
    "are IDENTICAL to the naive per-cell self-join, so the oracle is the "
    "same naive SQL: the hash gate proves plan-level equivalence.",
)
def q_embedding_knn_join_dedup_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assign, _, _ = similarity.kmeans_index(
        emb, k=KMEANS_K, iters=KMEANS_ITERS, scale=KMEANS_SCALE
    )
    # compute_splits: same parallelism-derived salt as the sibling
    # entries (r14 — this path had none, so AQE serialized the grouped
    # pair stage; leave None at scale where cells give parallelism)
    return similarity.ann_knn_join(
        emb, assign, k=3, collapse_duplicates=True, compute_splits="auto"
    )


KNN_PROBES = 2


@register(
    "embedding_knn_join_multiprobe_top3",
    """
WITH {KM},
{PROBE},
cells AS (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS vec, af.cluster
    FROM embeddings e JOIN {KMFINAL} af ON e.vec_id = af.id
),
qside AS (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS vec, p.probe_cell AS cluster
    FROM embeddings e JOIN p ON e.vec_id = p.id
),
sims AS (
    SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id,
           ROUND(list_dot_product(l.vec, r.vec)
                 / (sqrt(list_dot_product(l.vec, l.vec))
                    * sqrt(list_dot_product(r.vec, r.vec))), 6) AS cos_sim
    FROM qside l JOIN cells r
      ON l.cluster = r.cluster AND l.vec_id != r.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM sims
)
WHERE rank <= 3
""".format(KM=_KM_CTE, KMFINAL=_KM_FINAL, PROBE=_probe_cte(KNN_PROBES)),
    doc="Multi-probe batch kNN self-join: each QUERY vector fans out to "
    "its 2 nearest k-means cells while neighbors stay on their unique "
    "home cell — same equi-join plan as embedding_knn_join_top3 with "
    "x2 query-side rows, and cell-boundary neighbors become reachable. "
    "No pair dedupe needed (one home cell per neighbor, distinct probe "
    "cells). Oracle replays index build, probe ranking, join, ranking.",
)
def q_embedding_knn_join_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # single index build: fit, home cells, and probe lists share one
    # persisted quantized table and the tiny id→cell(s) results are
    # materialized — the r4 bench decomposition showed the refit/
    # re-argmin constants were ~40% of this query's wall-clock
    assign, probe, _ = similarity.kmeans_index(
        emb, k=KMEANS_K, iters=KMEANS_ITERS, scale=KMEANS_SCALE,
        probes=KNN_PROBES,
    )
    return similarity.ann_knn_join(
        emb, assign, k=3, probe_assignments=probe, compute_splits="auto"
    )


CONTAM_MAX_DF = 5  # fingerprints in more docs than this are boilerplate


@register(
    "train_eval_contamination",
    f"""
WITH {_WINNOW_CTES},
rare AS (
    SELECT fprint FROM fp GROUP BY fprint
    HAVING COUNT(DISTINCT doc_id) <= {{max_df}}
),
fpr AS (SELECT fp.doc_id, fp.fprint FROM fp JOIN rare USING (fprint)),
ev AS (SELECT doc_id, fprint FROM fpr WHERE doc_id % 10 = 0),
tr AS (SELECT doc_id, fprint FROM fpr WHERE doc_id % 10 != 0)
SELECT tr.doc_id AS train_doc_id,
       COUNT(DISTINCT ev.doc_id) AS n_eval_docs_hit,
       COUNT(DISTINCT tr.fprint) AS n_shared_fingerprints
FROM tr JOIN ev ON tr.fprint = ev.fprint
GROUP BY tr.doc_id
HAVING COUNT(DISTINCT tr.fprint) >= 3
""".format(max_df=5),
    doc="Benchmark decontamination: training documents sharing >= 3 RARE "
    "winnowing fingerprints with any eval-split document (doc_id % 10 "
    "stands in for the eval set). The document-frequency cap (df <= 5) is "
    "both the statistical fix — boilerplate n-grams are not contamination "
    "evidence — and the scale fix: it bounds the inverted-index join "
    "fan-out at max_df^2 per fingerprint, where the uncapped join is "
    "quadratic in the corpus for hot fingerprints. The production gate "
    "before any training run.",
)
def q_train_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    fp = text.winnow_fingerprint_rows(
        load_table(spark, sf_dir, "documents").repartition(par),
        k=WINNOW_K,
        w=WINNOW_W,
        out_col="fprint",
    ).persist()
    rare = (
        fp.groupBy("fprint")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") <= CONTAM_MAX_DF)
        .select("fprint")
    )
    fpr = fp.join(rare, "fprint")
    ev = fpr.where(F.col("doc_id") % 10 == 0).alias("ev")
    tr = fpr.where(F.col("doc_id") % 10 != 0).alias("tr")
    return (
        tr.join(ev, F.col("tr.fprint") == F.col("ev.fprint"))
        .groupBy(F.col("tr.doc_id").alias("train_doc_id"))
        .agg(
            F.count_distinct(F.col("ev.doc_id")).alias("n_eval_docs_hit"),
            F.count_distinct(F.col("tr.fprint")).alias("n_shared_fingerprints"),
        )
        .where(F.col("n_shared_fingerprints") >= 3)
    )


@register(
    "embedding_quantization_error",
    """
WITH q AS (
    SELECT vec_id,
           CAST(embedding AS DOUBLE[]) AS v,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> ROUND(x * 127) / 127.0) AS dq
    FROM embeddings
),
c AS (
    SELECT vec_id,
           list_dot_product(v, dq)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(dq, dq)))
             AS cos_self
    FROM q
)
SELECT COUNT(*) AS n_vecs,
       MIN(cos_self) AS worst_cos,
       CAST(SUM(CASE WHEN cos_self < 0.995 THEN 1 ELSE 0 END) AS BIGINT) AS n_degraded
FROM c
""",
    doc="int8 storage quantization quality gate: cosine of each vector "
    "against its round(x*127)/127 dequantized self — 4x smaller embedding "
    "storage at 100 TB; worst-case cosine and degraded count are exact "
    "(min + comparisons over engine-identical doubles, no fp sums).",
)
def q_embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dq = F.transform(v, lambda x: F.round(x * 127) / 127.0)
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    q = emb.select("vec_id", v.alias("v"), dq.alias("dq"))
    c = q.select(
        "vec_id",
        (dot(F.col("v"), F.col("dq"))
         / (F.sqrt(dot(F.col("v"), F.col("v"))) * F.sqrt(dot(F.col("dq"), F.col("dq"))))
         ).alias("cos_self"),
    )
    return c.agg(
        F.count("*").alias("n_vecs"),
        F.min("cos_self").alias("worst_cos"),
        F.sum(F.when(F.col("cos_self") < 0.995, 1).otherwise(0)).alias("n_degraded"),
    )


def _incremental_ingest_oracle() -> str:
    """Replays the two-phase incremental near-dup ingest in SQL: phase 0
    merges the even-id docs into an empty corpus (within-batch connected
    components, min-id keeper), phase 1 merges the odd-id docs against
    phase 0's survivors (corpus rejection first, then within-batch CC).
    Candidate pruning is pairwise band-bucket equality, so restricting
    the global ``pairs`` CTE to each phase's doc subset is EXACTLY the
    candidate set the incremental band-index join produces."""
    return f"""WITH RECURSIVE {_minhash_ctes()},
und AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
e_und AS (SELECT u, v FROM und WHERE u % 2 = 0 AND v % 2 = 0),
walk1(node, comp) AS (
    SELECT u, u FROM e_und
    UNION
    SELECT e.v, w.comp FROM walk1 w JOIN e_und e ON w.node = e.u
),
clusters1 AS (SELECT node, MIN(comp) AS comp FROM walk1 GROUP BY node),
kept1 AS (
    SELECT h.id FROM hashed h LEFT JOIN clusters1 c ON h.id = c.node
    WHERE h.id % 2 = 0 AND (c.node IS NULL OR c.comp = h.id)
),
rej2 AS (
    SELECT DISTINCT und.u AS id FROM und JOIN kept1 k ON und.v = k.id
    WHERE und.u % 2 = 1
),
rem2 AS (
    SELECT h.id FROM hashed h
    WHERE h.id % 2 = 1 AND h.id NOT IN (SELECT id FROM rej2)
),
o_und AS (
    SELECT u, v FROM und
    WHERE u IN (SELECT id FROM rem2) AND v IN (SELECT id FROM rem2)
),
walk2(node, comp) AS (
    SELECT u, u FROM o_und
    UNION
    SELECT e.v, w.comp FROM walk2 w JOIN o_und e ON w.node = e.u
),
clusters2 AS (SELECT node, MIN(comp) AS comp FROM walk2 GROUP BY node),
kept2 AS (
    SELECT r.id FROM rem2 r LEFT JOIN clusters2 c ON r.id = c.node
    WHERE c.node IS NULL OR c.comp = r.id
)
SELECT id AS doc_id, CAST(id % 2 AS BIGINT) AS phase FROM kept1
UNION ALL
SELECT id AS doc_id, CAST(id % 2 AS BIGINT) AS phase FROM kept2"""


@register(
    "minhash_incremental_ingest",
    _incremental_ingest_oracle(),
    doc="Incremental sink-is-the-state NEAR-dup ingest "
    "(operators/dedup.py:neardup_merge_batch): two deterministic phases "
    "(even ids, then odd ids) merge through the exact code path the "
    "streaming foreachBatch wrapper runs — batch docs are rejected "
    "against the accepted corpus via the sink's LSH band index, then "
    "within-batch clusters keep their min-id representative, and "
    "survivors' shingle sets + band rows are appended. History lives in "
    "the sink, not a state store, so per-batch work is banded-join "
    "bounded and replaying a batch appends nothing. The oracle replays "
    "both phases with recursive CTEs over the shared pair construction.",
)
def q_minhash_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    docs = documents_with_dups(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="ndsink_")
    try:
        for phase in (0, 1):
            dedup.neardup_merge_batch(
                docs.where(F.col("doc_id") % 2 == phase),
                path,
                k=MINHASH_K,
                bands=MINHASH_BANDS,
                threshold=0.7,
            )
        return (
            spark.read.parquet(f"{path}/xs")
            .select(
                F.col("id").alias("doc_id"), (F.col("id") % 2).alias("phase")
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ------------------------------------------------- product quantization ----

PQ_M, PQ_KSUB, PQ_ITERS = 4, 8, 2
_PQ_SUB = _EMB_DIM // PQ_M


def _pq_oracle_ctes() -> str:
    """Per-subspace replay of ``_kmeans_oracle_cte`` over list_slice'd
    embeddings (slicing commutes with quantization), CTE names prefixed
    ``pq{s}…``, plus the joined ``codes`` table: the full deterministic
    PQ encode in SQL."""
    rng = f"range(1, {_PQ_SUB + 1})"
    parts = []
    for s in range(PQ_M):
        lo, hi = s * _PQ_SUB + 1, (s + 1) * _PQ_SUB
        parts.append(
            f"""pq{s}q AS (SELECT vec_id AS id,
             list_transform(list_slice(CAST(embedding AS DOUBLE[]), {lo}, {hi}),
                            x -> CAST(round(x * {QUANT_SCALE}) AS BIGINT)) AS q
      FROM embeddings)"""
        )
        parts.append(
            f"""pq{s}c0 AS (SELECT rn - 1 AS c, q AS m
       FROM (SELECT q, ROW_NUMBER() OVER (ORDER BY id) AS rn FROM pq{s}q)
       WHERE rn <= {PQ_KSUB})"""
        )
        for t in range(PQ_ITERS + 1):
            parts.append(
                f"""pq{s}a{t + 1} AS (SELECT id, q, c AS cluster FROM (
         SELECT pq{s}q.id, pq{s}q.q, pq{s}c{t}.c,
                CAST(list_sum(list_transform({rng},
                     i -> (pq{s}q.q[i] - pq{s}c{t}.m[i]) * (pq{s}q.q[i] - pq{s}c{t}.m[i]))) AS BIGINT) AS dist
         FROM pq{s}q CROSS JOIN pq{s}c{t})
       QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, c) = 1)"""
            )
            if t == PQ_ITERS:
                break
            parts.append(
                f"""pq{s}u{t + 1} AS (SELECT cluster AS c,
              list(CAST(round(CAST(sv AS DOUBLE) / n) AS BIGINT) ORDER BY pos) AS m
       FROM (SELECT cluster, pp.i AS pos, SUM(q[pp.i]) AS sv, COUNT(*) AS n
             FROM pq{s}a{t + 1} CROSS JOIN (SELECT unnest({rng}) AS i) pp
             GROUP BY cluster, pp.i)
       GROUP BY cluster)"""
            )
            parts.append(
                f"""pq{s}c{t + 1} AS (SELECT pq{s}c{t}.c, COALESCE(pq{s}u{t + 1}.m, pq{s}c{t}.m) AS m
       FROM pq{s}c{t} LEFT JOIN pq{s}u{t + 1} ON pq{s}c{t}.c = pq{s}u{t + 1}.c)"""
            )
    fin = PQ_ITERS + 1
    sel = ", ".join(f"s{s}.cluster AS c{s}" for s in range(PQ_M))
    joins = " ".join(
        f"JOIN pq{s}a{fin} s{s} USING (id)" for s in range(1, PQ_M)
    )
    parts.append(
        f"codes AS (SELECT s0.id, {sel} FROM pq0a{fin} s0 {joins})"
    )
    return ",\n".join(parts)


_PQ_CTES = _pq_oracle_ctes()


@register(
    "embedding_pq_codes",
    f"""
WITH {_PQ_CTES}
SELECT id AS vec_id, {", ".join(f"c{s}" for s in range(PQ_M))} FROM codes
""",
    doc="Product-quantization encode (operators/similarity.py:"
    "pq_fit_encode; Jégou et al. 2011): 4 per-subspace deterministic "
    "k-means fits, every vector compressed to 4 centroid ids — the 64× "
    "memory reduction that makes billion-vector ANN indexes fit. "
    "Integer-grid arithmetic end to end; the oracle replays all four "
    "subspace fits and the code join bit-for-bit.",
)
def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes, _ = similarity.pq_fit_encode(
        load_table(spark, sf_dir, "embeddings"),
        dim=_EMB_DIM,
        m=PQ_M,
        k_sub=PQ_KSUB,
        iters=PQ_ITERS,
        scale=QUANT_SCALE,
    )
    return codes.select(
        F.col("id").alias("vec_id"), *[f"c{s}" for s in range(PQ_M)]
    )


def _pq_adc_oracle() -> str:
    fin = PQ_ITERS + 1
    rng = f"range(1, {_PQ_SUB + 1})"
    luts = []
    for s in range(PQ_M):
        luts.append(f"qv{s} AS (SELECT q FROM pq{s}q WHERE id = 7)")
        luts.append(
            f"""lut{s} AS (SELECT c.c AS cl,
           CAST(list_sum(list_transform({rng},
                i -> (qv.q[i] - c.m[i]) * (qv.q[i] - c.m[i]))) AS BIGINT) AS d
       FROM pq{s}c{PQ_ITERS} c, qv{s} qv)"""
        )
    joins = " ".join(
        f"JOIN lut{s} l{s} ON codes.c{s} = l{s}.cl" for s in range(PQ_M)
    )
    dist = " + ".join(f"l{s}.d" for s in range(PQ_M))
    return f"""
WITH {_PQ_CTES},
{", ".join(luts)},
adc AS (SELECT codes.id, ({dist}) AS adc_dist FROM codes {joins})
SELECT id AS vec_id, adc_dist FROM adc WHERE id != 7
ORDER BY adc_dist, vec_id LIMIT 10
"""


@register(
    "embedding_pq_adc_topk",
    _pq_adc_oracle(),
    doc="PQ asymmetric-distance top-k (operators/similarity.py:"
    "pq_adc_topk — FAISS's ADC search loop): per-subspace LUTs of exact "
    "int64 squared distances from the un-quantized query to each "
    "centroid ride the plan as literal arrays; a base vector's distance "
    "is 4 table lookups summed, so the scan reads ONLY the 4 code "
    "columns (embeddings pruned) and ends in TakeOrderedAndProject. "
    "Composes with IVF cell pruning orthogonally.",
)
def q_embedding_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_id=7,
        dim=_EMB_DIM,
        k=10,
        m=PQ_M,
        k_sub=PQ_KSUB,
        iters=PQ_ITERS,
        scale=QUANT_SCALE,
    )


def _ivfadc_oracle() -> str:
    """Coarse-cell restriction (full-vector k-means CTEs) composed with
    the PQ ADC ranking CTEs; both chains are the already-verified
    generators, joined by a semi-filter on the query's cell."""
    fin = PQ_ITERS + 1
    rng = f"range(1, {_PQ_SUB + 1})"
    luts = []
    for s in range(PQ_M):
        luts.append(f"qv{s} AS (SELECT q FROM pq{s}q WHERE id = 7)")
        luts.append(
            f"""lut{s} AS (SELECT c.c AS cl,
           CAST(list_sum(list_transform({rng},
                i -> (qv.q[i] - c.m[i]) * (qv.q[i] - c.m[i]))) AS BIGINT) AS d
       FROM pq{s}c{PQ_ITERS} c, qv{s} qv)"""
        )
    joins = " ".join(
        f"JOIN lut{s} l{s} ON codes.c{s} = l{s}.cl" for s in range(PQ_M)
    )
    dist = " + ".join(f"l{s}.d" for s in range(PQ_M))
    return f"""
WITH {_KM_CTE},
{_PQ_CTES},
{", ".join(luts)},
qcell AS (SELECT cluster FROM {_KM_FINAL} WHERE id = 7),
cand AS (SELECT af.id FROM {_KM_FINAL} af JOIN qcell USING (cluster)),
adc AS (SELECT codes.id, ({dist}) AS adc_dist
        FROM codes JOIN cand USING (id) {joins})
SELECT id AS vec_id, adc_dist FROM adc WHERE id != 7
ORDER BY adc_dist, vec_id LIMIT 10
"""


@register(
    "embedding_ivfadc_topk",
    _ivfadc_oracle(),
    doc="IVFADC (operators/similarity.py:ivfadc_topk — the FAISS "
    "billion-scale index): coarse k-means prunes the scan to the "
    "query's cell, PQ ADC ranks the survivors from 4 LUT lookups per "
    "row. Both quantizers are the deterministic integer-grid fits, so "
    "the two-level oracle replays cell pruning AND compressed-domain "
    "ranking bit-for-bit.",
)
def q_embedding_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivfadc_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_id=7,
        dim=_EMB_DIM,
        k=10,
        n_cells=KMEANS_K,
        m=PQ_M,
        k_sub=PQ_KSUB,
        iters=PQ_ITERS,
        scale=QUANT_SCALE,
    )


# ------------------------------------------- diversity-balanced sample ----

DIVERSITY_CAP = 40  # docs kept per k-means cell
DIVERSITY_QB = 1000  # quality buckets, same integer metric as token budget


@register(
    "corpus_diversity_sample",
    f"""
WITH {_KM_CTE},
qual AS (
    SELECT doc_id,
           ({DIVERSITY_QB} * CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT))
               // CAST(len(string_split(text, ' ')) AS BIGINT) AS qb
    FROM documents
),
ranked AS (
    SELECT q.doc_id, af.cluster, q.qb,
           ROW_NUMBER() OVER (PARTITION BY af.cluster
                              ORDER BY q.qb DESC, q.doc_id) AS rn
    FROM qual q JOIN {_KM_FINAL} af ON q.doc_id = af.id
)
SELECT doc_id, CAST(cluster AS BIGINT) AS cluster, qb, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {DIVERSITY_CAP}
""",
    doc="Diversity-balanced corpus selection: deterministic quantized "
    "k-means cells over the embedding space (vec_id = doc_id by the "
    "fixture's construction), then a per-cell cap in (quality DESC, id) "
    "order — the SemDeDup-adjacent 'cluster then subsample' recipe that "
    "keeps a web-scale corpus from collapsing onto its densest mode. "
    "Per-cell ranking reuses the integer quality bucket of "
    "corpus_token_budget_selection, so both engines order identically "
    "with zero float comparisons. Scale shape: the k-means fit collects "
    "only k x dim centroid scalars; the cap is a window partitioned by "
    "cell — no global sort, and cell skew is bounded by the cap itself "
    "(every cell emits at most CAP rows).",
)
def q_corpus_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    assign = similarity.kmeans_assign(
        load_table(spark, sf_dir, "embeddings"),
        k=KMEANS_K,
        iters=KMEANS_ITERS,
        scale=KMEANS_SCALE,
    )
    t = F.col("text")
    qual = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (
            (F.lit(DIVERSITY_QB) * text.unique_token_count(t)).cast("long")
            / text.token_count(t)
        )
        .cast("long")
        .alias("qb"),
    )
    ranked = qual.join(assign, qual["doc_id"] == assign["vec_id"]).select(
        "doc_id",
        F.col("cluster").cast("long").alias("cluster"),
        "qb",
        F.row_number()
        .over(
            Window.partitionBy("cluster").orderBy(F.desc("qb"), F.col("doc_id"))
        )
        .cast("long")
        .alias("rn"),
    )
    return ranked.where(F.col("rn") <= DIVERSITY_CAP)


_KM_INGEST_CTE, _ = _kmeans_oracle_cte(
    KMEANS_K, KMEANS_ITERS, KMEANS_SCALE, _EMB_DIM, fit_where="WHERE id % 2 = 0"
)


@register(
    "embedding_ivf_incremental_ingest",
    f"""
WITH {_KM_INGEST_CTE},
final_assign AS (
    SELECT id, c AS cluster FROM (
        SELECT q.id, c{KMEANS_ITERS}.c,
               CAST(list_sum(list_transform(range(1, {_EMB_DIM + 1}),
                    i -> (q.q[i] - c{KMEANS_ITERS}.m[i])
                         * (q.q[i] - c{KMEANS_ITERS}.m[i]))) AS BIGINT) AS dist
        FROM q CROSS JOIN c{KMEANS_ITERS})
    QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, c) = 1
)
SELECT id AS vec_id, CAST(cluster AS INTEGER) AS cluster FROM final_assign
""",
    doc="Sink-is-the-state IVF index maintenance "
    "(operators/similarity.py:ivf_incremental_ingest): batch 1 (even "
    "vec_ids) fits the coarse quantizer and creates the sink; batch 2 "
    "(odd vec_ids) reads the FROZEN centroids back and appends its "
    "assignments — no refit, the production IVF growth path. Per-batch "
    "cost is one quantize projection + argmin over k literal centroids "
    "+ one append; the only history read is the k-row centroid table. "
    "The oracle fits on the even half and assigns everyone to the "
    "frozen final centroids — exactly what the two-phase sink contains.",
)
def q_embedding_ivf_incremental_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import shutil as _sh
    import tempfile

    # per-run sink (a fixed shared path collides across concurrent
    # sessions); the returned table is materialized before cleanup
    root = tempfile.mkdtemp(prefix="ivfsink_")
    sink = os.path.join(root, "sink")
    try:
        emb = load_table(spark, sf_dir, "embeddings")
        similarity.ivf_incremental_ingest(
            emb.where(F.col("vec_id") % 2 == 0),
            sink,
            k=KMEANS_K,
            iters=KMEANS_ITERS,
            scale=KMEANS_SCALE,
        )
        return similarity.ivf_incremental_ingest(
            emb.where(F.col("vec_id") % 2 == 1),
            sink,
            k=KMEANS_K,
            iters=KMEANS_ITERS,
            scale=KMEANS_SCALE,
        ).localCheckpoint(eager=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)


# --------------------------------------------- prefix-filter / containment ----


def _hashed_docs_dup_ctes() -> str:
    """docs_dup → per-doc hashed 3-gram shingle sets, the same int64
    construction ``_minhash_ctes`` uses (one md5 per word, Horner
    polynomial per shingle) — shared by the prefix-join oracle."""
    p, bb = dedup.MINHASH_P, dedup.SHINGLE_B
    return f"""{DOCUMENTS_WITH_DUPS_ORACLE_CTE},
wordhashed AS (
    SELECT doc_id AS id,
           list_transform(string_split(text, ' '),
               w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % {p}) AS wh
    FROM docs_dup
    WHERE len(string_split(text, ' ')) >= 3
),
hashed AS (
    SELECT id, list_distinct(list_transform(
        range(len(wh) - 2),
        i -> (((wh[i + 1] * {bb} + wh[i + 2]) % {p}) * {bb} + wh[i + 3]) % {p})) AS xs
    FROM wordhashed
)"""


@register(
    "jaccard_prefix_pairs",
    f"""
WITH {_hashed_docs_dup_ctes()},
toks AS (SELECT id, unnest(xs) AS token FROM hashed),
sizes AS (SELECT id, COUNT(*) AS sz FROM toks GROUP BY id),
inter AS (
    SELECT l.id AS id_a, r.id AS id_b, COUNT(*) AS n_common
    FROM toks l JOIN toks r ON l.token = r.token AND l.id < r.id
    GROUP BY l.id, r.id
)
SELECT i.id_a, i.id_b,
       i.n_common / (sa.sz + sb.sz - i.n_common) AS jacc
FROM inter i
JOIN sizes sa ON i.id_a = sa.id
JOIN sizes sb ON i.id_b = sb.id
WHERE i.n_common / (sa.sz + sb.sz - i.n_common) >= 0.5
""",
    doc="Exact shingle-set Jaccard pairs via PREFIX FILTERING (AllPairs/"
    "PPJoin): only each doc's globally-rarest tokens enter the inverted "
    "index, no blocking column needed, and each prefix-join row must "
    "pass the length and positional bounds (the Jaccard the pair could "
    "reach from its sizes, and from the overlap left after the shared "
    "token's positions), computed with the verify's own division so "
    "rounding never drops a pair; every filter is lossless, so the "
    "oracle is the plain exact all-pairs form.",
)
def q_jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_prefix_pairs(
        documents_with_dups(spark, sf_dir), threshold=0.5
    )


@register(
    "ngram_containment_pairs",
    f"""
WITH {DOCUMENTS_WITH_DUPS_ORACLE_CTE},
wordhashed AS (
    SELECT source AS blk, doc_id AS id,
           list_transform(string_split(text, ' '),
               w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT)
                    % {dedup.MINHASH_P}) AS wh
    FROM docs_dup
),
toks AS (
    SELECT blk, id,
           unnest(list_distinct(list_transform(
               range(len(wh) - 2),
               i -> (((wh[i + 1] * {dedup.SHINGLE_B} + wh[i + 2])
                      % {dedup.MINHASH_P}) * {dedup.SHINGLE_B} + wh[i + 3])
                    % {dedup.MINHASH_P}))) AS token
    FROM wordhashed
),
sizes AS (SELECT blk, id, COUNT(*) AS sz FROM toks GROUP BY blk, id),
inter AS (
    SELECT l.blk AS blk, l.id AS id_a, r.id AS id_b, COUNT(*) AS n_common
    FROM toks l JOIN toks r
      ON l.blk = r.blk AND l.token = r.token AND l.id < r.id
    GROUP BY l.blk, l.id, r.id
),
pair_sides AS (
    SELECT i.id_a, i.id_b, i.n_common,
           sa.sz AS sz_a, sb.sz AS sz_b
    FROM inter i
    JOIN sizes sa ON i.blk = sa.blk AND i.id_a = sa.id
    JOIN sizes sb ON i.blk = sb.blk AND i.id_b = sb.id
)
SELECT id_a AS id_sub, id_b AS id_super, n_common / sz_a AS containment
FROM pair_sides WHERE n_common / sz_a >= 0.8
UNION ALL
SELECT id_b AS id_sub, id_a AS id_super, n_common / sz_b AS containment
FROM pair_sides WHERE n_common / sz_b >= 0.8
""",
    doc="Directed shingle-set containment pairs |sub∩super|/|sub| >= 0.8 "
    "— the asymmetric near-dup relation (short doc quoted inside a long "
    "one) Jaccard misses; one intersection per unordered pair, both "
    "directions are projections.",
)
def q_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_containment_pairs(
        documents_with_dups(spark, sf_dir), threshold=0.8
    )


# -------------------------------------------------------- novelty score ----


@register(
    "doc_novelty_score",
    f"""
WITH wordhashed AS (
    SELECT doc_id AS id,
           list_transform(string_split(text, ' '),
               w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT)
                    % {dedup.MINHASH_P}) AS wh
    FROM documents
    WHERE len(string_split(text, ' ')) >= 3
),
hashed AS (
    SELECT id, list_distinct(list_transform(
        range(len(wh) - 2),
        i -> (((wh[i + 1] * {dedup.SHINGLE_B} + wh[i + 2])
               % {dedup.MINHASH_P}) * {dedup.SHINGLE_B} + wh[i + 3])
             % {dedup.MINHASH_P})) AS xs
    FROM wordhashed
),
toks AS (SELECT id, unnest(xs) AS token FROM hashed),
dfreq AS (SELECT token, COUNT(*) AS dfreq FROM toks GROUP BY token)
SELECT t.id AS doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN d.dfreq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       SUM(CASE WHEN d.dfreq = 1 THEN 1 ELSE 0 END) / COUNT(*) AS novelty
FROM toks t JOIN dfreq d ON t.token = d.token
GROUP BY t.id
""",
    doc="Shingle novelty per document: share of its 3-gram shingles that "
    "appear NOWHERE else in the corpus (global df = 1) — high novelty "
    "marks unique content worth keeping, low novelty marks boilerplate; "
    "one explode shuffle + a vocabulary-keyed join, same cost shape as "
    "the dedup inverted index it can share.",
)
def q_doc_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = widen_input(load_table(spark, sf_dir, "documents"))
    base = d.select(
        F.col("doc_id").alias("id"),
        dedup.hashed_shingles("text", 3).alias("xs"),
    ).where(F.size("xs") > 0)
    toks = base.select("id", F.explode("xs").alias("token"))
    dfreq = toks.groupBy("token").agg(F.count("*").alias("dfreq"))
    return (
        toks.join(dfreq, "token")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("dfreq") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
            (
                F.sum(F.when(F.col("dfreq") == 1, 1).otherwise(0))
                / F.count("*")
            ).alias("novelty"),
        )
    )


# ------------------------------------------- exact substring-span dedup ----

EXSUB_K = 8


def _exsub_poly_sql(k: int) -> str:
    """DuckDB replay of ``dedup._poly_combine`` over wh[pos+1 .. pos+k]
    (1-based list indexing, mod P between Horner steps)."""
    expr = "wh[pos + 1]"
    for j in range(1, k):
        expr = f"(({expr}) * {dedup.SHINGLE_B} + wh[pos + {j + 1}]) % {dedup.MINHASH_P}"
    return expr


def _exsub_span_ctes() -> str:
    """Duplicated k-gram positions -> gaps-and-islands merged spans, the
    exact relational replay of ``dedup.exact_substr_spans`` (positional
    Horner k-gram hashes over per-token md5 hashes, global HAVING
    count>1, running-max interval merge)."""
    k, p = EXSUB_K, dedup.MINHASH_P
    return f"""{DOCUMENTS_WITH_DUPS_ORACLE_CTE},
wordhashed AS (
    SELECT doc_id AS id,
           list_transform(string_split(text, ' '),
               w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % {p}) AS wh
    FROM docs_dup
    WHERE len(string_split(text, ' ')) >= {k}
),
grams AS (
    SELECT id, pos, {_exsub_poly_sql(k)} AS gh
    FROM (SELECT id, wh, unnest(range(len(wh) - {k} + 1)) AS pos FROM wordhashed)
),
dupg AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) > 1),
dpos AS (SELECT g.id, g.pos FROM grams g JOIN dupg USING (gh)),
marked AS (
    SELECT id, pos,
           CASE WHEN pos > COALESCE(MAX(pos + {k - 1}) OVER (
                    PARTITION BY id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
                THEN 1 ELSE 0 END AS brk
    FROM dpos
),
isl AS (
    SELECT id, pos, SUM(brk) OVER (
        PARTITION BY id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM marked
),
spans AS (
    SELECT id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {k - 1} AS BIGINT) AS span_end
    FROM isl GROUP BY id, island
)"""


@register(
    "doc_exact_substr_spans",
    f"""WITH {_exsub_span_ctes()}
SELECT id AS doc_id, span_start, span_end,
       span_end - span_start + 1 AS span_tokens
FROM spans""",
    doc="ExactSubstr duplicated-span detection (Lee et al. 2022) in "
    "relational form (operators/dedup.py:exact_substr_spans): maximal "
    "token ranges whose every 8-token window recurs elsewhere in the "
    "corpus — positional Horner k-gram hashes, corpus-wide HAVING "
    "count>1, running-max gaps-and-islands merge. One explode, one "
    "hash-keyed aggregate, one id-keyed window; no suffix array.",
)
def q_doc_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_substr_spans(
        widen_input(documents_with_dups(spark, sf_dir)), k=EXSUB_K
    )


@register(
    "corpus_exact_substr_rewrite",
    f"""WITH {_exsub_span_ctes()},
covered AS (
    SELECT id, unnest(range(span_start, span_end + 1)) AS pos FROM spans
),
toks AS (
    SELECT id, pos, ts[pos + 1] AS tok
    FROM (SELECT id, ts, unnest(range(len(ts))) AS pos
          FROM (SELECT doc_id AS id, string_split(text, ' ') AS ts FROM docs_dup))
)
SELECT t.id AS doc_id,
       COALESCE(string_agg(t.tok, ' ' ORDER BY t.pos)
                    FILTER (WHERE c.pos IS NULL), '') AS clean_text,
       CAST(COUNT(*) FILTER (WHERE c.pos IS NULL) AS BIGINT) AS n_kept,
       CAST(COUNT(c.pos) AS BIGINT) AS n_removed
FROM toks t LEFT JOIN covered c ON t.id = c.id AND t.pos = c.pos
GROUP BY t.id""",
    doc="ExactSubstr rewrite (operators/dedup.py:exact_substr_rewrite): "
    "drop every token inside a duplicated span (all-copies removal; "
    "keep-first at segment granularity is segment_dedup_rewrite) and "
    "reassemble survivors in position order. Covered positions come "
    "from exploding span ranges, so the kept/removed split is an "
    "equality join on (id, pos) — never a range join.",
)
def q_corpus_exact_substr_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_substr_rewrite(
        widen_input(documents_with_dups(spark, sf_dir)), k=EXSUB_K
    )


# ------------------------------------------------- edit-distance join ----


@register(
    "customer_name_edit_pairs",
    """
WITH names AS (SELECT c_custkey AS id, c_name AS name FROM customer)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM names a JOIN names b ON a.id < b.id
WHERE levenshtein(a.name, b.name) <= 1""",
    doc="Edit-distance similarity self-join (ed <= 1) over customer "
    "names via PassJoin pigeonhole segment blocking "
    "(operators/strings.py:edit_distance_pairs): candidates from an "
    "equality join on (length, segment, piece) keys — never a cross "
    "join — then an exact levenshtein verify. The oracle IS the "
    "all-pairs definition, so the driver gate doubles as the "
    "losslessness check at sf0.01.",
)
def q_customer_name_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    return _strings.edit_distance_pairs(
        c, d=1, str_col="name", id_col="id", compute_splits="auto"
    )


CONTAM_N = 8


CONTAM_ORACLE = f"""
WITH {{dups}},
tg AS (
    SELECT doc_id AS id, unnest(list_distinct(list_transform(
        range(len(string_split(text, ' ')) - {CONTAM_N - 1}),
        i -> array_to_string(string_split(text, ' ')[i + 1:i + {CONTAM_N}], ' ')))) AS g
    FROM docs_dup
    WHERE doc_id < 1000000 AND len(string_split(text, ' ')) >= {CONTAM_N}
),
bg AS (
    SELECT doc_id AS bid, unnest(list_distinct(list_transform(
        range(len(string_split(text, ' ')) - {CONTAM_N - 1}),
        i -> array_to_string(string_split(text, ' ')[i + 1:i + {CONTAM_N}], ' ')))) AS g
    FROM docs_dup
    WHERE doc_id >= 1000000 AND len(string_split(text, ' ')) >= {CONTAM_N}
)
SELECT id, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_hit_ngrams,
       CAST(COUNT(DISTINCT bid) AS BIGINT) AS n_bench_docs
FROM tg JOIN bg USING (g)
GROUP BY id
""".format(dups=DOCUMENTS_WITH_DUPS_ORACLE_CTE)


@register(
    "ngram_overlap_contamination",
    CONTAM_ORACLE,
    doc=f"Exact {CONTAM_N}-gram overlap decontamination — the canonical "
    "GPT-3-appendix-C collision test, complementing "
    "train_eval_contamination's rare-winnow-fingerprint variant: every "
    "training doc sharing ANY verbatim n-gram with the benchmark side "
    "(the planted-dup corpus split at id 1M) is reported with its hit "
    "breadth (operators/dedup.py:ngram_contamination). Both sides shrink "
    "to distinct (id, md5(gram)) rows before the single digest-keyed "
    "equality shuffle; no broadcast is forced, so AQE picks one exactly "
    "when the benchmark side is small enough.",
)
def q_ngram_overlap_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = widen_input(documents_with_dups(spark, sf_dir))
    return dedup.ngram_contamination(
        corpus.where(F.col("doc_id") < 1_000_000),
        corpus.where(F.col("doc_id") >= 1_000_000),
        n=CONTAM_N,
    )


# ------------------------------------------------- dedup QA / recall ----


def _lsh_quality_oracle() -> str:

    return f"""
WITH RECURSIVE {_minhash_ctes()},
truth AS (
    SELECT a.id AS id_a, b.id AS id_b
    FROM hashed a JOIN hashed b ON a.id < b.id
    WHERE len(list_intersect(a.xs, b.xs))
            / (len(a.xs) + len(b.xs) - len(list_intersect(a.xs, b.xs))) >= 0.7
),
pred AS (SELECT id_a, id_b FROM pairs),
m AS (
    SELECT COALESCE(t.id_a, p.id_a) AS id_a,
           (t.id_a IS NOT NULL) AS is_true, (p.id_a IS NOT NULL) AS is_pred
    FROM truth t FULL OUTER JOIN pred p
      ON t.id_a = p.id_a AND t.id_b = p.id_b
)
SELECT CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN is_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
       CAST(SUM(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       SUM(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END)
         / SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS recall,
       SUM(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END)
         / SUM(CASE WHEN is_pred THEN 1 ELSE 0 END) AS precision
FROM m
"""


@register(
    "minhash_lsh_quality",
    _lsh_quality_oracle(),
    doc="Dedup-QA metric: recall and precision of the MinHash(16)+LSH(4-"
    "band) pipeline against the EXACT Jaccard >= 0.7 truth set over the "
    "same hashed-shingle universe — the quality report a curation run "
    "publishes alongside its dedup stats. The truth side is the "
    "lossless prefix-filter join (no blocking loss, scalable), so the "
    "whole metric runs at corpus scale; precision is 1.0 by "
    "construction (LSH candidates are verified with exact Jaccard "
    "before emission) and the metric PROVES it empirically, while "
    "recall exposes banding misses near the threshold. The oracle "
    "computes truth by brute-force all-pairs.",
)
def q_minhash_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:

    corpus = documents_with_dups(spark, sf_dir)
    truth = dedup.jaccard_prefix_pairs(corpus, threshold=0.7).select("id_a", "id_b")
    pred = dedup.minhash_near_dup_pairs(
        corpus, k=MINHASH_K, bands=MINHASH_BANDS, threshold=0.7
    ).select("id_a", "id_b")
    m = truth.withColumn("is_true", F.lit(True)).join(
        pred.withColumn("is_pred", F.lit(True)), ["id_a", "id_b"], "full_outer"
    )
    it = F.coalesce(F.col("is_true"), F.lit(False))
    ip = F.coalesce(F.col("is_pred"), F.lit(False))
    hit = (it & ip).cast("long")
    return m.agg(
        F.sum(it.cast("long")).alias("n_true"),
        F.sum(ip.cast("long")).alias("n_pred"),
        F.sum(hit).alias("n_hit"),
        (F.sum(hit) / F.sum(it.cast("long"))).alias("recall"),
        (F.sum(hit) / F.sum(ip.cast("long"))).alias("precision"),
    )


EMB_CONTAM_THRESHOLD = 0.35


@register(
    "embedding_cross_set_contamination",
    f"""
WITH b AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
t AS (SELECT * FROM b WHERE vec_id % 10 != 0),
e AS (SELECT * FROM b WHERE vec_id % 10 = 0),
sims AS (
    SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
           ROUND(list_dot_product(t.vec, e.vec)
                 / (sqrt(list_dot_product(t.vec, t.vec))
                    * sqrt(list_dot_product(e.vec, e.vec))), 6) AS cos_sim
    FROM t JOIN e ON t.label = e.label
),
hits AS (SELECT * FROM sims WHERE cos_sim >= {EMB_CONTAM_THRESHOLD}),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY train_id
                                 ORDER BY cos_sim DESC, eval_id) AS rn
    FROM hits
)
SELECT train_id,
       MAX(CASE WHEN rn = 1 THEN eval_id END) AS nearest_eval_id,
       MAX(cos_sim) AS max_sim,
       CAST(COUNT(*) AS BIGINT) AS n_eval_hits
FROM ranked
GROUP BY train_id
""",
    doc="Embedding-space benchmark decontamination (semantic complement "
    "of the exact n-gram gate): every 10th vector plays the eval set; "
    "train vectors within cosine {th} of ANY eval vector are flagged "
    "with the nearest eval id, max similarity, and hit count. Blocked "
    "cross-set join (never |train|x|eval|), compute-splits salted for "
    "the few-blocks regime.".format(th=EMB_CONTAM_THRESHOLD),
)
def q_embedding_cross_set_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cross_set_contamination(
        emb.where(F.col("vec_id") % 10 != 0),
        emb.where(F.col("vec_id") % 10 == 0),
        threshold=EMB_CONTAM_THRESHOLD,
        compute_splits="auto",
    )


MATRYOSHKA_DIMS = [8, 16, 32]


def _matryoshka_oracle_sql() -> str:
    cos_full = (
        "list_dot_product(b.vec, q.qvec) / (sqrt(list_dot_product(b.vec, "
        "b.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))"
    )
    parts = []
    for d in MATRYOSHKA_DIMS:
        cos_p = (
            f"list_dot_product(b.pv, q.pq) / (sqrt(list_dot_product(b.pv, "
            f"b.pv)) * sqrt(list_dot_product(q.pq, q.pq)))"
        )
        parts.append(f"""
SELECT {d} AS prefix_dim, COUNT(*) AS n_hits, COUNT(*) / 10.0 AS recall_at_10
FROM (
    SELECT b.vec_id
    FROM (SELECT vec_id, list_slice(CAST(embedding AS DOUBLE[]), 1, {d}) AS pv
          FROM embeddings WHERE vec_id != 7) b,
         (SELECT list_slice(CAST(embedding AS DOUBLE[]), 1, {d}) AS pq
          FROM embeddings WHERE vec_id = 7) q
    ORDER BY {cos_p} DESC, b.vec_id LIMIT 10
) approx
JOIN (
    SELECT b.vec_id
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
          FROM embeddings WHERE vec_id != 7) b,
         (SELECT CAST(embedding AS DOUBLE[]) AS qvec
          FROM embeddings WHERE vec_id = 7) q
    ORDER BY {cos_full} DESC, b.vec_id LIMIT 10
) exact ON approx.vec_id = exact.vec_id""")
    return "\nUNION ALL\n".join(parts)


@register(
    "embedding_matryoshka_recall",
    _matryoshka_oracle_sql(),
    doc="Matryoshka truncation eval (Kusupati et al. 2022): recall@10 "
    "of PREFIX-dimension cosine search (8/16/32 of 64 dims) against the "
    "full-dimension exact top-10 for the same query — the measurement "
    "that licenses serving truncated embeddings (memory/latency vs "
    "recall trade). Each prefix run is a sliced-array scan + "
    "TakeOrderedAndProject; the overlap join is k-row-sized.",
)
def q_embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity

    emb = widen_input(load_table(spark, sf_dir, "embeddings"), "vec_id")
    exact = similarity.cosine_topk(emb, query_id=7, k=10).select("vec_id")
    out = None
    for d in MATRYOSHKA_DIMS:
        sliced = emb.select(
            "vec_id", F.slice(F.col("embedding"), 1, d).alias("embedding")
        )
        approx = similarity.cosine_topk(sliced, query_id=7, k=10).select(
            "vec_id"
        )
        r = approx.join(exact, "vec_id").agg(
            F.lit(d).alias("prefix_dim"),
            F.count("*").alias("n_hits"),
            (F.count("*") / 10.0).alias("recall_at_10"),
        )
        out = r if out is None else out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# Bloom-pre-filtered decontamination: the at-scale gate pattern, with the
# false-positive cost quantified per document.
# ---------------------------------------------------------------------------

# Deliberately sized so the false-positive column is non-trivially
# exercised at the gate's sf0.01 corpus (measured: 9 FPs at 2^15 bits vs
# 0 at 2^18 for ~24k probed grams) — production picks m from the target
# FP budget; the audit columns are how you check the choice.
BLOOM_M_BITS = 1 << 15
BLOOM_N = 8  # same gram width as ngram_overlap_contamination


def _bloom_oracle() -> str:
    from .fixtures import DOCUMENTS_WITH_DUPS_ORACLE_CTE

    n, m, w = BLOOM_N, BLOOM_M_BITS, 32
    gram_list = (
        f"list_distinct(list_transform("
        f"range(len(string_split(text, ' ')) - {n - 1}),"
        f" i -> array_to_string(string_split(text, ' ')[i + 1:i + {n}], ' ')))"
    )
    h1 = "CAST('0x' || substr(md5(g), 1, 8) AS BIGINT)"
    h2 = "CAST('0x' || substr(md5(g), 9, 8) AS BIGINT)"
    return f"""
WITH {DOCUMENTS_WITH_DUPS_ORACLE_CTE},
tg AS (
    SELECT doc_id AS id, unnest({gram_list}) AS g
    FROM docs_dup
    WHERE doc_id < 1000000 AND len(string_split(text, ' ')) >= {n}
),
bgd AS (
    SELECT DISTINCT unnest({gram_list}) AS g
    FROM docs_dup
    WHERE doc_id >= 1000000 AND len(string_split(text, ' ')) >= {n}
),
bpos AS (
    SELECT DISTINCT p // {w} AS wd, p % {w} AS b
    FROM (SELECT unnest([{h1} % {m}, ({h1} + {h2}) % {m}]) AS p FROM bgd)
),
bloom AS (
    SELECT wd, CAST(bit_or(CAST(1 AS BIGINT) << CAST(b AS INTEGER)) AS BIGINT)
               AS bits
    FROM bpos GROUP BY wd
),
tp AS (
    SELECT id, g, unnest([{h1} % {m}, ({h1} + {h2}) % {m}]) AS p FROM tg
),
tpl AS (SELECT id, g, p // {w} AS wd, p % {w} AS b FROM tp),
per_gram AS (
    SELECT id, g,
           bool_and(COALESCE(
               (bits & (CAST(1 AS BIGINT) << CAST(b AS INTEGER))) <> 0,
               FALSE)) AS bloom_pass
    FROM tpl LEFT JOIN bloom USING (wd)
    GROUP BY id, g
),
flagged AS (
    SELECT id, bloom_pass, e.g IS NOT NULL AS is_exact
    FROM per_gram LEFT JOIN (SELECT g FROM bgd) e USING (g)
)
SELECT id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bloom_hits,
       CAST(SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_hits,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_exact THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos
FROM flagged GROUP BY id
"""


@register(
    "bloom_contamination_gate",
    _bloom_oracle(),
    doc=f"Bloom-pre-filtered {BLOOM_N}-gram decontamination — the at-scale "
    "form of ngram_overlap_contamination: benchmark grams fold into a "
    f"{BLOOM_M_BITS}-bit filter (k=2 double-hashed md5 positions, 32-bit "
    "words so masks stay positive int64 cross-engine); training grams "
    "probe the broadcast-sized (word, bits) table map-side BEFORE any "
    "equality join. Output quantifies the filter per doc: gram count, "
    "bloom hits, exact hits, and measured false positives — "
    "deterministic (no RNG), so the m/k trade is auditable, and at "
    "100 TB the exact join runs only on the bloom-positive survivor "
    "set.",
)
def q_bloom_contamination_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .fixtures import documents_with_dups
    from .operators import dedup as _dedup

    corpus = widen_input(documents_with_dups(spark, sf_dir))
    return _dedup.bloom_contamination(
        corpus.where(F.col("doc_id") < 1_000_000),
        corpus.where(F.col("doc_id") >= 1_000_000),
        n=BLOOM_N,
        m_bits=BLOOM_M_BITS,
    )


# --------------------------------------------------------------------------
# Leakage-safe split assignment (near-dup clusters share a split)
# --------------------------------------------------------------------------


def _leakage_safe_oracle() -> str:

    rep = "COALESCE(c.cluster, d.doc_id)"
    bucket = (
        "CAST('0x' || substr(md5('split:' || CAST("
        + rep
        + " AS VARCHAR)), 1, 8) AS BIGINT) % 100"
    )
    return f"""
WITH RECURSIVE {_minhash_ctes()},
und AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION SELECT id_b, id_a FROM pairs
),
walk(node, comp) AS (
    SELECT u, u FROM und
    UNION
    SELECT e.v, w.comp FROM walk w JOIN und e ON w.node = e.u
),
clusters AS (SELECT node, MIN(comp) AS cluster FROM walk GROUP BY node)
SELECT d.doc_id, {rep} AS rep_id,
       CASE WHEN {bucket} < 90 THEN 'train'
            WHEN {bucket} < 95 THEN 'val' ELSE 'test' END AS split
FROM docs_dup d LEFT JOIN clusters c ON d.doc_id = c.node
"""


@register(
    "doc_split_leakage_safe",
    _leakage_safe_oracle(),
    doc="Leakage-safe train/val/test assignment: the split hash is keyed "
    "on each document's near-dup CLUSTER representative (MinHash-LSH "
    "pairs -> connected components -> min-id rep; singletons key on "
    "themselves), so near-duplicates can NEVER straddle the train/eval "
    "boundary — the contamination mode a plain per-doc hash split "
    "(doc_split_assignment) is blind to, and the post-GPT-2 eval-hygiene "
    "lesson every serious corpus applies. Same 90/5/5 buckets and salt "
    "as the per-doc split; same banded-LSH + CC machinery as the dedup "
    "family, so the marginal cost over dedup-you-already-run is one "
    "broadcast join.",
)
def q_doc_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup
    from .operators import text as _t
    from .operators.graph import connected_components

    d = documents_with_dups(spark, sf_dir)
    pairs = dedup.minhash_near_dup_pairs(
        d, k=MINHASH_K, bands=MINHASH_BANDS, threshold=0.7
    )
    clusters = connected_components(pairs)
    rep = F.coalesce(F.col("comp"), F.col("doc_id"))
    b = _t.split_bucket(rep)
    return (
        d.join(F.broadcast(clusters), d.doc_id == clusters.node, "left")
        .select(
            "doc_id",
            rep.alias("rep_id"),
            F.when(b < 90, "train")
            .when(b < 95, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


# --------------------------------------------------------------------------
# Embedding-space class geometry (operators/similarity.py:label_centroid_cosines)
# --------------------------------------------------------------------------


@register(
    "embedding_label_centroid_cosines",
    """
WITH comp AS (
    SELECT label AS lbl, u.i AS dim,
           CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000000) AS BIGINT)
               AS q
    FROM embeddings,
         UNNEST(range(1, CAST(len(embedding) + 1 AS BIGINT))) AS u(i)
),
sums AS (
    SELECT lbl, dim, CAST(SUM(q) AS BIGINT) AS s
    FROM comp GROUP BY lbl, dim
),
norms AS (
    SELECT lbl, SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS nn
    FROM sums GROUP BY lbl
),
dots AS (
    SELECT a.lbl AS label_a, b.lbl AS label_b,
           SUM(CAST(a.s AS HUGEINT) * CAST(b.s AS HUGEINT)) AS dot
    FROM sums a JOIN sums b ON a.dim = b.dim AND a.lbl < b.lbl
    GROUP BY a.lbl, b.lbl
)
SELECT d.label_a, d.label_b,
       CASE WHEN na.nn > 0 AND nb.nn > 0 THEN
           CAST(ROUND(CAST(d.dot AS DOUBLE)
                / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE))
                * 1000000000) AS BIGINT) / 1e9
       END AS cos
FROM dots d
JOIN norms na ON d.label_a = na.lbl
JOIN norms nb ON d.label_b = nb.lbl
""",
    doc="Inter-centroid cosine matrix of the labeled embedding space — "
    "which classes are geometrically confusable, the diagnostic behind "
    "mixture design, IVF cell sizing, and hard-negative selection. "
    "Exactness: components quantize to the 1e-6 int64 grid, and since "
    "cos(centroid_a, centroid_b) = cos(sum_a, sum_b) (1/n factors "
    "cancel) every dot/norm accumulates as exact decimal/hugeint over "
    "the dim-aligned join — order-independent; doubles only in the "
    "final cos, nano-quantized. One corpus pass to a labels x dims "
    "table, then label-pair work on that tiny table: the corpus is "
    "never self-joined.",
)
def q_embedding_label_centroid_cosines(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.similarity import label_centroid_cosines

    return label_centroid_cosines(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Entity resolution end-to-end (blocking -> verified similarity ->
# connected components -> golden record): the MDM pipeline composed
# from the engine's own primitives — PassJoin pigeonhole edit-distance
# pairs (operators/strings.py), min-label components
# (operators/graph.py), and a deterministic survivorship rule.
# ---------------------------------------------------------------------------


def _er_oracle() -> str:
    return """
WITH RECURSIVE names AS (
    SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat
    FROM customer
),
pairs AS (
    SELECT a.id AS id_a, b.id AS id_b
    FROM names a JOIN names b ON a.id < b.id AND a.nat = b.nat
    WHERE levenshtein(a.name, b.name) <= 1
),
und AS (SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
walk(node, comp) AS (
    SELECT u, u FROM und
    UNION
    SELECT e.v, w.comp FROM walk w JOIN und e ON w.node = e.u
),
clusters AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node),
ent AS (
    SELECT c.c_custkey,
           c.c_name,
           CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS cents,
           COALESCE(cl.comp, c.c_custkey) AS entity_id
    FROM customer c LEFT JOIN clusters cl ON c.c_custkey = cl.node
)
SELECT entity_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MAX(CASE WHEN c_custkey = entity_id THEN c_name END) AS rep_name,
       CAST(SUM(cents) AS BIGINT) AS sum_acctbal_cents
FROM ent GROUP BY entity_id
"""


@register(
    "customer_entity_resolution",
    _er_oracle(),
    doc="Entity resolution end-to-end: PassJoin pigeonhole-blocked "
    "edit-distance pairs (ed <= 1, never a cross join) -> connected "
    "components (transitive identity: A~B~C is ONE entity even though "
    "A~C was never emitted) -> golden record per entity with a "
    "deterministic survivorship rule (min-custkey member is the "
    "representative; balances sum exactly in cents). A match "
    "additionally requires the SAME nation (the classic second "
    "attribute that stops sequential-serial names chaining the whole "
    "table into one entity — applied as a post-verify filter, so "
    "blocking losslessness is untouched). Singletons are their own "
    "entity via the left join. The oracle recomputes pairs from the "
    "all-pairs levenshtein definition and walks the graph with a "
    "recursive CTE — blocking losslessness, component labels, and "
    "survivorship arithmetic are all inside the hash gate.",
)
def q_customer_entity_resolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from .operators import strings as _strings
    from .operators.graph import connected_components

    c = load_table(spark, sf_dir, "customer")
    names = c.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    nat = c.select(
        F.col("c_custkey").alias("id"), F.col("c_nationkey").alias("nat")
    )
    pairs = (
        _strings.edit_distance_pairs(
            names, d=1, str_col="name", id_col="id", compute_splits="auto"
        )
        .select("id_a", "id_b")
        .join(nat.withColumnsRenamed({"id": "id_a", "nat": "na"}), "id_a")
        .join(nat.withColumnsRenamed({"id": "id_b", "nat": "nb"}), "id_b")
        .where(F.col("na") == F.col("nb"))
        .select("id_a", "id_b")
    )
    clusters = connected_components(pairs)
    ent = c.join(
        F.broadcast(clusters), c.c_custkey == clusters.node, "left"
    ).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        F.coalesce("comp", "c_custkey").alias("entity_id"),
    )
    return ent.groupBy("entity_id").agg(
        F.count("*").alias("n_members"),
        F.max(
            F.when(F.col("c_custkey") == F.col("entity_id"), F.col("c_name"))
        ).alias("rep_name"),
        F.sum("cents").alias("sum_acctbal_cents"),
    )
