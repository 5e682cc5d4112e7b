"""Embedding similarity search over ``array<float>`` columns.

Vector math is pure higher-order-function column algebra (zip_with +
aggregate) — JVM-side, codegen'd, no Python in the loop. Doubles
throughout (cast from float32 at the edge) so results are deterministic
and oracle-comparable.

Three tiers, matching how ANN is actually scaled:

1. **brute-force top-k** — exact baseline; one pass, no shuffle beyond
   the final top-k (Spark's TakeOrderedAndProject keeps only k rows per
   partition, so the cost is the scan, not a sort).
2. **partition-pruned (IVF-style) top-k** — search only the query's
   coarse cluster. Here the fixture's ``label`` column plays the
   centroid-assignment role; at scale the assignment comes from k-means
   and the table is partitioned/bucketed by it, so the scan prunes to
   1/n_lists of the data before any distance math.
3. **near-dup pairs** — all pairs above a cosine threshold within a
   blocking key (label): the embedding-space analogue of blocked n-gram
   Jaccard; the unblocked case belongs to LSH (random hyperplanes), same
   join shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog import widen_input
from . import resolve_splits


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential dot product: sum-left-to-right of pairwise products —
    the same accumulation order a scalar SQL loop uses, so cross-engine
    comparable to ~1 ulp per element."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against the row with ``id_col == query_id``.

    The query vector is a 1-row broadcast cross join — no shuffle of the
    big side; the top-k is a TakeOrderedAndProject (k rows per partition
    → k global), not a full sort. Deterministic tie-break on id.
    """
    q = df.where(F.col(id_col) == query_id).select(
        as_double(vec_col).alias("qvec")
    )
    base = df.where(F.col(id_col) != query_id).select(
        F.col(id_col), as_double(vec_col).alias("vec")
    )
    sim = base.crossJoin(F.broadcast(q)).select(
        id_col, F.round(cosine(F.col("vec"), F.col("qvec")), 6).alias("cos_sim")
    )
    return sim.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def cosine_topk_partition_pruned(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: restrict the scan to the query's coarse cluster.

    ``list_col`` is the inverted-list assignment (fixture: ``label``; at
    scale: argmin-centroid from k-means, with the table partitioned by
    it so the restriction is partition pruning, not a filter).
    """
    q = df.where(F.col(id_col) == query_id).select(
        as_double(vec_col).alias("qvec"), F.col(list_col).alias("qlist")
    )
    base = df.where(F.col(id_col) != query_id).select(
        F.col(id_col), F.col(list_col), as_double(vec_col).alias("vec")
    )
    sim = (
        base.join(F.broadcast(q), F.col(list_col) == F.col("qlist"))
        .select(
            id_col,
            F.round(cosine(F.col("vec"), F.col("qvec")), 6).alias("cos_sim"),
        )
    )
    return sim.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def quantize(vec: Column | str, scale: int = 100_000) -> Column:
    """Embedding quantized to an integer grid (``round(x*scale)`` per
    element). All k-means arithmetic happens on this grid in exact int64,
    so cluster assignments are bit-identical across engines and partition
    orders — float-sum nondeterminism never enters the control path."""
    return F.transform(as_double(vec), lambda x: F.round(x * scale).cast("long"))


def _dist_pairs(q: Column, centroids: list[list[int]]) -> Column:
    """(squared-distance, cluster-id) struct array against every centroid,
    as ONE ``transform`` loop over a constant-folded centroid MATRIX
    literal. The r14 rewrite: the previous form unrolled k separate
    ``aggregate(zip_with(...))`` folds (k x dim literals each) into the
    plan, and because every Lloyd iteration changes the centroid
    literals, every iteration's stage re-compiled that monster through
    Janino — the kNN decompose measured the 2000-row FIT at ~6.5 s warm,
    dominated by compile time, not arithmetic. One data-driven loop over
    an array<array<long>> literal keeps codegen size independent of k
    while the per-row work stays the same O(k*dim) exact-int64 fold —
    distances, tie-break (lexicographic (d, c), c = array index =
    cluster id) and dtypes (d long, c int) are bit-identical."""
    m = F.array(
        *[F.array(*[F.lit(int(v)) for v in c]) for c in centroids]
    )
    return F.transform(
        m,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(q, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d"),
            i.alias("c"),
        ),
    )


def _assign(q_df: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """argmin over literal centroids; ties break to the smallest cluster id
    via array_min over (dist, cluster) structs (lexicographic order)."""
    pairs = _dist_pairs(F.col("q"), centroids)
    return q_df.select("id", "q", F.array_min(pairs)["c"].alias("cluster"))


def _probe_cells(q_df: DataFrame, centroids: list[list[int]], probes: int) -> DataFrame:
    """The ``probes`` nearest cells per vector (multi-probe IVF): sort the
    (dist, cluster) struct array — exact int64 distances, ties to the
    smaller cluster id — and slice the head. Returns (id, q, probe_cells
    array<int>); element 0 is the home cell, so probes=1 == `_assign`."""
    pairs = _dist_pairs(F.col("q"), centroids)
    ranked = F.slice(F.array_sort(pairs), 1, probes)
    return q_df.select(
        "id", "q", F.transform(ranked, lambda s: s["c"]).alias("probe_cells")
    )


def _round_half_away(x: float) -> int:
    # Spark ROUND / DuckDB round() semantics (half away from zero);
    # Python's built-in round is banker's and would diverge on exact .5
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 100_000,
) -> tuple[DataFrame, list[list[int]]]:
    """Deterministic Lloyd's k-means — the index-build half of IVF.

    Returns ``(quantized, centroids)``: the (id, q) quantized table (lazy,
    no cache held — the training persist is released before returning) and
    the final centroids as driver-side literals (k×dim longs — the only
    data that ever reaches the driver, exactly like MLlib's aggregate
    step). Per iteration: broadcast literal centroids → exact-int argmin →
    driver-side mean update. ``iters`` is therefore a DRIVER-LATENCY
    knob: each iteration launches one sequential Spark job (the data-
    side cost is O(n·k·dim) per pass and fully parallel, but the
    job-scheduling constants add up at small fixture scale — the r4
    bench decomposition measured them at ~37% of the kNN composite).

    Determinism contract (the DuckDB oracle replicates it exactly):
    seed = the k vectors with smallest id, cluster c = rank order;
    centroid update = elementwise ``round(sum/n)`` back onto the integer
    grid (sums are exact int64, the single division is one deterministic
    double op); ties in argmin break to the smallest cluster id.
    """
    q_all = df.select(
        F.col(id_col).alias("id"), quantize(vec_col, scale).alias("q")
    )
    cached = widen_input(q_all, "id").persist()
    try:
        centroids = _fit_centroids(cached, k, iters)
    finally:
        cached.unpersist()
    return q_all, centroids


def _fit_centroids(cached: DataFrame, k: int, iters: int) -> list[list[int]]:
    """Lloyd iterations over an already-persisted (id, q) table — the
    shared core of ``kmeans_fit`` and ``kmeans_index``. The caller owns
    the persist/unpersist; each of the 1 + iters driver jobs here scans
    the cached quantized table, never the source."""
    seed_rows = cached.orderBy("id").limit(k).collect()
    centroids = [list(r.q) for r in seed_rows]

    for _ in range(iters):
        assigned = _assign(cached, centroids)
        stats = (
            assigned.select("cluster", F.posexplode("q").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
        for r in stats:
            by_cluster.setdefault(r.cluster, {})[r.pos] = (r.s, r.n)
        centroids = [
            [
                _round_half_away(sn[pos][0] / sn[pos][1])
                for pos in range(len(centroids[c]))
            ]
            if (sn := by_cluster.get(c))
            else centroids[c]  # empty cluster keeps its previous centroid
            for c in range(k)
        ]
    return centroids


def kmeans_index(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    probes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 100_000,
) -> tuple[DataFrame, DataFrame | None, list[list[int]]]:
    """One-pass IVF index build: fit + home-cell assignment (+ optional
    multi-probe assignment) sharing a single persisted quantized table,
    with the tiny result tables MATERIALIZED (eager ``localCheckpoint``).

    Why this exists: ``kmeans_fit`` returns a LAZY quantized table, so a
    consumer that derives assignments and probe lists separately (e.g.
    ``ann_knn_join``'s two join sides) re-quantizes and re-runs the
    argmin once per subtree — Spark does not dedupe common subplans.
    Here the quantize→argmin work runs exactly once; what persists
    afterwards is only the O(n) id→cell tables (and k×dim centroid
    literals), never vectors. Bit-identical results to the unshared
    path — this changes the plan, not the math.

    Returns ``(assignments, probe_assignments | None, centroids)``.
    """
    q_all = df.select(
        F.col(id_col).alias("id"), quantize(vec_col, scale).alias("q")
    )
    cached = widen_input(q_all, "id").persist()
    try:
        centroids = _fit_centroids(cached, k, iters)
        assign = (
            _assign(cached, centroids)
            .select(F.col("id").alias(id_col), "cluster")
            .localCheckpoint(eager=True)
        )
        probe = None
        if probes is not None:
            probe = (
                _probe_cells(cached, centroids, probes)
                .select(F.col("id").alias(id_col), "probe_cells")
                .localCheckpoint(eager=True)
            )
    finally:
        cached.unpersist()
    return assign, probe, centroids


def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 100_000,
    fit: tuple[DataFrame, list[list[int]]] | None = None,
) -> DataFrame:
    """Home-cell (argmin-centroid) assignment from a deterministic k-means
    fit: the inverted-list id that ``cosine_topk_partition_pruned``
    assumes pre-exists; at scale the table is then partitioned/bucketed
    by it. Pass ``fit`` (a ``kmeans_fit`` result) to reuse one fit
    across assign/probe derivations — the fit is the expensive,
    iterative half, and refitting it per derivation doubles the
    index-build cost for identical centroids."""
    q_all, centroids = fit if fit is not None else kmeans_fit(
        df, k, iters, id_col, vec_col, scale
    )
    return _assign(q_all, centroids).select(F.col("id").alias(id_col), "cluster")


def kmeans_probe_assign(
    df: DataFrame,
    probes: int = 2,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 100_000,
    fit: tuple[DataFrame, list[list[int]]] | None = None,
) -> DataFrame:
    """Multi-probe assignment: each vector's ``probes`` nearest cells
    (element 0 = home cell), for use on the *query* side of an IVF
    search. Raises single-probe IVF's recall ceiling — neighbors that
    fell just across a cell boundary become reachable — at a fan-out
    cost of ×probes on the query side only. ``fit`` as in
    :func:`kmeans_assign`."""
    q_all, centroids = fit if fit is not None else kmeans_fit(
        df, k, iters, id_col, vec_col, scale
    )
    return _probe_cells(q_all, centroids, probes).select(
        F.col("id").alias(id_col), "probe_cells"
    )


def hyperplane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic pseudo-random ±1 hyperplane matrix (md5-derived).

    Computed driver-side with hashlib — engine-independent by
    construction: the same literals are embedded in the Spark plan and in
    the SQL oracle text, so there is nothing to keep in sync."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{j}:{i}".encode()).digest()[0] & 1 else -1
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def embedding_lsh_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 18,
    band_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 100_000,
    dim: int = 64,
) -> DataFrame:
    """UNBLOCKED near-dup pairs via random-hyperplane LSH.

    The scale path ``embedding_near_dup_pairs`` deliberately defers to:
    no blocking column, no O(n²) join. Each vector gets an ``n_planes``-bit
    sketch (bit j = sign of the dot product with hyperplane j); sketches
    are banded and candidates share a full band, then verified with exact
    cosine. Standard SimHash-for-cosine recall semantics: a pair at angle
    θ matches one band with prob (1-θ/π)^band_bits.

    Dot products run on the integer-quantized grid (exact int64, order
    independent), so sketch bits — the control path — are bit-identical
    across engines; only the verify cosine is float, and it is rounded.

    Shuffle discipline (the 100 TB path): band rows are (id, band, bv)
    ONLY — three scalars, never the vector — so the candidate join ships
    n_bands narrow rows per vector. Candidate id-pairs are ``distinct``ed
    BEFORE any float math (a pair may collide in several bands), then the
    verify cosine re-joins a persisted (id, vec) table twice: the wide
    vectors move once into the verify hash join, not through the banded
    explode, and cosine runs once per unique pair.
    """
    signs = hyperplane_signs(n_planes, dim)
    n_bands = n_planes // band_bits
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.repartition(par).select(
        F.col(id_col).alias("id"),
        as_double(vec_col).alias("vec"),
        quantize(vec_col, scale).alias("q"),
    )
    vecs = base.select("id", "vec").persist()

    def plane_bit(row: list[int]) -> Column:
        dot_q = F.aggregate(
            F.zip_with(
                F.col("q"),
                F.array(*[F.lit(s) for s in row]),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return (dot_q > 0).cast("int")

    sketch = sum(
        (plane_bit(row) * F.lit(1 << j) for j, row in enumerate(signs)),
        F.lit(0),
    )
    sk = base.select("id", sketch.alias("sketch"))
    bands = sk.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sketch"), band_bits * b)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("bv"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("c"),
    ).select("id", F.col("c.band").alias("band"), F.col("c.bv").alias("bv"))
    l, r = bands.alias("l"), bands.alias("r")
    candidates = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()  # a pair may collide in several bands — dedupe pre-verify
    )
    va = vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    compute_splits: int | str | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold within a blocking key.

    ``compute_splits``: same knob (and trap) as :func:`ann_knn_join` —
    with few blocks, AQE's byte-based coalescing can serialize the
    quadratic pair stage onto one task; S salts the left side per block
    and replicates the right ×S for an identical pair set on blocks×S
    evenly sized tasks. Use when #blocks < cores; leave None at scale.
    ``"auto"`` derives S from the session's parallelism (r14 ask #5).
    """
    compute_splits = resolve_splits(df, compute_splits)
    # Norms are per-vector, not per-pair: computing them before the join
    # turns 3 array folds per joined row (dot + two norms) into 1 — the
    # pair stage is the quadratic one, so this is a ~3× compute cut with
    # bit-identical results (same IEEE ops, factored per row).
    base = df.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        as_double(vec_col).alias("vec"),
    ).withColumn("nrm", norm(F.col("vec")))
    join_on = (F.col("l.blk") == F.col("r.blk")) & (
        F.col("l.id") < F.col("r.id")
    )
    left = right = base
    if compute_splits is not None and compute_splits > 1:
        s = F.lit(compute_splits)
        # explicit user repartition on the (block, salt) join keys: the
        # join reuses this exact partitioning with no further exchange,
        # and AQE's byte-based coalescing leaves user repartitions alone
        # (a salted shuffle WITHOUT the explicit width still collapses
        # to one task at small byte sizes)
        left = base.withColumn(
            "_cs", F.pmod(F.hash(F.col("id")), s)
        ).repartition(compute_splits * 4, "blk", "_cs")
        right = base.withColumn(
            "_cs", F.explode(F.sequence(F.lit(0), s - F.lit(1)))
        ).repartition(compute_splits * 4, "blk", "_cs")
        join_on = join_on & (F.col("l._cs") == F.col("r._cs"))
    l, r = left.alias("l"), right.alias("r")
    return (
        l.join(r, join_on)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(
                dot(F.col("l.vec"), F.col("r.vec"))
                / (F.col("l.nrm") * F.col("r.nrm")),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def _collapsed_candidates(
    df: DataFrame,
    assignments: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    cell_col: str,
    probe_assignments: DataFrame | None,
    probe_col: str,
    compute_splits: int | None = None,
) -> DataFrame:
    """Duplicate-collapsed candidate generation for :func:`ann_knn_join` —
    the hot-cell skew bound (r3 VERDICT #4). A cell dominated by repeated
    embeddings degrades the naive per-cell self-join to |cell|² even
    though it holds few DISTINCT vectors (k-means re-splitting cannot
    help: identical vectors land in the same sub-cell again). Collapse is
    exact for cosine — identical vectors have identical sims — so the
    pair join runs over one representative per (cell, vector) group:
    Σ|distinct(cell)|² instead of Σ|cell|².

    Expansion back to member level is bounded by construction, three
    nested (k+1) caps:
      * per neighbor group, only the k+1 smallest member ids can rank
        (co-group members tie on sim; ties break by id asc);
      * per (query-group, rounded-sim) tier, only the k+1 groups with the
        smallest minimum id can contribute (any later group is beaten by
        at least k ids even after self-exclusion);
      * per query group, only tiers with < k+1 strictly-better candidate
        mass survive (≤ k+1 tiers, since every tier holds ≥ 1 candidate).
    So the expansion emits ≤ (k+1)³ rows per query member — O(n·k³) total
    — and the final exact window re-ranks them identically to the naive
    path (same rounded sims, same id tiebreak). Returns the expanded
    (query_id, neighbor_id, cos_sim) candidate table, superset of the
    true top-k, self-pairs already excluded."""
    from pyspark.sql.window import Window

    # Group key = md5 digest of the exact decimal rendering, not the
    # array itself: array-keyed aggregation falls out of whole-stage
    # codegen and shuffles dim×8 B keys; the digest keeps the groupBy
    # vectorized and the exchange narrow (same exact-digest discipline
    # as the text dedup family). The representative vector rides along
    # via first() — all group members are identical by construction.
    vkey = F.md5(F.concat_ws(",", as_double(vec_col).cast("array<string>")))
    with_cell = df.join(assignments, id_col).select(
        F.col(id_col),
        F.col(cell_col),
        as_double(vec_col).alias("vec"),
        vkey.alias("vkey"),
    )
    ngroups = (
        with_cell.groupBy(cell_col, "vkey")
        .agg(
            F.array_sort(F.collect_list(id_col)).alias("members"),
            F.count("*").alias("n_size"),
            F.first("vec").alias("vec"),
        )
        .select(
            cell_col,
            "vkey",
            "vec",
            # per-group norm, hoisted out of the quadratic pair stage
            norm(F.col("vec")).alias("nrm"),
            F.slice("members", 1, k + 1).alias("n_head"),
            "members",
            "n_size",
        )
    )
    if probe_assignments is not None:
        qgroups = (
            df.join(probe_assignments, id_col)
            .select(
                F.col(id_col),
                F.explode(probe_col).alias(cell_col),
                as_double(vec_col).alias("vec"),
                vkey.alias("vkey"),
            )
            .groupBy(cell_col, "vkey")
            .agg(
                F.array_sort(F.collect_list(id_col)).alias("q_members"),
                F.first("vec").alias("vec"),
            )
            .select(
                cell_col,
                "vec",
                norm(F.col("vec")).alias("nrm"),
                F.element_at("q_members", 1).alias("q_rep"),
                "q_members",
            )
        )
    else:
        # single-probe: query groups ARE the neighbor groups — reuse the
        # one grouped table instead of re-aggregating the corpus
        qgroups = ngroups.select(
            cell_col,
            "vec",
            "nrm",
            F.element_at("members", 1).alias("q_rep"),
            F.col("members").alias("q_members"),
        )
    ngroups = ngroups.drop("members", "vkey")
    join_on = F.col(f"l.{cell_col}") == F.col(f"r.{cell_col}")
    if compute_splits is not None and compute_splits > 1:
        # same salt as ann_knn_join's naive path (r14 — this path had
        # none): the grouped pair stage is quadratic in rows but tiny
        # in bytes, so AQE's byte-based coalescing lumps the whole
        # Σ|distinct(cell)|² dot-product stage onto one task when cells
        # are few; the explicit user repartition on (cell, salt) spreads
        # it and the join reuses the layout. Each (query-group,
        # neighbor-group) pair still meets exactly once — at the query
        # group's salt — so the candidate set is unchanged.
        s = F.lit(compute_splits)
        qgroups = qgroups.withColumn(
            "_cs", F.pmod(F.hash(F.col("q_rep")), s)
        ).repartition(compute_splits * 2, cell_col, "_cs")
        ngroups = ngroups.withColumn(
            "_cs", F.explode(F.sequence(F.lit(0), s - F.lit(1)))
        ).repartition(compute_splits * 2, cell_col, "_cs")
        join_on = join_on & (F.col("l._cs") == F.col("r._cs"))
    pairs = (
        qgroups.alias("l")
        .join(ngroups.alias("r"), join_on)
        .select(
            F.col("l.q_rep").alias("q_rep"),
            F.col("l.q_members").alias("q_members"),
            F.col("r.n_head").alias("n_head"),
            F.col("r.n_size").alias("n_size"),
            F.element_at(F.col("r.n_head"), 1).alias("min_nid"),
            F.round(
                dot(F.col("l.vec"), F.col("r.vec"))
                / (F.col("l.nrm") * F.col("r.nrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    # Both caps in ONE window pass over the pair table — one exchange on
    # q_rep, one sort (the rank ordering's prefix satisfies the range
    # frames' ordering), no tier aggregate and no join-back:
    #  * strict-better mass = range(≥ current sim) minus the peer tier
    #    (range frames over DESC sim: "preceding" = higher sims);
    #  * within-tier rank by min member id = row_number minus the count
    #    of strictly-better rows.
    # Full (uncapped) masses make the tier cutoff at worst MORE eager
    # than the capped form, and remain safe: whenever strict mass ≥ k+1,
    # at least k+1 capped candidates also precede (each better tier
    # keeps ≤ k+1 groups of ≤ k+1 head ids, but min(mass, k+1) of them
    # always survive both caps).
    w_rank = Window.partitionBy("q_rep").orderBy(
        F.desc("cos_sim"), F.asc("min_nid")
    )
    w_le = (
        Window.partitionBy("q_rep")
        .orderBy(F.desc("cos_sim"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_peer = (
        Window.partitionBy("q_rep")
        .orderBy(F.desc("cos_sim"))
        .rangeBetween(Window.currentRow, Window.currentRow)
    )
    strict_mass = F.sum("n_size").over(w_le) - F.sum("n_size").over(w_peer)
    tier_rank = F.row_number().over(w_rank) - (
        F.count("*").over(w_le) - F.count("*").over(w_peer)
    )
    return (
        pairs.withColumn("keep", (strict_mass < k + 1) & (tier_rank <= k + 1))
        .where(F.col("keep"))
        .select("q_members", "cos_sim", F.explode("n_head").alias("neighbor_id"))
        .select(
            F.explode("q_members").alias("query_id"), "neighbor_id", "cos_sim"
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
    )


def ann_knn_join(
    df: DataFrame,
    assignments: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cluster",
    probe_assignments: DataFrame | None = None,
    probe_col: str = "probe_cells",
    collapse_duplicates: bool = False,
    compute_splits: int | str | None = None,
) -> DataFrame:
    """Batch kNN self-join: every vector's top-k neighbors, searched
    within its IVF cell — the corpus-wide form of similarity search
    (curation, near-dup sweep, retrieval-index build), not the single
    probe ``cosine_topk`` answers.

    Scale shape: the self-join is an equi-join on the cell id, so the
    cost is Σ|cell|² instead of n² — the k-means balance determines the
    exponent's constant, exactly like blocked dedup. One cell shuffle,
    then a per-query window top-k (shuffle on the query id); no global
    sort, nothing collected.

    Recall: single-probe IVF cannot see neighbors across a cell boundary.
    Pass ``probe_assignments`` (from :func:`kmeans_probe_assign`: id →
    array of the q nearest cells) and the *query* side explodes its probe
    cells while the neighbor side stays on its unique home cell — same
    equi-join plan, query-side fan-out ×probes, and each (query,
    neighbor) pair still appears at most once (a neighbor has one home
    cell and probe cells are distinct), so no dedupe pass is needed.

    Skew: with ``collapse_duplicates=True`` the candidate join runs over
    one representative per (cell, distinct vector) — exact for cosine —
    so a hot cell of repeated embeddings costs Σ|distinct|² + O(n·k³)
    instead of |cell|² (see :func:`_collapsed_candidates`). Results are
    identical either way; the flag only changes the plan. Hot cells of
    DISTINCT vectors (a genuinely dense region) remain Σ|cell|² and are
    AQE-skew-split; that residual is inherent to IVF blocking.

    Parallelism: the pair stage's work is QUADRATIC in rows but its
    shuffle is small in BYTES, so AQE (which coalesces by bytes) can
    lump a compute-heavy cell join into one task — with few cells the
    whole Σ|cell|² runs on one core. ``compute_splits=S`` salts the
    query side S ways per cell and replicates the neighbor side ×S
    (identical pair set — each pair meets exactly once, at the query
    row's salt), turning the stage into cells×S evenly sized tasks.
    Set it when #cells < cores (the r4→r5 bench fix: 8 cells on a
    32-core runner); leave None at scale, where thousands of cells give
    natural parallelism and ×S neighbor replication would be pure cost.
    ``"auto"`` derives S from the session's own parallelism — the
    right width for the few-cells regime on any box (r14 ask #5).
    """
    from pyspark.sql.window import Window

    compute_splits = resolve_splits(df, compute_splits)

    if collapse_duplicates:
        sims = _collapsed_candidates(
            df, assignments, k, id_col, vec_col, cell_col,
            probe_assignments, probe_col, compute_splits,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos_sim"), F.asc("neighbor_id")
        )
        return (
            sims.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank")
        )

    # per-vector norms hoisted out of the quadratic pair stage (one fold
    # per joined row instead of three; bit-identical factoring)
    with_cell = df.join(assignments, id_col).select(
        F.col(id_col), F.col(cell_col), as_double(vec_col).alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))
    if probe_assignments is not None:
        query_side = (
            df.join(probe_assignments, id_col)
            .select(
                F.col(id_col),
                F.explode(probe_col).alias(cell_col),
                as_double(vec_col).alias("vec"),
            )
            .withColumn("nrm", norm(F.col("vec")))
        )
    else:
        query_side = with_cell
    join_on = (F.col(f"l.{cell_col}") == F.col(f"r.{cell_col}")) & (
        F.col(f"l.{id_col}") != F.col(f"r.{id_col}")
    )
    neighbor_side = with_cell
    if compute_splits is not None and compute_splits > 1:
        s = F.lit(compute_splits)
        # explicit user repartition on the (cell, salt) join keys — the
        # join reuses it with no further exchange, and AQE's byte-based
        # coalescing (which can still lump a salted-but-tiny shuffle
        # back onto few tasks) leaves user repartitions alone
        query_side = query_side.withColumn(
            "_cs", F.pmod(F.hash(F.col(id_col)), s)
        ).repartition(compute_splits * 2, cell_col, "_cs")
        neighbor_side = with_cell.withColumn(
            "_cs", F.explode(F.sequence(F.lit(0), s - F.lit(1)))
        ).repartition(compute_splits * 2, cell_col, "_cs")
        join_on = join_on & (F.col("l._cs") == F.col("r._cs"))
    l, r = query_side.alias("l"), neighbor_side.alias("r")
    sims = (
        l.join(r, join_on)
        .select(
            F.col(f"l.{id_col}").alias("query_id"),
            F.col(f"r.{id_col}").alias("neighbor_id"),
            F.round(
                dot(F.col("l.vec"), F.col("r.vec"))
                / (F.col("l.nrm") * F.col("r.nrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ann_multiprobe_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    probes: int = 2,
    n_cells: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 100_000,
) -> DataFrame:
    """Single-query IVF ANN with multi-probe: fit the deterministic
    k-means index, restrict the scan to the query's ``probes`` nearest
    cells (not just its home cell), exact cosine top-k inside the union.

    The probe set is a ``probes``-row broadcast, so the plan is the same
    pruned scan as single-probe IVF with a wider partition-pruning
    predicate — recall rises toward exact as probes → n_cells while the
    scanned fraction stays ~probes/n_cells.
    """
    q_all, centroids = kmeans_fit(df, n_cells, iters, id_col, vec_col, scale)
    home = _assign(q_all, centroids).select(
        F.col("id").alias("nid"), F.col("cluster")
    )
    qcells = (
        _probe_cells(q_all.where(F.col("id") == query_id), centroids, probes)
        .select(F.explode("probe_cells").alias("cluster"))
    )
    qvec = df.where(F.col(id_col) == query_id).select(
        as_double(vec_col).alias("qvec")
    )
    base = (
        df.where(F.col(id_col) != query_id)
        .select(F.col(id_col), as_double(vec_col).alias("vec"))
        .join(home, F.col(id_col) == F.col("nid"))
        .join(F.broadcast(qcells), "cluster")
    )
    sim = base.crossJoin(F.broadcast(qvec)).select(
        id_col, F.round(cosine(F.col("vec"), F.col("qvec")), 6).alias("cos_sim")
    )
    return sim.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def semdedup(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 100_000,
    compute_splits: int | str | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and pruning within-cluster
    near-duplicates. Returns ``(id_col, cluster, kept)`` for every input
    row: ``kept`` is false for docs whose embedding is cosine-similar
    (>= threshold) to a lower-id doc in the same k-means cell.

    Published algorithm, published trade-off: pairs that straddle a cell
    boundary are never compared — that loss is what makes the pair join
    Σ|cell|² instead of corpus-quadratic, and at 100 TB the cells are the
    unit of parallelism (each cell's pair join is one shuffle partition;
    no cross-cell traffic at all). Determinism matches the rest of the
    ANN family: quantized integer-grid k-means (``kmeans_fit``'s contract)
    and ``ROUND(cos, 6)`` threshold compares, so a DuckDB replay is
    bit-identical. Within a cell, the keeper is the min-id member of each
    connected near-dup component (same survivor rule as the MinHash
    pipeline), not SemDeDup's random choice — reproducibility over an
    arbitrary tie-break.

    Hot-cell guard: a cell of duplicated embeddings degrades the pair
    join quadratically; the duplicate-collapse rewrite used by
    ``ann_knn_join(collapse_duplicates=True)`` applies unchanged (join
    distinct vectors per cell, re-expand members afterward) — identical
    vectors are cos=1 pairs whose members all drop to the min-id rep.
    """
    from .graph import connected_components

    compute_splits = resolve_splits(df, compute_splits)
    q_all, centroids = kmeans_fit(df, k, iters, id_col, vec_col, scale)
    cells = _assign(q_all, centroids).select("id", "cluster")
    base = (
        df.select(F.col(id_col).alias("id"), as_double(vec_col).alias("vec"))
        .join(cells, "id")
        # norms hoisted out of the quadratic pair stage: one fold per
        # joined row instead of three, bit-identical factoring
        .withColumn("nrm", norm(F.col("vec")))
        .persist()
    )
    try:
        lhs, rhs = base, base
        join_on = (F.col("l.cluster") == F.col("r.cluster")) & (
            F.col("l.id") < F.col("r.id")
        )
        if compute_splits is not None and compute_splits > 1:
            # same task-layout salt as ann_knn_join's pair stage (r14 —
            # this self-join had none, so AQE's byte-based coalescing
            # serialized the Σ|cell|² dot-product stage when cells are
            # few); each unordered pair still meets exactly once, at
            # the left row's salt, so the verified pair set is unchanged
            s = F.lit(compute_splits)
            lhs = base.withColumn(
                "_cs", F.pmod(F.hash(F.col("id")), s)
            ).repartition(compute_splits * 2, "cluster", "_cs")
            rhs = base.withColumn(
                "_cs", F.explode(F.sequence(F.lit(0), s - F.lit(1)))
            ).repartition(compute_splits * 2, "cluster", "_cs")
            join_on = join_on & (F.col("l._cs") == F.col("r._cs"))
        l, r = lhs.alias("l"), rhs.alias("r")
        pairs = (
            l.join(r, join_on)
            .where(
                F.round(
                    dot(F.col("l.vec"), F.col("r.vec"))
                    / (F.col("l.nrm") * F.col("r.nrm")),
                    6,
                )
                >= threshold
            )
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        )
        dropped = (
            connected_components(pairs)
            .where(F.col("comp") != F.col("node"))
            .select(F.col("node").alias("id"), F.lit(True).alias("is_dup"))
        )
        return (
            base.select("id", "cluster")
            .join(dropped, "id", "left")
            .select(
                F.col("id").alias(id_col),
                "cluster",
                F.col("is_dup").isNull().alias("kept"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        base.unpersist()


def pq_fit_encode(
    df: DataFrame,
    dim: int,
    m: int = 4,
    k_sub: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 100_000,
) -> tuple[DataFrame, list[list[list[int]]]]:
    """Product quantization (Jégou et al. 2011, TPAMI — "Product
    quantization for nearest neighbor search"): split each vector into
    ``m`` subvectors, run the deterministic integer-grid k-means per
    subspace, and encode every vector as its per-subspace nearest-centroid
    ids. Returns ``(codes, codebooks)``: codes is (id, c0..c{m-1}) — the
    m-byte compressed representation — and codebooks is the m×k_sub×(dim/m)
    centroid tensor as driver literals (the only data that leaves the
    executors, exactly like ``kmeans_fit``).

    At 100 TB this is the memory story for ANN: 64-dim float vectors are
    256 B; m=4 byte codes are 4 B — a 64× compression that lets a
    billion-vector index fit where raw vectors cannot, with search
    reading ONLY the codes column (the raw embedding column is pruned
    from the scan). Training cost is m small k-means fits; encoding is
    one narrow map per subspace joined on id.

    Determinism: subspace slicing commutes with quantization
    (both elementwise), so every subspace fit inherits ``kmeans_fit``'s
    bit-exact contract and a DuckDB oracle replays codes exactly.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    from pyspark.sql.window import Window

    sub_len = dim // m
    # All m subspace fits FUSED into one long-form table: (id, s, q) with
    # one row per (vector, subspace). Seeds, per-iteration statistics,
    # and the final encode each become ONE job over the cached table —
    # 1 + iters + 1 driver round trips total, vs m·(iters + 2) for m
    # sequential kmeans_fit calls — while every subspace's arithmetic is
    # unchanged (seed = k_sub min-id subvectors, exact-int argmin with
    # min-cluster tie-break, round-half-away centroid updates), so the
    # per-subspace oracle CTEs replay this bit-for-bit.
    q_full = df.select(
        F.col(id_col).alias("id"), quantize(vec_col, scale).alias("qv")
    )
    long = q_full.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("qv", s * sub_len + 1, sub_len).alias("q"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("x"),
    ).select("id", F.col("x.s").alias("s"), F.col("x.q").alias("q"))
    long = widen_input(long, "s", "id").persist()
    try:
        w = Window.partitionBy("s").orderBy("id")
        seed_rows = (
            long.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k_sub)
            .select("s", "rn", "q")
            .collect()
        )
        codebooks: list[list[list[int]]] = [[None] * k_sub for _ in range(m)]
        for r in seed_rows:
            codebooks[r.s][r.rn - 1] = list(r.q)

        def assign_expr(books):
            # per-subspace argmin over that subspace's literal centroids,
            # selected by the row's s tag (same tie-break as _assign).
            # r14: the codebooks ride as ONE constant-folded
            # m x k_sub x sub_len literal tensor indexed by s, and the
            # argmin is a transform loop over the selected codebook —
            # the previous form unrolled m*k_sub aggregate(zip_with)
            # folds whose codegen Janino recompiled per Lloyd iteration
            # (the same compile-bound fit the kNN decompose measured on
            # _assign); distances, tie-break (lexicographic (d, c),
            # c = array index) and dtypes are bit-identical.
            tensor = F.array(
                *[
                    F.array(
                        *[
                            F.array(*[F.lit(int(v)) for v in cb])
                            for cb in books[s]
                        ]
                    )
                    for s in range(m)
                ]
            )
            cbs = F.element_at(tensor, (F.col("s") + 1).cast("int"))
            pairs = F.transform(
                cbs,
                lambda c, i: F.struct(
                    F.aggregate(
                        F.zip_with(F.col("q"), c, lambda a, b: (a - b) * (a - b)),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    i.alias("c"),
                ),
            )
            return F.array_min(pairs)["c"]

        for _ in range(iters):
            assigned = long.select(
                "s", "q", assign_expr(codebooks).alias("cluster")
            )
            stats = (
                assigned.select(
                    "s", "cluster", F.posexplode("q").alias("pos", "val")
                )
                .groupBy("s", "cluster", "pos")
                .agg(F.sum("val").alias("sv"), F.count("*").alias("n"))
                .collect()
            )
            by_key: dict = {}
            for r in stats:
                by_key.setdefault((r.s, r.cluster), {})[r.pos] = (r.sv, r.n)
            codebooks = [
                [
                    [
                        _round_half_away(sn[pos][0] / sn[pos][1])
                        for pos in range(sub_len)
                    ]
                    if (sn := by_key.get((s, c)))
                    else codebooks[s][c]
                    for c in range(k_sub)
                ]
                for s in range(m)
            ]
        # final encode: one pass, pivoted wide via conditional max (the
        # values are disjoint per s, so max(when) is exact selection)
        coded = long.select("id", "s", assign_expr(codebooks).alias("cluster"))
        codes = coded.groupBy("id").agg(
            *[
                F.max(F.when(F.col("s") == s, F.col("cluster"))).alias(f"c{s}")
                for s in range(m)
            ]
        )
        # the long table feeds nothing after this plan is handed back, but
        # the caller will trigger it — checkpoint so unpersist is safe
        codes = codes.localCheckpoint(eager=True)
    finally:
        long.unpersist()
    return codes, codebooks


def pq_adc_topk(
    df: DataFrame,
    query_id: int,
    dim: int,
    k: int = 10,
    m: int = 4,
    k_sub: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 100_000,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    un-quantized; per subspace a k_sub-entry lookup table of exact int64
    squared distances from the query subvector to each centroid is
    precomputed, and a base vector's approximate distance is the SUM of
    its m table lookups — no per-row vector math at all.

    The scan reads only the m small code columns (raw embeddings pruned),
    the LUTs ride the plan as literal arrays (m×k_sub ints — not even a
    broadcast), and the result is a TakeOrderedAndProject over one narrow
    projection: the compressed-domain search loop of every production PQ
    system (FAISS IVFADC), minus the IVF cell pruning which composes
    orthogonally via ``kmeans_assign``. Ties break on (distance, id).
    """
    codes, codebooks = pq_fit_encode(
        df, dim, m, k_sub, iters, id_col, vec_col, scale
    )
    adc = _adc_dist_expr(df, codebooks, query_id, dim, m, id_col, vec_col, scale)
    return (
        codes.where(F.col("id") != query_id)
        .select(F.col("id").alias(id_col), adc.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def _adc_dist_expr(
    df: DataFrame,
    codebooks: list,
    query_id: int,
    dim: int,
    m: int,
    id_col: str,
    vec_col: str,
    scale: int,
    qv: list[int] | None = None,
) -> Column:
    """Query-side ADC machinery shared by ``pq_adc_topk`` and
    ``ivfadc_topk`` (one copy, so a change to the lookup cast or tie
    handling cannot silently diverge the two search paths): fetch the
    quantized query vector, build the m per-subspace LUTs of exact
    int64 squared distances, and return the summed m-lookup distance
    Column over the code columns c0..c{m-1}. Pass ``qv`` (the already
    quantized query vector) to skip the fetch job — ivfadc's fused fit
    piggybacks it on the seeds collect."""
    sub_len = dim // m
    if qv is None:
        qrow = (
            df.where(F.col(id_col) == query_id)
            .select(quantize(vec_col, scale).alias("q"))
            .first()
        )
        if qrow is None:
            raise ValueError(f"query id {query_id} not found")
        qv = list(qrow.q)
    adc = None
    for s in range(m):
        q_sub = qv[s * sub_len : (s + 1) * sub_len]
        lut = [
            sum((a - b) * (a - b) for a, b in zip(q_sub, cent))
            for cent in codebooks[s]
        ]
        term = F.element_at(
            F.array(*[F.lit(int(d)) for d in lut]),
            (F.col(f"c{s}") + 1).cast("int"),
        )
        adc = term if adc is None else adc + term
    return adc


def _ivfadc_fused_fit(
    df: DataFrame,
    dim: int,
    n_cells: int,
    m: int,
    k_sub: int,
    iters: int,
    id_col: str,
    vec_col: str,
    scale: int,
    query_id: int | None = None,
) -> tuple[DataFrame, list[list[list[int]]], list[int] | None]:
    """The coarse IVF fit and the m PQ subspace fits fused into ONE
    driver-job chain (r14 verdict ask #3: ivfadc ran kmeans_fit then
    pq_fit_encode back to back — two persisted tables and two
    sequential 1+iters collect chains for fits over the SAME corpus).

    One long-form table holds every fit's training rows, tagged by
    subspace: s = -1 is the full quantized vector (the coarse fit's
    input), s = 0..m-1 the PQ subvectors — exactly ``pq_fit_encode``'s
    fusion idea extended one level up. Seeds (one window job),
    per-iteration statistics (one aggregate), and the final
    assign+encode (one pass, pivoted wide) each serve BOTH quantizers,
    so the driver chain is 1 + iters + 1 jobs total instead of
    (1 + iters) + (1 + iters + 1). Per-fit arithmetic is unchanged —
    same min-id seeds per s partition, same exact-int argmin with the
    (d, c) lexicographic tie-break, same round-half-away centroid
    update — so every value is bit-identical to the sequential fits
    and the per-fit oracle CTEs replay it exactly (pinned in
    tests/test_round15.py against the unfused pair).

    Returns ``(wide, codebooks, qv)``: wide = (id, cell, c0..c{m-1}) —
    the coarse cell and the PQ code per vector, eagerly checkpointed —
    the PQ codebook tensor as driver literals, and (when ``query_id``
    is given) the query's quantized full vector, piggybacked on the
    seeds collect so the ADC LUT build needs no separate scan job."""
    from pyspark.sql.window import Window

    sub_len = dim // m
    q_full = df.select(
        F.col(id_col).alias("id"), quantize(vec_col, scale).alias("qv")
    )
    long = q_full.select(
        "id",
        F.explode(
            F.array(
                F.struct(F.lit(-1).alias("s"), F.col("qv").alias("q")),
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("qv", s * sub_len + 1, sub_len).alias("q"),
                    )
                    for s in range(m)
                ],
            )
        ).alias("x"),
    ).select("id", F.col("x.s").alias("s"), F.col("x.q").alias("q"))
    long = widen_input(long, "s", "id").persist()
    try:
        w = Window.partitionBy("s").orderBy("id")
        kmax = max(n_cells, k_sub)
        keep = F.col("rn") <= kmax
        if query_id is not None:
            keep = keep | (
                (F.col("s") == -1) & (F.col("id") == query_id)
            )
        seed_rows = (
            long.withColumn("rn", F.row_number().over(w))
            .where(keep)
            .select("id", "s", "rn", "q")
            .collect()
        )
        coarse: list[list[int]] = [None] * n_cells
        codebooks: list[list[list[int]]] = [[None] * k_sub for _ in range(m)]
        qv: list[int] | None = None
        for r in seed_rows:
            if query_id is not None and r.s == -1 and r.id == query_id:
                qv = list(r.q)
            if r.rn > kmax:
                continue
            if r.s == -1:
                if r.rn <= n_cells:
                    coarse[r.rn - 1] = list(r.q)
            elif r.rn <= k_sub:
                codebooks[r.s][r.rn - 1] = list(r.q)
        if query_id is not None and qv is None:
            raise ValueError(f"query id {query_id} not found")

        def assign_expr(coarse_b, books):
            # one ragged literal tensor: index 1 = the coarse codebook
            # (dim-long rows), 2..m+1 the subspace codebooks — selected
            # by the row's s tag; argmin identical to _dist_pairs
            tensor = F.array(
                F.array(
                    *[F.array(*[F.lit(int(v)) for v in cb]) for cb in coarse_b]
                ),
                *[
                    F.array(
                        *[
                            F.array(*[F.lit(int(v)) for v in cb])
                            for cb in books[s]
                        ]
                    )
                    for s in range(m)
                ],
            )
            cbs = F.element_at(tensor, (F.col("s") + 2).cast("int"))
            pairs = F.transform(
                cbs,
                lambda c, i: F.struct(
                    F.aggregate(
                        F.zip_with(F.col("q"), c, lambda a, b: (a - b) * (a - b)),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    i.alias("c"),
                ),
            )
            return F.array_min(pairs)["c"]

        for _ in range(iters):
            assigned = long.select(
                "s", "q", assign_expr(coarse, codebooks).alias("cluster")
            )
            stats = (
                assigned.select(
                    "s", "cluster", F.posexplode("q").alias("pos", "val")
                )
                .groupBy("s", "cluster", "pos")
                .agg(F.sum("val").alias("sv"), F.count("*").alias("n"))
                .collect()
            )
            by_key: dict = {}
            for r in stats:
                by_key.setdefault((r.s, r.cluster), {})[r.pos] = (r.sv, r.n)
            coarse = [
                [
                    _round_half_away(sn[pos][0] / sn[pos][1])
                    for pos in range(dim)
                ]
                if (sn := by_key.get((-1, c)))
                else coarse[c]
                for c in range(n_cells)
            ]
            codebooks = [
                [
                    [
                        _round_half_away(sn[pos][0] / sn[pos][1])
                        for pos in range(sub_len)
                    ]
                    if (sn := by_key.get((s, c)))
                    else codebooks[s][c]
                    for c in range(k_sub)
                ]
                for s in range(m)
            ]
        final = long.select(
            "id", "s", assign_expr(coarse, codebooks).alias("cluster")
        )
        wide = (
            final.groupBy("id")
            .agg(
                F.max(F.when(F.col("s") == -1, F.col("cluster"))).alias(
                    "cell"
                ),
                *[
                    F.max(F.when(F.col("s") == s, F.col("cluster"))).alias(
                        f"c{s}"
                    )
                    for s in range(m)
                ],
            )
            .localCheckpoint(eager=True)
        )
    finally:
        long.unpersist()
    return wide, codebooks, qv


def ivfadc_topk(
    df: DataFrame,
    query_id: int,
    dim: int,
    k: int = 10,
    n_cells: int = 8,
    m: int = 4,
    k_sub: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 100_000,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §IV; the FAISS IVFADC index): coarse
    IVF cell pruning composed with PQ asymmetric-distance ranking — the
    two-level structure every billion-scale ANN deployment runs. The
    coarse k-means restricts the scan to ~1/n_cells of the corpus; ADC
    then ranks the survivors with m LUT lookups per row, reading only
    the code columns.

    Simplification vs the paper: PQ codebooks are trained on raw
    vectors, not per-cell residuals (residual training couples the two
    quantizers; raw-vector PQ keeps both layers independently
    deterministic and oracle-replayable — the recall delta is the
    published residual-vs-raw gap, not a correctness issue).

    At scale: cells map to partitions of a codes table bucketed by
    ``cluster``, so the candidate fetch is partition pruning, the ADC
    pass is a narrow projection, and the top-k is TakeOrderedAndProject
    — no stage shuffles anything wider than k rows.

    r15 (guide §2.1 fewer jobs): the coarse and PQ fits run as ONE
    fused driver-job chain over one persisted long-form table
    (:func:`_ivfadc_fused_fit` — 1 + iters + 1 collects instead of two
    back-to-back 1+iters chains plus a separate encode), and the cell
    filter is a predicate on the fused (id, cell, codes) table rather
    than a join of two separately derived frames. Bit-identical
    results; only the job chain shrank.
    """
    wide, codebooks, qv = _ivfadc_fused_fit(
        df, dim, n_cells, m, k_sub, iters, id_col, vec_col, scale,
        query_id=query_id,
    )
    qcell = wide.where(F.col("id") == query_id).select(
        F.col("cell").alias("qc")
    )
    adc = _adc_dist_expr(
        df, codebooks, query_id, dim, m, id_col, vec_col, scale, qv=qv
    )
    return (
        wide.join(F.broadcast(qcell), wide["cell"] == qcell["qc"])
        .where(F.col("id") != query_id)
        .select(F.col("id").alias(id_col), adc.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def ivf_incremental_ingest(
    batch: DataFrame,
    path: str,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 100_000,
) -> DataFrame:
    """Sink-is-the-state IVF index maintenance — the ANN twin of
    ``dedup.neardup_merge_batch``: the FIRST batch fits the coarse
    quantizer (deterministic ``kmeans_fit``) and creates the sink; every
    later batch reads the frozen centroids back (k x dim longs — the
    bounded collect the fit itself already does), assigns its vectors to
    the existing cells, and APPENDS. That is how production IVF indexes
    grow: assignment is incremental and cheap, the quantizer is refit
    rarely and out-of-band. Returns the full (vec_id, cluster) table
    after the merge.

    Sink layout: ``{path}/assign`` (vec_id, cluster — appended per
    batch) and ``{path}/centroids`` (cluster, m — written ONCE, after
    the first batch's assignments). Write order makes the half-written
    state unambiguous: assignments-without-centroids means a crash
    landed between the two first-batch writes, and the ingest fails
    loudly rather than refitting on a later batch (which would silently
    mix two quantizers in one index). Centroids are a pure k x dim
    table, so recovery is re-running the first ingest after clearing
    the sink.

    Scale shape: per-batch cost is one quantize projection + one
    argmin over k literal centroids + one id-projected anti-join
    against the sink (the replay-idempotence membership probe — a
    column-pruned scan, the exact-dedup sink's cost class) + one
    append. Retrying a batch after a crash — even one that committed
    only some part files — appends exactly the missing vectors; a full
    replay appends nothing. Cell skew in the resulting index is the
    assignment's faithful report (duplicated embeddings land together),
    bounded downstream by ``ann_knn_join``'s duplicate-collapse.
    """
    from pyspark.errors import AnalysisException

    spark = batch.sparkSession
    cent = None
    try:
        cent = spark.read.parquet(f"{path}/centroids").collect()
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
    assign_exists = True
    try:
        spark.read.parquet(f"{path}/assign").schema
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        assign_exists = False
    if cent is None and assign_exists:
        raise RuntimeError(
            f"ivf_incremental_ingest: half-written sink at {path} "
            "(assignments exist but centroids are missing — a crash "
            "between the first batch's two writes). Clear the sink and "
            "re-ingest the first batch; refitting on this batch would "
            "silently mix two quantizers in one index."
        )
    if cent is None:
        q_all, centroids = kmeans_fit(batch, k, iters, id_col, vec_col, scale)
        assigned = _assign(q_all, centroids).select(
            F.col("id").alias(id_col), "cluster"
        )
        assigned.write.mode("append").parquet(f"{path}/assign")
        spark.createDataFrame(
            [(c, m) for c, m in enumerate(centroids)],
            "cluster int, m array<bigint>",
        ).write.mode("overwrite").parquet(f"{path}/centroids")
    else:
        centroids = [list(r.m) for r in sorted(cent, key=lambda r: r.cluster)]
        q_all = batch.select(
            F.col(id_col).alias("id"), quantize(vec_col, scale).alias("q")
        )
        assigned = _assign(q_all, centroids).select(
            F.col("id").alias(id_col), "cluster"
        )
        # Replay idempotence (the sink-is-the-state contract every other
        # incremental sink here honors): anti-join against the ids
        # already in the index, so retrying a batch after a crash — even
        # one that committed only some part files of the append — adds
        # exactly the missing vectors and a full replay adds nothing.
        # The membership probe is id-projected; at scale it's a
        # column-pruned scan of the assign table, the same cost class as
        # the exact-dedup sink's anti-join.
        existing = spark.read.parquet(f"{path}/assign").select(id_col)
        fresh = assigned.join(existing, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        fresh.write.mode("append").parquet(f"{path}/assign")
    return spark.read.parquet(f"{path}/assign")


def cross_set_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    compute_splits: int | str | None = None,
) -> DataFrame:
    """Embedding-space benchmark decontamination: train vectors whose
    cosine similarity to ANY eval vector reaches ``threshold``, with the
    leak evidence (best-matching eval id, max similarity, match count).
    The semantic complement to exact n-gram decontamination
    (``dedup.ngram_contamination``): paraphrased eval items that share
    no n-grams still sit next to their source in embedding space.

    Same blocked-join scale shape as :func:`embedding_near_dup_pairs` —
    candidates only within the blocking key, cost Σ|block_t|·|block_e|,
    never |train|·|eval| — and the same ``compute_splits`` knob for the
    few-blocks-many-cores regime. Deterministic evidence: ties on
    max-sim break to the smallest eval id.
    """
    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col(block_col).alias("blk"),
            F.col(id_col).alias(f"{tag}_id"),
            as_double(vec_col).alias(f"{tag}_vec"),
        ).withColumn(f"{tag}_nrm", norm(F.col(f"{tag}_vec")))

    compute_splits = resolve_splits(train, compute_splits)
    t, e = side(train, "t"), side(eval_df, "e")
    join_on = F.col("l.blk") == F.col("r.blk")
    if compute_splits is not None and compute_splits > 1:
        s = F.lit(compute_splits)
        t = t.withColumn("_cs", F.pmod(F.hash(F.col("t_id")), s)).repartition(
            compute_splits * 4, "blk", "_cs"
        )
        e = e.withColumn(
            "_cs", F.explode(F.sequence(F.lit(0), s - F.lit(1)))
        ).repartition(compute_splits * 4, "blk", "_cs")
        join_on = join_on & (F.col("l._cs") == F.col("r._cs"))
    sims = (
        t.alias("l")
        .join(e.alias("r"), join_on)
        .select(
            F.col("l.t_id").alias("train_id"),
            F.col("r.e_id").alias("eval_id"),
            F.round(
                dot(F.col("l.t_vec"), F.col("r.e_vec"))
                / (F.col("l.t_nrm") * F.col("r.e_nrm")),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("train_id").orderBy(
        F.desc("cos_sim"), F.asc("eval_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .groupBy("train_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("eval_id"))).alias(
                "nearest_eval_id"
            ),
            F.max("cos_sim").alias("max_sim"),
            F.count("*").alias("n_eval_hits"),
        )
    )


def label_centroid_cosines(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Inter-centroid cosine matrix of the labeled embedding space —
    which classes are geometrically confusable (the diagnostic behind
    mixture design, IVF cell sizing, and hard-negative selection).

    Exactness discipline: each float component quantizes to the 1e-6
    int64 grid, per-(label, dim) sums are exact integers, and since
    cos(centroid_a, centroid_b) = cos(sum_a, sum_b) (the 1/n factors
    cancel), every dot/norm accumulates as exact decimal(38,0) over the
    dim-aligned join — order-independent across partitionings; doubles
    appear only in the final cos = dot / sqrt(naa*nbb), nano-quantized.

    Scale shape: one corpus pass (posexplode dims -> (label, dim) sums,
    a labels x dims table), then label-pair work on that TINY table —
    the corpus is never self-joined. Emits (label_a, label_b, cos_nano)
    for a < b.
    """
    q = F.round(F.col("v").cast("double") * 1_000_000).cast("long")
    sums = (
        df.select(
            F.col(label_col).alias("lbl"),
            F.posexplode(F.col(vec_col)).alias("dim", "v"),
        )
        .select("lbl", "dim", q.alias("q"))
        .groupBy("lbl", "dim")
        .agg(F.sum("q").alias("s"))
    )
    dec = "decimal(38,0)"
    norms = (
        sums.groupBy("lbl")
        .agg(
            F.sum(F.col("s").cast(dec) * F.col("s").cast(dec)).alias("nn")
        )
    )
    a, b = sums.alias("a"), sums.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.lbl") < F.col("b.lbl")),
        )
        .groupBy(
            F.col("a.lbl").alias("label_a"), F.col("b.lbl").alias("label_b")
        )
        .agg(
            F.sum(
                F.col("a.s").cast(dec) * F.col("b.s").cast(dec)
            ).alias("dot")
        )
    )
    na = norms.select(
        F.col("lbl").alias("label_a"), F.col("nn").alias("naa")
    )
    nb = norms.select(
        F.col("lbl").alias("label_b"), F.col("nn").alias("nbb")
    )
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            # zero-norm guard: a label whose centroid quantizes to the
            # zero vector has nn = 0, and dot/sqrt(0) would be NaN/Inf —
            # whose long-cast behavior differs between Spark and the
            # DuckDB oracle. Cosine is undefined there; emit NULL.
            F.when(
                (F.col("naa") > 0) & (F.col("nbb") > 0),
                F.round(
                    F.col("dot").cast("double")
                    / F.sqrt(
                        F.col("naa").cast("double")
                        * F.col("nbb").cast("double")
                    )
                    * 1_000_000_000
                ).cast("long")
                / F.lit(1e9),
            ).alias("cos"),
        )
    )
