"""Connected components — near-dup cluster formation.

Pair-finding (MinHash LSH, SimHash, embedding LSH) emits EDGES; dedup
needs COMPONENTS: if A~B and B~C, one keeper must survive for {A,B,C}
even though A~C was never emitted. Component id = min reachable doc id,
computed by iterative min-label propagation:

    label⁰(v) = v
    labelⁱ⁺¹(v) = min(labelⁱ(v), min over neighbors u of labelⁱ(u))

Each iteration is one shuffle (edge join + groupBy-min); the driver loop
stops when an iteration changes nothing. Convergence takes O(component
diameter) rounds — near-dup clusters are shallow (dozens of docs linked
through shared shingles), so this runs in a handful of rounds; the
large-diameter general case is what the alternating large-star/small-star
algorithm (Kiveris et al.) optimizes, and this API is the drop-in seam
for it. Per-round ``localCheckpoint(eager=True)`` + a count action is the
iterative-algorithm pattern MLlib itself uses: the checkpoint both caches
the round's labels AND truncates lineage. Plain ``persist`` is not enough
here — ``labels`` feeds two joins per round, so the analyzed plan doubles
every iteration and a deep component (diameter ≳ 10) blows the driver heap
at analysis time long before any executor touches data. The only data
reaching the driver is the changed-label count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import broadcast_threshold, row_bound


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
    driver_threshold: int = 500_000,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min
    node id reachable. Deterministic for any edge order.

    Two regimes, same labels:

    - ``|edges| <= driver_threshold``: collect the edge list and run
      union-find with path compression on the driver (min-id root, so
      root == component label). A verified near-dup pair graph is tiny
      relative to its corpus — banding + Jaccard verification has
      already reduced it. Driver memory at the 500k default is ~100-200
      MB transient (PySpark Row objects are ~150+ B each; they are
      converted to plain tuples and freed immediately, leaving tuples +
      the union-find parent dict) — the bounded small-side collect
      MLlib's own iterative algorithms use, replacing O(diameter) Spark
      rounds (each 2 joins + a count) with one pass.
    - larger: iterative min-label propagation (one shuffle per round),
      which never materializes the graph on the driver.

    Raises ``RuntimeError`` if labels are still changing when ``max_iter``
    is exhausted (component diameter > max_iter): silently returning
    partially-converged labels would let a dedup caller keep several
    "survivors" from one real cluster. Raise ``max_iter`` or switch to a
    large-star/small-star variant for such graphs.
    """
    pairs = None
    if driver_threshold > 0:
        # one pass: fetch at most threshold+1 edge rows — if the limit is
        # hit, fall through to the distributed path (the expensive pair
        # lineage is then recomputed once more, but only in the rare
        # large-graph regime; the common small-graph case pays a single
        # execution instead of a count probe plus a collect)
        probe = edges.select(src_col, dst_col).limit(driver_threshold + 1).collect()
        if len(probe) <= driver_threshold:
            # plain tuples, not Rows: a Row is ~150+ bytes vs ~120 for a
            # 2-tuple of ints, and the Row list is freed right here — the
            # collect itself is the transient peak, not the pass below
            pairs = [(r[0], r[1]) for r in probe]
        del probe
    if pairs is not None:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                # attach the larger root under the smaller: the root of
                # every tree is its component's min id by induction
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        nodes = {x for ab in pairs for x in ab}
        spark = edges.sparkSession
        # schema follows the input id type (long doc ids, string uuids,
        # ...) — the distributed path below is type-generic, and the two
        # regimes must agree on schema, not only on labels
        node_t = edges.schema[src_col].dataType
        schema = T.StructType(
            [T.StructField("node", node_t), T.StructField("comp", node_t)]
        )
        return spark.createDataFrame([(n, find(n)) for n in sorted(nodes)], schema)
    und = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .unionByName(
            edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
        )
        .distinct()
        .persist()
    )
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und.v == labels.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("comp").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias(
                    "comp"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    und.unpersist()
    if changed > 0:
        raise RuntimeError(
            f"connected_components: {changed} labels still changing after "
            f"max_iter={max_iter} rounds (component diameter exceeds the "
            "iteration budget); raise max_iter."
        )
    return labels


# ------------------------------------------------------------- pagerank ----


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted PageRank by FIXED-ITERATION power iteration: returns
    (node, rank) after exactly ``iters`` rounds from the uniform start —
    fixed rounds (not convergence detection) keep the result a pure
    deterministic function of the edge set, so an external oracle can
    replay it CTE-for-CTE.

        rank⁰(v)    = 1/N
        rankⁱ⁺¹(v)  = (1-d)/N + d·(Σ_{u→v} rankⁱ(u)·w(u,v)/out(u)
                                   + dangⁱ/N)

    where out(u) = Σ_v w(u,v) and dangⁱ = Σ over out-edge-less nodes of
    rankⁱ(u) (dangling mass redistributed uniformly, the standard
    correction — without it rank leaks and Σrank < 1).

    Scale shape: each round is one edge⋈rank join + groupBy-min shuffle
    on dst — the same per-round cost profile as ``connected_components``
    above, and the same lineage discipline (``localCheckpoint`` per
    round truncates the doubling plan). The dangling term is a 1-row
    aggregate broadcast into the next round. Node count never needs to
    fit anywhere: the rank vector stays a distributed (node, rank)
    table.

    Parity rule (exactmath discipline): the two SUMs inside an iteration
    (incoming mass, dangling mass) are the only order-dependent float
    accumulations — partial aggregation reorders them differently on
    every engine AND every run, drifting the low bits. Each term is
    rounded to an integer grid and summed as BIGINT, so the aggregate is
    order-independent; every other operation is a fixed-association
    scalar expression on deterministic doubles, bitwise equal across
    engines. The grid is RELATIVE — ``scale = 1e9 * N`` — because rank
    mass is O(1/N) per node: an absolute grid keeps resolution only at
    fixture scale and rounds hub contributions to zero once N is large,
    while 1e-9-of-uniform-rank resolution holds at any N, and the int64
    headroom is exact (total mass 1 × scale = 1e9·N < 2^63 for N up to
    ~9e9 nodes). The scale factor is computed as the same IEEE double
    product on both engines.
    """
    _NANO = 1_000_000_000
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    ).persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    out_w = e.groupBy(F.col("src").alias("node")).agg(F.sum("w").alias("out_w"))
    # transition probability per edge; nodes absent here are dangling
    trans = e.join(out_w, e.src == out_w.node).select(
        "src", "dst", (F.col("w") / F.col("out_w")).alias("p")
    )
    has_out = out_w.select("node")
    rank = nodes.select("node", (F.lit(1.0) / n_nodes).alias("rank"))
    scale = float(_NANO) * n_nodes
    for _ in range(iters):
        rank = rank.localCheckpoint(eager=True)
        dang = rank.join(has_out, "node", "left_anti").agg(
            F.coalesce(
                F.sum(F.round(F.col("rank") * scale).cast("long")), F.lit(0)
            ).alias("dang_q")
        )
        incoming = (
            trans.join(rank, trans.src == rank.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.round(F.col("rank") * F.col("p") * scale).cast("long")
                ).alias("inc_q")
            )
        )
        rank = (
            nodes.join(incoming, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inc_q"), F.lit(0)) / F.lit(scale)
                        + F.col("dang_q") / F.lit(scale) / n_nodes
                    )
                ).alias("rank"),
            )
        )
    out = rank.localCheckpoint(eager=True)
    e.unpersist()
    nodes.unpersist()
    return out


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_normalized: bool = False,
    max_degree_bound: int | None = None,
) -> DataFrame:
    """Per-node triangle counts via DEGREE-ORDERED edge orientation plus
    per-edge adjacency-array intersection (the compact-forward flavor of
    the standard distributed enumeration: Suri & Vassilvitskii's MR
    curve / Cohen's oriented join, executed as Schank-Wagner
    edge-iterator intersections). Input edges are treated as undirected;
    self-loops and duplicate/reversed copies are normalized away first.

    Orient every undirected edge {u, v} from the (degree, id)-smaller
    endpoint to the larger. Each triangle x→y, x→z, y→z is then found
    exactly once — at its BASE edge (x, y), as z ∈ N+(x) ∩ N+(y) — and,
    critically, out-degrees under this orientation are O(sqrt(|E|)) even
    for power-law hubs (a hub's edges point INTO it from its
    lower-degree neighbors), so no adjacency array exceeds ~sqrt(|E|)
    entries and the intersection work is sum over edges of
    out_deg(x) + out_deg(y) — the same Σ out_deg² ≤ |E|^1.5 bound as
    the wedge join, but evaluated INSIDE a map stage.

    That placement is the scale win over the previous wedge-self-join
    form: the wedge join materialized and SHUFFLED every wedge to meet
    the closing-edge semi-join (41M wedge rows at sf0.1 for 1.2M edges
    / 1.9M triangles), whereas the intersection never leaves the edge
    row — shuffle volume drops from O(#wedges) to O(|E| + #triangles).
    Measured at sf0.1: 9.9 s → 6.2 s warm, identical output.

    Returns (node, n_triangles) for nodes in >= 1 triangle, node type
    preserved from the input. Shuffles: edge normalization (one
    distinct), degree aggregate, adjacency groupBy on the source, ONE
    edge⋈adjacency equi-join (r14: the edge side with its N+(x) array
    is re-derived from the adjacency table itself via explode, so only
    N+(y) needs a join — see ``_edge_adjacency_pairs``; adjacency is
    node-count-sized, AQE broadcasts it when it fits and shuffles on
    the node key when it doesn't), and the corner-count groupBy over
    triangle rows only.
    """
    if assume_normalized:
        # caller certifies edges are already canonical (u<v) and
        # loop-free; duplicates are harmless either way (the adjacency
        # collect_set dedups), so this only skips the least/greatest
        # projection
        und = edges.select(
            F.col(src_col).alias("u"), F.col(dst_col).alias("v")
        )
    else:
        und = edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        ).where(F.col("u") != F.col("v"))
    tri = _edge_adjacency_pairs(
        und, max_degree_bound=max_degree_bound
    ).select(
        "x",
        "y",
        F.explode(F.array_intersect("na", "nb")).alias("z"),
    )
    out = (
        # one explode over the three corners of each found triangle
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
        .localCheckpoint(eager=True)
    )
    return out


# Entries per adjacency row the single-exchange collect_set build is
# sized for (8M longs ≈ 64 MB per hub buffer/row — comfortably inside
# one task's execution memory). Past it, a power-law hub's neighbor set
# would grow without bound in ONE aggregation buffer and land as ONE
# multi-GB row (r14 ADVICE, medium): the build then switches to bounded
# (node, chunk) segments, which every consumer tolerates (they explode
# or re-aggregate; only the node-sized (n, d) projections need a
# distinct in that regime).
ADJ_HUB_DEGREE_BUDGET = 8_000_000


def _full_adjacency(
    und: DataFrame,
    max_degree_bound: int | None = None,
    hub_budget: int | None = None,
) -> tuple[DataFrame, bool]:
    """(n, nbrs, d) plus a ``chunked`` flag: the FULL undirected
    adjacency (distinct neighbor set per node) and degree, built from a
    canonical (u < v, loop-free, possibly duplicated) pair stream with
    ONE explode + ``collect_set`` exchange — dedup happens inside the
    aggregation hash map, so callers need no standalone ``distinct``
    over the edge list and degree needs no second aggregation
    (``size(nbrs)``). Node-count-sized with O(Δ) payload per node;
    materialized eagerly (the module's standard lineage truncation —
    every caller consumes it more than once).

    Hub guard (r14 ADVICE, medium): one adjacency row is O(Δ), so a
    power-law hub at 100 TB could build a multi-GB single aggregation
    buffer/row — a failure mode the flat-edge plans could not hit.
    ``max_degree_bound`` is the caller's O(metadata) certificate that no
    node can exceed it (registered co-purchase entries pass
    ``catalog.table_row_bound`` of the part table: degree < |node
    domain|, no job);
    when the bound fits ``hub_budget`` the plain build runs untouched.
    Otherwise ONE narrow partial-aggregated pass measures the max
    multiplicity degree (an upper bound on the distinct degree — the
    conservative direction), and past the budget the build switches to
    bounded segments: ``collect_set`` per (node, pmod(xxhash64(nbr),
    nseg)) — every buffer and every row ≤ ~``hub_budget`` entries — with
    the TOTAL degree attached to every segment row. Consumers already
    explode or re-aggregate ``nbrs``, and segments partition the
    neighbor set, so each (node, neighbor) still appears exactly once;
    the returned flag tells them to dedupe node-level (n, d)
    projections. Results are identical either way (pinned in
    tests/test_round15.py with a forced tiny budget)."""
    if hub_budget is None:
        hub_budget = ADJ_HUB_DEGREE_BUDGET  # module constant: patchable
    both = und.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("n"), F.col("v").alias("o")),
                F.struct(F.col("v").alias("n"), F.col("u").alias("o")),
            )
        ).alias("e")
    ).select("e.n", "e.o")
    max_mult: int | None = None
    if max_degree_bound is not None and 0 <= max_degree_bound <= hub_budget:
        chunked = False
    else:
        # no (usable) certificate: measure. Multiplicity degree needs no
        # distinct — partial map-side aggregation keeps the pass narrow
        # — and can only exceed the distinct degree, so the trigger errs
        # toward chunking. This re-executes the pair derivation once; at
        # the scales where the certificate is absent or exceeded, that
        # is noise next to the protected aggregation.
        row = (
            both.groupBy("n")
            .agg(F.count("*").alias("c"))
            .agg(F.max("c").alias("m"))
            .collect()[0]
        )
        max_mult = int(row["m"]) if row["m"] is not None else 0
        chunked = max_mult > hub_budget
    if not chunked:
        ns = (
            both.groupBy("n")
            .agg(F.collect_set("o").alias("nbrs"))
            .withColumn("d", F.size("nbrs"))
            .localCheckpoint(eager=True)
        )
        return ns, False
    # 2× headroom over the ceil: hash bucketing bounds segment sizes in
    # expectation, not worst case — the doubled segment count keeps the
    # expected row at budget/2 so collision tails stay inside budget
    nseg = max(2, 2 * -(-max_mult // hub_budget))
    seg = both.groupBy(
        "n", F.pmod(F.xxhash64("o"), F.lit(nseg)).alias("_sg")
    ).agg(F.collect_set("o").alias("nbrs"))
    dtot = seg.groupBy("n").agg(
        F.sum(F.size("nbrs")).cast("int").alias("d")
    )
    ns = (
        seg.join(dtot, "n")
        .select("n", "nbrs", "d")
        .localCheckpoint(eager=True)
    )
    return ns, True


def _edge_adjacency_pairs(
    und: DataFrame,
    keep_all_edges: bool = False,
    max_degree_bound: int | None = None,
) -> DataFrame:
    """Shared enumeration core: dedup + degree-orient the canonical
    (u < v, loop-free, possibly duplicated) pair stream and return
    ``pairs`` — one row per oriented edge (x, y) carrying BOTH endpoint
    out-adjacency arrays (na = N+(x), nb = N+(y)).

    r14 shape, in order of what it removed (guide §2.4):

    - NO standalone ``distinct`` exchange and no persist of the edge
      set: the FULL undirected adjacency ``ns`` is built directly from
      the raw canonical pairs with one explode + ``collect_set`` —
      dedup happens inside the aggregation hash map on the only
      corpus-scale exchange this core needs — and degree falls out as
      ``size(nbrs)`` instead of a second aggregation over the edge
      list (measured at sf0.1, whole per-node operator: 7.1 s -> 5.7 s
      min-of-3 vs the distinct+persist+degree-join form).
    - Orientation ((deg, id)-smaller endpoint first) is an explode of
      ``ns`` joined against its own (node, degree) projection — the
      degree table is node-count-sized, AQE broadcasts it when it
      fits.
    - The (x, y, na) side of the intersection is re-derived from the
      out-adjacency table itself (``explode(nbrs)`` regenerates each
      oriented edge exactly once and carries na along for free), so
      only ONE join (attaching nb) materializes arrays onto edge rows
      instead of two (measured: intersect+totals 1.02 s -> 0.70 s,
      intersect+per-node corners 1.41 s -> 0.96 s — the second join
      was re-attaching ~0.5 GB of adjacency payload).

    ``ns`` and ``adj`` are materialized once each (eager
    ``localCheckpoint``, the module's standard truncation: both are
    node-count-sized, and both feed two consumers — a lazy persist can
    compute its upstream twice when AQE materializes two exchange
    stages concurrently). Out-degrees stay O(sqrt(|E|)) under the
    orientation, so no out-adjacency array is ever hub-sized; the FULL
    adjacency rows of ``ns`` are hub-degree-sized — the same O(Δ)
    per-node payload the previous degree aggregation already shuffled,
    now kept once per node instead of exploded per edge.

    ``pairs`` rows whose head y has no out-neighbors are dropped by the
    inner join — they cannot close a triangle (N+(y) is empty), so both
    the per-node and the total counts are unaffected. With
    ``keep_all_edges=True`` the join is LEFT instead (nb null for such
    rows): every oriented edge appears exactly once, so ``count(*)``
    over pairs equals |E| — letting the DOULION estimator fold its edge
    count and its triangle total into ONE aggregate pass instead of a
    separate count job plus a crossJoin.

    Join strategy is decided from MEASURED sizes, not estimates
    (guide §3.1): a checkpointed DataFrame carries no usable plan-time
    statistics, so the planner defaulted the nb-attachment to a
    SortMergeJoin that shuffled 1.2M array-carrying rows
    (SHUFFLE_PROFILE: estimate 27 MB -> 76 MB after the first r14 cut).
    ``ns`` is already materialized, so one cheap aggregate over it gives
    the exact node and entry counts; the node-table and out-adjacency
    byte sizes derived from those decide an explicit broadcast of the
    small side against the session's own autoBroadcastJoinThreshold —
    the same scale rule AQE would apply if it had the stats (at 100 TB
    node tables exceed the threshold and both joins stay shuffled, as
    they must)."""
    ns, chunked = _full_adjacency(und, max_degree_bound)
    nd = ns.select("n", "d")
    if chunked:
        # segment rows repeat (n, d) per chunk — node-level projections
        # must collapse back to one row per node (node-sized, cheap in
        # the only regime that pays it)
        nd = nd.distinct()
    srow = nd.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum("d"), F.lit(0)).alias("e2"),
    ).collect()[0]
    n_nodes, n_entries = int(srow["n"]), int(srow["e2"])
    # The byte estimates below assume fixed-width numeric node keys; a
    # string-keyed graph (hosts, entity keys) would underestimate the
    # broadcast side several-fold, so the explicit hint — which bypasses
    # the planner's own size check — only fires for integral keys
    # (r14 ADVICE #2). Non-numeric graphs fall back to the planner.
    numeric_keys = isinstance(
        ns.schema["n"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    thresh = (
        broadcast_threshold(und.sparkSession) if numeric_keys else 0
    )
    deg_side = nd.select(F.col("n").alias("y"), F.col("d").alias("dy"))
    if 0 <= n_nodes * 28 <= thresh:
        deg_side = F.broadcast(deg_side)
    oriented = (
        ns.select(
            F.col("n").alias("x"),
            F.col("d").alias("dx"),
            F.explode("nbrs").alias("y"),
        )
        .join(deg_side, "y")
        .where(
            (F.col("dx") < F.col("dy"))
            | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
        )
        .select("x", "y")
    )
    # Out-adjacency arrays: bounded at O(sqrt(|E|)) entries per node by
    # the orientation, so no array is ever hub-sized.
    adj = (
        oriented.groupBy("x")
        .agg(F.collect_list("y").alias("nbrs"))
        .localCheckpoint(eager=True)
    )
    # array_intersect is order-insensitive (hash-set build per row), so
    # collect_list's nondeterministic order cannot affect the result.
    nb_side = adj.select(F.col("x").alias("yk"), F.col("nbrs").alias("nb"))
    # out-adjacency holds each undirected edge once: entries/2 longs
    if 0 <= n_nodes * 32 + (n_entries // 2) * 8 <= thresh:
        nb_side = F.broadcast(nb_side)
    return adj.select(
        F.col("x"),
        F.col("nbrs").alias("na"),
        F.explode("nbrs").alias("y"),
    ).join(
        nb_side,
        F.col("y") == F.col("yk"),
        "left" if keep_all_edges else "inner",
    )


def triangle_count_estimate(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    keep_num: int = 1,
    keep_den: int = 2,
    salt: str = "tri8",
    max_degree_bound: int | None = None,
) -> DataFrame:
    """DOULION-style approximate GLOBAL triangle count (Tsourakakis,
    Kang, Miller, Faloutsos, KDD'09): toss a p = keep_num/keep_den coin
    per undirected edge, count triangles in the sparsified graph with
    the exact degree-oriented enumerator, scale by 1/p³. The documented
    100 TB path for triangle statistics — the exact enumerator's work is
    Θ(|E|^1.5), so halving the edges cuts the intersection work ~2.8×
    (and p=0.1 cuts it ~31×) while the estimator stays unbiased with
    variance O(1/p³) per triangle (concentrated for graphs with many
    triangles, which is exactly when exact counting is expensive).

    The coin is a SALTED md5 of the canonical edge key — deterministic,
    replayable, and independent of partitioning (re-running on a
    differently-sharded copy of the graph samples the SAME subgraph),
    which also makes the estimate exactly reproducible by the DuckDB
    oracle. Returns one row: (n_sampled_edges, n_sampled_triangles,
    est_triangles) with est = sampled · keep_den³ / keep_num³ kept in
    exact integer arithmetic.
    """
    und = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("u"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
    ).where(F.col("u") != F.col("v"))
    if keep_num < keep_den:
        coin = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("u").cast("string"),
                            F.lit(":"),
                            F.col("v").cast("string"),
                            F.lit(":"),
                            F.lit(salt),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % keep_den
        )
        # the coin is a pure function of the canonical pair, so filtering
        # BEFORE the dedup exchange keeps the same sampled edge set while
        # the distinct shuffles only p of the raw pair volume — on a dense
        # co-occurrence derivation the dedup exchange is the biggest
        # fixed cost the estimator shares with the exact operator
        und = und.where(coin < keep_num)
    # else p >= 1: the coin (hash % keep_den, always in [0, keep_den))
    # passes EVERY row, so evaluating it is pure expression cost — at
    # the p = 1 tier triangle_count_auto resolves below 10^7 edges the
    # md5 coin alone measured 2.6 s on 1.2M sf0.1 pairs (r14 decompose;
    # guide §2.3 "don't compute what you throw away"). The kept set is
    # identical by construction, so the result hash cannot move.
    # The estimator needs only the GLOBAL count: SUM of per-base-edge
    # intersection sizes — every triangle is found exactly once at its
    # base edge, so this equals the corner-count/3 of the previous
    # per-node detour without materializing 3 corner rows per triangle
    # or grouping them by node (r14 decompose: the per-node corner path
    # cost 1.41 s vs 0.70 s for the size-sum at sf0.1 p=1, plus a
    # 20k-row checkpoint job this path no longer runs at all). The
    # sampled pair stream goes to the core UNDEDUPED — its adjacency
    # collect_set is the dedup, so the previous distinct+persist of the
    # sampled edge set is gone with it.
    # Integer arithmetic end to end: `/` in Spark is DOUBLE division,
    # and above ~2^53 scaled triangles the double's floor drifts from
    # the exact quotient — at the 100 TB scale this estimator exists
    # for. DIV stays the integral-division operator and the 1/p**3
    # scale-up a BIGINT product followed by an exact integral divide.
    # keep_all_edges: the LEFT join keeps y-sink edge rows (nb null, 0
    # closing triangles), so one aggregate pass yields BOTH outputs —
    # count(*) = |sampled distinct edges| because every oriented edge
    # appears exactly once — replacing a separate count job + crossJoin.
    pairs = _edge_adjacency_pairs(
        und, keep_all_edges=True, max_degree_bound=max_degree_bound
    )
    out = (
        pairs.select(
            F.when(F.col("nb").isNull(), F.lit(0))
            .otherwise(F.size(F.array_intersect("na", "nb")))
            .alias("c")
        )
        .agg(
            F.count("*").alias("n_sampled_edges"),
            F.coalesce(F.sum("c"), F.lit(0))
            .cast("long")
            .alias("n_sampled_triangles"),
        )
        .select(
            "n_sampled_edges",
            "n_sampled_triangles",
            F.expr(
                f"n_sampled_triangles * {keep_den ** 3} "
                f"DIV {keep_num ** 3}"
            )
            .cast("long")
            .alias("est_triangles"),
        )
        .localCheckpoint(eager=True)
    )
    return out


def doulion_keep_policy(n_edges: int) -> tuple[int, int]:
    """Recommended DOULION coin (keep_num, keep_den) as a function of
    undirected edge count — THE 100 TB knob for triangle statistics.

    The exact enumerator's intersection work is Θ(E^1.5); sampling at
    p multiplies it by ~p^1.5 (measured at p=1/2: shuffle bytes still
    grow 10^1.5 at 10x rows, SHUFFLE_PROFILE_r08 — the p=1 term).
    Variance per DOULION is O(1/p³) per triangle, concentrated when the
    SAMPLED triangle count stays ≫ 1/p — dense graphs (the expensive
    case) keep millions of sampled triangles even at p=1/10, so the
    policy holds p·E ≈ 10⁹ (a single cluster's comfortable enumeration
    budget) once E crosses the exact-count pain threshold:

    - E < 10⁷:          count exactly (p = 1) — sampling saves nothing;
    - 10⁷ ≤ E < 10⁹:    p = 1/2  (~2.8× less intersection work);
    - 10⁹ ≤ E < 10¹¹:   p = 1/10 (~31×);
    - E ≥ 10¹¹:         p = 1/32 (~181×; at web scale the sampled graph
                        still holds ≥ 3·10⁹ edges).

    Deterministic and integer-ratio so the coin stays a pure md5-mod
    expression (replayable, partition-independent, oracle-exact).
    """
    if n_edges < 10_000_000:
        return (1, 1)
    if n_edges < 1_000_000_000:
        return (1, 2)
    if n_edges < 100_000_000_000:
        return (1, 10)
    return (1, 32)


def triangle_count_auto(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_edges: int | None = None,
    salt: str = "tri8",
    max_degree_bound: int | None = None,
) -> DataFrame:
    """Global triangle count through the :func:`doulion_keep_policy`
    auto-tier — the KMV ``keep_ppm="auto"`` pattern applied to the one
    remaining registry operator whose exact path is super-linear at
    scale (r11 verdict task #6): below 10⁷ edges the policy picks
    p = 1 and :func:`triangle_count_estimate` degenerates to the EXACT
    enumerator (coin < 1 keeps every edge, scale-up is ·1 — identical
    plan and result); above it the DOULION tier applies. The chosen
    policy travels in the OUTPUT as (policy_keep_num, policy_keep_den)
    columns — the gate-in-the-sketch idiom — so every consumer sees
    which estimator produced the number.

    ``n_edges`` resolution mirrors the KMV auto-tier: caller-supplied
    count wins; else ``catalog.row_bound(edges, 10**7)`` (footers,
    else a probe capped at the first sampled tier). Registered
    derived-graph entries pass ``n_edges`` (an O(scan) combinatorial
    bound) so neither fallback runs. The policy input may be a RAW
    (pre-distinct) pair bound — an upper bound on |E|, which only ever
    picks a more-sampled tier (the conservative direction for work).

    Returns one row: (policy_keep_num, policy_keep_den,
    n_sampled_edges, n_sampled_triangles, est_triangles)."""
    if n_edges is None:
        n_edges = row_bound(edges, 10**7)
    keep_num, keep_den = doulion_keep_policy(n_edges)
    if max_degree_bound is None:
        # a node's degree cannot exceed the edge count: the resolved
        # pair bound doubles as a free hub certificate
        max_degree_bound = n_edges
    est = triangle_count_estimate(
        edges, src_col, dst_col, keep_num, keep_den, salt,
        max_degree_bound=max_degree_bound,
    )
    return est.select(
        F.lit(keep_num).cast("long").alias("policy_keep_num"),
        F.lit(keep_den).cast("long").alias("policy_keep_den"),
        "n_sampled_edges",
        "n_sampled_triangles",
        "est_triangles",
    )


# ---------------------------------------------------------------------------
# Peel scale guards (r12 verdict ask #3). Unlike triangle COUNTING,
# whose scale path is DOULION sampling (triangle_count_auto), the
# truss/core output is an exact SET — sampling would change semantics,
# not just variance — so the guards are (a) an explicit edge budget the
# exact peel is sized for, priced against the ALREADY-MATERIALIZED
# canonical edge checkpoint (a count over local checkpoint blocks: no
# shuffle, no recompute — far below one peel round, per the
# SCALE_NOTES §58 metadata-pricing rule), and (b) for k-truss a
# LOSSLESS pre-filter: every node of the k-truss has within-truss
# degree >= k-1 (an edge with support >= k-2 gives each endpoint k-2
# common-neighbor edges plus the edge itself), and any subgraph with
# min degree >= k-1 is contained in the maximal one, so
# k-truss ⊆ (k-1)-core — peeling the Θ(E)-per-round core first can
# only delete edges the Θ(E^1.5)-per-round support rounds would have
# deleted anyway (pinned: tests/test_round13.py).
# ---------------------------------------------------------------------------

# Edge counts the single-node exact peels are sized for (measured r13,
# SCALE_NOTES §59: kcore 1.2M edges → ~6 s for a 4-round peel at
# local[32]; per-round cost is 3 keyed shuffles of Θ(E) rows, so the
# budget scales linearly with executors — a 1000-executor cluster
# re-sizes the knob accordingly). Exceeding the budget raises with
# sizing guidance instead of silently starting an unbounded peel.
KCORE_EXACT_EDGE_BUDGET = 1_000_000_000
# k-truss's wedge join is Σ deg² — superlinear — so its exact budget
# is lower and a (k-1)-core pre-filter engages a decade earlier.
KTRUSS_PREFILTER_EDGES = 1_000_000
KTRUSS_EXACT_EDGE_BUDGET = 100_000_000


def _peel_guard(n_edges: int, budget: int, op: str) -> None:
    if n_edges > budget:
        raise RuntimeError(
            f"{op}: {n_edges} edges exceeds the {budget}-edge budget "
            "the exact peel is sized for (per-round cost model in the "
            "docstring). The output is an exact set, so there is no "
            "sampled fallback — raise exact_edge_budget consciously "
            "after sizing the cluster, or pre-shrink the graph (for "
            "counting questions use triangle_count_auto instead)."
        )


def kcore(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 30,
    exact_edge_budget: int = KCORE_EXACT_EDGE_BUDGET,
    max_degree_bound: int | None = None,
) -> DataFrame:
    """Nodes of the k-core — the maximal subgraph where every node keeps
    degree >= ``k`` AFTER all lower-degree nodes are removed — by
    iterative peeling: drop every node whose current degree is < k,
    recompute degrees on the survivor subgraph, repeat to fixpoint.
    Raw degree is not enough (a hub whose neighbors are all leaves has
    high degree and still peels away), which is why corpus/graph-quality
    work uses coreness, not degree, to find the genuinely dense region
    (spam link farms, tightly co-purchased product sets).

    Scale shape: each round is one narrow degree aggregation (explode of
    both endpoints -> groupBy count) plus two anti-joins against the
    low-degree node set, all keyed shuffles — never a driver collect.
    ``localCheckpoint(eager=True)`` per round truncates lineage exactly
    like ``connected_components``' propagation loop (the surviving edge
    set feeds three plans per round; without truncation the analyzed
    plan doubles each iteration). Rounds needed = peeling depth
    (degeneracy ordering layers), small for co-purchase-style graphs;
    raises ``RuntimeError`` if still peeling after ``max_iter`` rounds —
    a silently partial core would overstate density downstream.

    Returns (node, core_degree): survivors with their degree WITHIN the
    core (>= k by construction). Deterministic for any edge order.

    ``exact_edge_budget`` (r12 verdict ask #3): the edge count the
    exact peel is sized for — the guard counts the already-checkpointed
    canonical edge set (local block scan, no shuffle — ≪ one peel
    round) and raises past the budget instead of silently starting an
    unbounded Θ(E)-per-round × rounds peel. The budget is a deployment
    knob: it bounds per-round shuffle volume, so size it to the
    cluster, not the data you wish you had.
    """
    # r14 entry shape: the canonical edge stream goes UNDEDUPED into the
    # full-adjacency aggregation (dedup inside collect_set — the same
    # one-exchange core the triangle family uses); round 0's degrees
    # fall out as size(nbrs), so the standalone distinct exchange, the
    # edge-set checkpoint and the first explode+groupBy degree job are
    # all gone, and a graph that is already its own k-core (no node
    # under k) finishes after the single adjacency exchange. The peel
    # guard prices sum(d)/2 on the node-count-sized checkpoint — same
    # metadata-priced contract as the former edge count.
    und = edges.select(
        F.least(src_col, dst_col).alias("u"),
        F.greatest(src_col, dst_col).alias("v"),
    ).where(F.col("u") != F.col("v"))
    ns, chunked = _full_adjacency(und, max_degree_bound)
    nd = ns.select("n", "d")
    if chunked:
        # hub regime: segment rows repeat (n, d) — collapse node-level
        # projections so degrees and the guard sum count each node once
        nd = nd.distinct()
    # one collect prices the guard AND answers round 0's "any node
    # under k?" (a separate isEmpty would be a second job)
    guard = nd.agg(
        F.coalesce(F.sum("d"), F.lit(0)).alias("s"),
        F.count_if(F.col("d") < k).alias("n_low"),
    ).collect()[0]
    _peel_guard(guard["s"] // 2, exact_edge_budget, "kcore")
    deg = nd.select(F.col("n").alias("node"), F.col("d").alias("deg"))
    if guard["n_low"] == 0:
        return deg.select("node", F.col("deg").alias("core_degree"))
    low = deg.where(F.col("deg") < k).select("node")
    # edges re-derived map-side from the adjacency checkpoint (one
    # direction only), then the classic peel rounds
    alive = (
        ns.select(F.col("n").alias("u"), F.explode("nbrs").alias("v"))
        .where(F.col("u") < F.col("v"))
        .join(low.withColumnRenamed("node", "u"), "u", "left_anti")
        .join(low.withColumnRenamed("node", "v"), "v", "left_anti")
        .localCheckpoint(eager=True)
    )
    # max_iter bounds the PEELS (round 0 above consumed one); the +1
    # probe confirms a fixpoint reached on exactly the last allowed peel
    # (without it, depth == max_iter raises even though the matching
    # fixed-round oracle is converged)
    for it in range(1, max_iter + 1):
        # ONE degree aggregation per round, materialized once: it feeds
        # the convergence probe, both anti-joins AND the converged return
        # — deriving `low` lazily would re-execute the explode+groupBy
        # per consumer (the self-consumption trap, SCALE_NOTES round-4
        # audit), and a separate return-path aggregation would scan the
        # survivor edges a second time on the final round.
        deg = (
            alive.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
            .localCheckpoint(eager=True)
        )
        low = deg.where(F.col("deg") < k).select("node")
        if low.isEmpty():
            return deg.select("node", F.col("deg").alias("core_degree"))
        if it == max_iter:
            break  # another peel is needed but the budget is spent
        nxt = (
            alive.join(low.withColumnRenamed("node", "u"), "u", "left_anti")
            .join(low.withColumnRenamed("node", "v"), "v", "left_anti")
            .localCheckpoint(eager=True)
        )
        alive = nxt
    raise RuntimeError(
        f"k-core peeling did not converge in {max_iter} rounds; "
        "raise max_iter (peeling depth equals the graph's degeneracy "
        "layer count, which exceeded the cap)"
    )


def ktruss(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
    prefilter_edges: int = KTRUSS_PREFILTER_EDGES,
    exact_edge_budget: int = KTRUSS_EXACT_EDGE_BUDGET,
) -> DataFrame:
    """Edges of the k-truss — the maximal subgraph where every edge is
    supported by at least ``k - 2`` triangles WITHIN the subgraph — by
    iterative peeling: drop every edge whose current triangle support is
    below the bar, recompute support on the survivors, repeat to
    fixpoint. Truss-ness is the EDGE-level cohesion test k-core can't
    give: a hub node survives a high k-core through sheer degree, but an
    edge only survives the truss if its endpoints share actual mutual
    neighbors — which is why community/affinity work peels trusses, not
    cores, to isolate tightly-knit groups.

    Per round: triangles are enumerated once each at their canonical
    (x < y < z) corner (edge⋈edge wedge join + closing-edge semi-join),
    exploded to their three member edges, and counted per edge — all
    keyed shuffles; then one anti-join removes the low-support edges.
    The wedge join is id-oriented, the right shape for the sparse
    affinity graphs this peels (for degree-skewed graphs the
    ``triangle_counts`` degree-orientation is the drop-in replacement).
    ``localCheckpoint`` per round truncates lineage exactly like
    ``kcore``. Raises ``RuntimeError`` when still peeling after
    ``max_iter`` rounds — a silently partial truss overstates cohesion.

    Returns surviving edges as (u, v, support), u < v, support counted
    within the truss (>= k-2 by construction). Deterministic for any
    edge order.

    Scale guards (r12 verdict ask #3), both priced against the
    already-checkpointed edge set (local block count — no shuffle):

    - ``prefilter_edges``: above this, the LOSSLESS (k-1)-core
      pre-filter runs first — k-truss ⊆ (k-1)-core (every truss node
      has within-truss degree >= k-1: k-2 common-neighbor edges per
      supported edge plus the edge itself; any subgraph with min
      degree >= k-1 is contained in the maximal one), so restricting
      to core-member endpoints deletes only edges the exact support
      rounds would delete anyway, at Θ(E) per core round instead of
      the support rounds' Σ deg² wedge join. Losslessness is
      property-pinned (tests/test_round13.py). The pre-filter's own
      cost is bounded by the CALLER's sizing too: its nested core
      peel runs under an edge budget of one decade above
      ``exact_edge_budget``, floored at ``prefilter_edges``'s module
      default (a ≤ 10⁶-edge Θ(E) peel is seconds) and capped at the
      global kcore constant — so a small caller budget raises from
      the nested peel guard BEFORE a multi-round peel on a 10⁹-edge
      graph starts, not after, while tiny/zero budgets still let the
      pre-filter shrink an over-budget graph back under the check.
    - ``exact_edge_budget``: the edge count the exact support rounds
      are sized for, checked AFTER the pre-filter (the pre-filter may
      shrink an over-budget graph back under it); past it the call
      raises with sizing guidance — the truss is an exact set, so
      there is no sampled fallback to degrade to.
    """
    e = (
        edges.select(
            F.least(src_col, dst_col).alias("u"),
            F.greatest(src_col, dst_col).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_e = e.count()
    if k > 2 and n_e > prefilter_edges:
        core = kcore(
            e,
            k - 1,
            src_col="u",
            dst_col="v",
            max_iter=max(max_iter, 200),
            # The pre-filter peel must itself stay bounded by the
            # CALLER's sizing (r13 ADVICE #3 — the old escalation to
            # the global KCORE constant let a caller's small
            # exact_edge_budget be bypassed by a full multi-round peel
            # on up to 1e9 edges before _peel_guard ever ran): allow
            # the Θ(E)-per-round core peel one decade of headroom over
            # the superlinear support rounds' budget — the same ratio
            # the module constants encode (KCORE 1e9 vs KTRUSS 1e8) —
            # floored at the pre-filter engagement constant (a ≤ 1e6-
            # edge core peel is seconds of Θ(E) work, and without the
            # floor a tiny caller budget would forbid the pre-filter
            # from shrinking over-budget graphs at all — the
            # checked-AFTER contract pinned in tests/test_round13.py)
            # and capped at the global kcore sizing unless the caller
            # consciously raised past it. Defaults are unchanged:
            # max(1e8, min(1e9, max(1e9, 1e6))) = 1e9, the old value.
            exact_edge_budget=max(
                exact_edge_budget,
                min(
                    KCORE_EXACT_EDGE_BUDGET,
                    max(10 * exact_edge_budget, KTRUSS_PREFILTER_EDGES),
                ),
            ),
        ).select("node")
        e = (
            e.join(core.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(core.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n_e = e.count()
    _peel_guard(n_e, exact_edge_budget, "ktruss")
    bar = k - 2
    # max_iter bounds the PEELS; the +1 probe confirms a fixpoint reached
    # on exactly the last allowed peel (see kcore)
    for it in range(max_iter + 1):
        tri = (
            e.alias("e1")
            .join(
                e.alias("e2"),
                (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")),
            )
            .select(
                F.col("e1.u").alias("x"),
                F.col("e1.v").alias("y"),
                F.col("e2.v").alias("z"),
            )
            .join(
                e.select(F.col("u").alias("y"), F.col("v").alias("z")),
                ["y", "z"],
                "left_semi",
            )
        )
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(F.col("x").alias("u"), F.col("y").alias("v")),
                        F.struct(F.col("x").alias("u"), F.col("z").alias("v")),
                        F.struct(F.col("y").alias("u"), F.col("z").alias("v")),
                    )
                ).alias("ed")
            )
            .select("ed.u", "ed.v")
            .groupBy("u", "v")
            .agg(F.count("*").alias("support"))
        )
        # materialized once per round: `scored` feeds the convergence
        # probe, the anti-join AND the return path — without the
        # checkpoint the triangle-enumeration lineage re-executes per
        # consumer (the self-consumption trap, SCALE_NOTES round-4 audit)
        scored = (
            e.join(sup, ["u", "v"], "left")
            .select(
                "u",
                "v",
                F.coalesce("support", F.lit(0)).cast("long").alias("support"),
            )
            .localCheckpoint(eager=True)
        )
        low = scored.where(F.col("support") < bar).select("u", "v")
        if low.isEmpty():
            return scored
        if it == max_iter:
            break  # another peel is needed but the budget is spent
        e = e.join(low, ["u", "v"], "left_anti").localCheckpoint(eager=True)
    raise RuntimeError(
        f"k-truss peeling did not converge in {max_iter} rounds; raise "
        "max_iter (peeling depth exceeded the cap)"
    )


def bounded_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    max_degree_bound: int | None = None,
) -> DataFrame:
    """(node, dist) — minimum hop distance from the seed set over the
    undirected graph, bounded at ``max_hops`` (k-hop neighborhood /
    frontier BFS). The bounded-hop form is the one that exists at
    100 TB: each level is ONE equi-join of the current frontier against
    the symmetrized edge list plus ONE anti-join against the visited
    set (so the frontier never re-expands settled nodes — work per
    level is proportional to the NEW frontier, not the visited ball),
    and the plan depth is fixed by ``max_hops``, not by graph diameter.
    Min-distance semantics fall out of level order: a node is settled
    the first level it appears.

    Unreachable-within-k nodes are absent by contract (callers
    left-join if they need NULL-distance rows).

    r14 plan shape: the edge stream is folded ONCE into the full
    undirected adjacency (``_full_adjacency`` — dedup inside the
    collect_set exchange, node-count-sized result, eagerly
    materialized; the before-plan re-derived and re-deduped a
    2x|E|-row symmetrized edge LIST per hop — 114 Exchange nodes for a
    3-hop walk; guide §2.4). Frontiers are node-bounded, so when the
    node count (measured on the materialized adjacency — the frontier
    can never exceed it) fits the session's broadcast threshold, each
    hop BROADCASTS the frontier and streams the adjacency map-side:
    zero per-hop exchanges of graph data (the first r14 cut instead
    joined shuffle-side, which re-exchanged hub-sized adjacency ARRAY
    rows per hop and regressed the 10x-scale wall 1.3x — caught by the
    sf1 A/B). Past the threshold the hops join a flat symmetrized edge
    list derived map-side from the adjacency and materialized once —
    flat rows shuffle evenly where array rows cannot split. Levels are
    eagerly truncated — without that, level h's subtree appears TWICE
    inside level h+1 (as its frontier and inside its visited anti-join)
    and the lazy plan grew exponentially in the hop bound (the same
    lineage-truncation contract as kcore's peel rounds)."""
    und = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("u"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
    ).where(F.col("u") != F.col("v"))
    ns, chunked = _full_adjacency(und, max_degree_bound)
    ns = ns.select("n", "nbrs")
    if chunked:
        # hub-segment rows inflate the block count; distinct keys give
        # the true node count (node-sized, only in the hub regime)
        n_nodes = ns.select("n").distinct().count()
    else:
        n_nodes = ns.count()  # cheap block count on the checkpoint
    # the n_nodes*24 estimate assumes fixed-width numeric node ids; for
    # string-keyed graphs it can underestimate severalfold, so the
    # explicit broadcast only fires for integral keys (r14 ADVICE #2)
    numeric_keys = isinstance(
        ns.schema["n"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    bcast_frontier = numeric_keys and 0 <= n_nodes * 24 <= broadcast_threshold(
        edges.sparkSession
    )
    if not bcast_frontier:
        # big-graph regime: one flat symmetrized edge list, derived
        # map-side from the adjacency (no second corpus exchange) and
        # materialized once for every hop's shuffle join
        sym = (
            ns.select(F.col("n").alias("u"), F.explode("nbrs").alias("v"))
            .localCheckpoint(eager=True)
        )
    visited = seeds.select(F.col(seed_col).alias("node")).distinct().select(
        "node", F.lit(0).alias("dist")
    )
    frontier = visited.select("node")
    out = visited
    for h in range(1, max_hops + 1):
        if bcast_frontier:
            nxt = ns.join(
                F.broadcast(frontier), ns["n"] == frontier["node"]
            ).select(F.explode("nbrs").alias("node"))
        else:
            nxt = (
                frontier.select(F.col("node").alias("u"))
                .join(sym, "u")
                .select(F.col("v").alias("node"))
            )
        nxt = (
            nxt.distinct()
            .join(out.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(
            nxt.select("node", F.lit(h).alias("dist"))
        )
        frontier = nxt
    return out


def bounded_bellman_ford(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    seed_col: str = "node",
) -> DataFrame:
    """(node, cost) — minimum total edge weight from the seed set over
    the undirected weighted graph, restricted to paths of at most
    ``max_hops`` edges: Bellman-Ford with a fixed relaxation-round
    budget. Unlike BFS, a node's cost can IMPROVE at a later hop (a
    2-edge detour may be cheaper than a direct edge), so every round
    relaxes the full best-so-far table — best_h = min(best_{h-1},
    min over edges (best_{h-1}[u] + w(u,v))) — one equi-join + one
    keyed MIN per round, plan depth fixed by the hop budget. Integer
    weights keep the fold exact cross-engine."""
    sym = (
        edges.select(
            F.col(src_col).alias("u"),
            F.col(dst_col).alias("v"),
            F.col(weight_col).alias("w"),
        )
        .unionByName(
            edges.select(
                F.col(dst_col).alias("u"),
                F.col(src_col).alias("v"),
                F.col(weight_col).alias("w"),
            )
        )
        .distinct()
    )
    best = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("cost"))
    )
    for _h in range(max_hops):
        relax = (
            best.select(F.col("node").alias("u"), "cost")
            .join(sym, "u")
            .select(
                F.col("v").alias("node"),
                (F.col("cost") + F.col("w")).cast("long").alias("cost"),
            )
        )
        best = (
            best.unionByName(relax)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
    return best
