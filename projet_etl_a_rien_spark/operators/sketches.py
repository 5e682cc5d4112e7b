"""Mergeable frequency sketches — Count-Min (Cormode & Muthukrishnan
2005, J. Algorithms: "An improved data stream summary: the count-min
sketch and its applications").

The 100 TB problem this solves: exact token frequencies need a
vocab-sized aggregation (fine once, expensive to keep consulting), and
SERVING frequency lookups from a multi-billion-row count table means a
join against corpus-derived state. A count-min sketch is a fixed
``d × w`` integer grid (d hash rows, w buckets — kilobytes to megabytes
regardless of corpus size) that answers point frequency queries with a
one-sided guarantee: ``estimate >= true`` always, and
``estimate <= true + e/w · N`` with probability ``1 - e^-d`` (N = total
token count). The sketch is ADDITIVE — per-partition/per-batch grids
sum cell-wise — so it builds with one map-side-combinable aggregation,
merges across shards or micro-batches like the aggregate-MV partials,
and broadcasts to wherever a frequency gate is needed (stopword
detection, heavy-hitter candidates, noise floors for PMI/TF-IDF).

Determinism discipline: bucket hashes are salted md5 (the engine's
standard replayable coin), so the grid — and therefore every estimate —
is bit-identical across partitionings AND across engines; the DuckDB
oracle rebuilds the identical grid from the same SQL arithmetic.
"""

from __future__ import annotations

# module-level so ``kmv_keep_policy``'s "int | Fraction | None" return
# annotation resolves under typing.get_type_hints (r13 ADVICE #4 — a
# function-local import left the string annotation unresolvable)
from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import row_bound, widen_input
from .compaction import compact_sink, fold_inputs, write_partial


def _bucket(j, token, width: int):
    """Row-j bucket of a token: first 8 md5 hex digits of "j:token",
    mod width — identical arithmetic in the SQL oracle."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(j.cast("string"), F.lit(":"), token)), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % width
    )


def token_cms(
    df: DataFrame,
    depth: int = 4,
    width: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """Build the count-min grid over whitespace tokens: (j, b, cnt)
    with one row per non-empty cell (at most depth × width rows, ever).

    Shape: one corpus-scale token explode, a ``depth``-way per-token
    fan-out to (row, bucket) pairs (a transform over a literal
    sequence, JVM-side), then ONE groupBy whose key space is bounded by
    d·w — partial aggregation collapses each task's contribution to at
    most d·w cells before the exchange, so shuffle volume is
    O(tasks · d · w), independent of corpus size.
    """
    toks = (
        widen_input(df)
        .select(F.explode(F.split(F.col(text_col), " ")).alias("t"))
        .where(F.col("t") != "")
    )
    cells = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(depth - 1)),
                lambda j: F.struct(
                    j.alias("j"), _bucket(j, F.col("t"), width).alias("b")
                ),
            )
        ).alias("cell")
    )
    return (
        cells.groupBy(
            F.col("cell.j").alias("j"), F.col("cell.b").alias("b")
        )
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    probes: DataFrame,
    depth: int = 4,
    width: int = 1024,
    token_col: str = "token",
) -> DataFrame:
    """Point-frequency estimates for probe tokens: min over the d rows
    of the probed cells (the count-min estimator — every row
    overestimates by its collisions, the minimum is the tightest).
    The probe side fans out to d (row, bucket) keys and joins the grid;
    the grid side is at most d·w rows, so Spark broadcasts it and the
    lookup never shuffles the probe set. Missing cells are true zeros.
    Emits (token, cms_est)."""
    keys = (
        probes.select(F.col(token_col).alias("token"))
        .select(
            "token",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(depth - 1)),
                    lambda j: F.struct(
                        j.alias("j"),
                        _bucket(j, F.col("token"), width).alias("b"),
                    ),
                )
            ).alias("cell"),
        )
        .select(
            "token", F.col("cell.j").alias("j"), F.col("cell.b").alias("b")
        )
    )
    return (
        keys.join(F.broadcast(cms), ["j", "b"], "left")
        .groupBy("token")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est")
        )
    )


# ---------------------------------------------------------------------------
# HyperLogLog-style distinct sketch (Flajolet, Fusy, Gandouet & Meunier
# 2007, AofA: "HyperLogLog: the analysis of a near-optimal cardinality
# estimation algorithm") — "distinct users per key" SERVED FROM STATE.
#
# approx_count_distinct answers one query; what an incremental pipeline
# needs is a MERGEABLE register array maintained as sink state: registers
# fold with MAX (associative, commutative, idempotent — so partial grids
# from shards/micro-batches/replays merge exactly), and the estimate is
# read from the folded registers without rescanning events.
#
# Engine-parity discipline (the CMS trick, extended): both the register
# index and the rank hash are salted md5; the rank is derived from a
# 24-bit tail (rho = 25 - bitlength, rho(0) = 25), so the harmonic
# denominator sum_j 2^(-M_j) becomes the EXACT INTEGER
# S24 = sum_j 2^(24 - M_j) and the alpha-corrected estimate is pure
# integer arithmetic: floor(709 · m² · 2^24 / (1000 · S24)) for m = 64
# (alpha_64 = 0.709 exactly as published). The small-range branch
# (E ≤ 2.5m with empty registers) uses linear counting m·ln(m/V) — ln is
# transcendental, so BOTH engines read the SAME precomputed 64-entry
# integer table keyed by V (python-math-derived literal), keeping even
# the corrected estimate bit-identical across engines.
# ---------------------------------------------------------------------------

import math as _math

HLL_M = 64  # registers; relative error ~ 1.04/sqrt(m) ~ 13%
HLL_ALPHA_NUM, HLL_ALPHA_DEN = 709, 1000  # alpha_64 = 0.709 (FFGM07)
HLL_W = 24  # rank-hash tail bits


def _hll_lc_table(m: int = HLL_M) -> list[int]:
    """Linear-counting estimates round(m·ln(m/V)) for V = 1..m — the
    shared literal both engines look up (index V-1)."""
    return [round(m * _math.log(m / v)) for v in range(1, m + 1)]


def hll_registers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    m: int = HLL_M,
    salt: str = "hll",
) -> DataFrame:
    """Build per-key register grids: (key, j, mx) with one row per
    non-empty register — at most m rows per key, ever. One corpus-scale
    groupBy whose key space is bounded by (#keys · m); partial
    aggregation collapses each task's contribution before the exchange
    (MAX combines map-side), so shuffle volume is O(tasks · keys · m),
    independent of row count."""
    v = F.col(value_col).cast("string")
    j = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}:r:"), v)), 1, 8),
            16,
            10,
        ).cast("long")
        % m
    )
    w = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}:v:"), v)), 1, 8),
            16,
            10,
        ).cast("long")
        % (1 << HLL_W)
    )
    rho = F.when(w == 0, F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W + 1) - F.length(F.bin(w))
    )
    return (
        df.select(
            F.col(key_col).alias("key"), j.alias("j"), rho.alias("rho")
        )
        .groupBy("key", "j")
        .agg(F.max("rho").alias("mx"))
    )


def hll_merge(*grids: DataFrame) -> DataFrame:
    """MAX-fold of register grids — the mergeable-state contract:
    merge(build(A), build(B)) == build(A ∪ B) exactly (idempotent, so
    replayed batches are harmless), property-pinned."""
    out = grids[0]
    for g in grids[1:]:
        out = out.unionByName(g)
    return out.groupBy("key", "j").agg(F.max("mx").alias("mx"))


def hll_estimate(grid: DataFrame, m: int = HLL_M) -> DataFrame:
    """Cardinality estimates from a register grid: (key,
    n_zero_registers, s24, hll_raw_est, est) — raw = integer
    alpha-corrected harmonic mean, est = linear counting from the
    shared table when the small-range condition holds (E ≤ 2.5m and
    empty registers exist), else raw. All integer arithmetic →
    bit-identical to the SQL oracle."""
    lc = _hll_lc_table(m)
    per_key = grid.groupBy("key").agg(
        (F.lit(m) - F.count("*")).cast("long").alias("v_zero"),
        (
            F.sum(
                F.expr(f"CAST(pow(2, {HLL_W} - mx) AS BIGINT)")
            )
            + (F.lit(m) - F.count("*")).cast("long") * (1 << HLL_W)
        ).alias("s24"),
    )
    raw = F.expr(
        f"CAST({HLL_ALPHA_NUM} AS BIGINT) * {m * m} * {1 << HLL_W}"
        f" DIV ({HLL_ALPHA_DEN} * s24)"
    )
    lc_est = F.element_at(F.lit(lc), F.col("n_zero_registers").cast("int"))
    small = (F.col("hll_raw_est") <= int(2.5 * m)) & (
        F.col("n_zero_registers") > 0
    )
    return (
        per_key.select(
            "key",
            F.col("v_zero").alias("n_zero_registers"),
            "s24",
            raw.alias("hll_raw_est"),
        )
        .select(
            "key",
            "n_zero_registers",
            "s24",
            "hll_raw_est",
            F.when(small, lc_est.cast("long"))
            .otherwise(F.col("hll_raw_est"))
            .alias("est"),
        )
    )


def write_hll_partial(
    batch_df: DataFrame,
    path: str,
    batch_id: int,
    key_col: str,
    value_col: str,
    m: int = HLL_M,
    salt: str = "hll",
) -> None:
    """Reduce one micro-batch to its register-grid partial and land it
    (register MAX is idempotent, so replays are exactly harmless —
    stronger than the additive sinks, which need the overwrite-same-dir
    discipline; this sink gets both)."""
    write_partial(hll_registers(batch_df, key_col, value_col, m, salt), path, batch_id)


def read_hll(spark, path: str, max_b: int | None = None) -> DataFrame:
    """Current folded registers: the per-(key, j) MAX over
    ``compaction.fold_inputs`` (``max_b`` is its fold bound)."""
    paths = fold_inputs(spark, path, max_b)
    if not paths:
        return spark.createDataFrame([], "key string, j bigint, mx int")
    return (
        spark.read.parquet(*paths)
        .groupBy("key", "j")
        .agg(F.max("mx").alias("mx"))
    )


def compact_hll(spark, path: str) -> int:
    """``compaction.compact_sink`` with the register MAX fold."""
    return compact_sink(spark, path, lambda b: read_hll(spark, path, b))


# ---------------------------------------------------------------------------
# KMV / theta-style bottom-k distinct sketch (Bar-Yossef, Jayram, Kumar,
# Sivakumar & Trevisan 2002, RANDOM: "Counting distinct elements in a
# data stream"; Beyer, Haas, Reinwald, Sismanis & Gemulla 2007, SIGMOD:
# "On synopses for distinct-value estimation under multiset operations")
# — the capability HLL registers CANNOT provide: SET OPERATIONS.
#
# HLL answers |A| per key; a training-data pipeline also asks |A ∩ B|
# ("how many users/documents does this source share with that one",
# "what fraction of eval-set fingerprints appear in train"). Register
# MAX destroys the sample needed for intersection; the KMV sketch keeps
# the k MINIMUM salted-md5 hash values per key — a uniform bottom-k
# SAMPLE of the distinct values — so two sketches intersect by plain
# hash equality, and the theta estimator turns match counts into
# cardinalities:  est(A) = (k-1)·2^48 DIV h_(k),
# est(A∩B) = |S_A ∩ S_B restricted to h <= θ_min| · 2^48 DIV θ_min,
# est(A∪B) = est(A) + est(B) - est(A∩B).
#
# All-integer arithmetic on 48-bit hashes ((k-1)·2^48 < 2^54 — no long
# overflow), so every estimate is bit-identical across engines; 48 bits
# keeps the birthday-collision probability negligible at test scale and
# the hash width is a documented knob (production: widen to 60 bits and
# divide through a right-shift, same arithmetic).
#
# Merge/fold: "union the hash sets, keep the k smallest" — associative,
# commutative, and IDEMPOTENT (min-k of a set ignores duplicates), so
# the sink-state story matches HLL's: replayed batches are harmless by
# algebra. Scale shape: the build's exchange is keyed by (key, h) after
# a map-side distinct partial; ``keep_ppm`` gates rows to h below a
# fixed threshold BEFORE the exchange (uniform hashes ⇒ survivors ≈
# distinct · ppm/1e6), the same fixed-probability knob as DOULION's p —
# at 100 TB pick ppm so expected survivors ≈ 64·k and the exchange is
# sketch-sized, not corpus-sized. The gate is LOSSLESS whenever ≥ k
# survivors remain per key (everything above the threshold is above
# h_(k)), property-pinned.
# ---------------------------------------------------------------------------

KMV_K = 64  # bottom-k size; relative error ~ 1/sqrt(k-2) ~ 13%
KMV_BITS = 48  # hash width (12 md5 hex digits)
KMV_FULL = 1 << KMV_BITS  # theta for a sketch that saw < k distinct

def kmv_keep_policy(n_rows: int) -> "int | Fraction | None":
    """Recommended ``keep_ppm`` gate as a function of input row count —
    THE 100 TB knob for KMV builds, mirroring ``doulion_keep_policy``
    (operators/graph.py): a fixed, deterministic tier ladder so the
    gate stays a pure integer-threshold filter (replayable,
    partition-independent, oracle-exact).

    Why a policy and not "always gate": the UNGATED build's per-key
    aggregation state is O(distinct values of that key) — a hot key on
    a 100 TB table would blow the ``collect_set`` buffer before the
    ``slice`` to k ever runs. The gate bounds survivors at
    ≈ distinct·ppm/1e6 BEFORE the exchange; losslessness holds whenever
    ≥ k hashes survive (everything above the gate is above h_(k)),
    and the fixed-threshold estimator compensates exactly when fewer
    do. Tier rule: one decade of rows per tier, ppm falling 10× per
    decade from 200 000 (the profiled r10 operating point) with
    ``ppm · tier_end = 2·10¹³`` held invariant — so the WORST-CASE
    per-key state (one key owning every row, all values distinct,
    survivors = n·ppm/1e6) is ≤ 2·10⁷ hashes (~160 MB, spillable)
    anywhere inside any tier, and the EXPECTED state for real key
    distributions is orders of magnitude below that. Keys with
    ≥ 64·10⁶/ppm distinct values stay fully lossless (≥ k survivors);
    smaller keys degrade smoothly to the scaled estimator with rel err
    ~ 1/sqrt(survivors):

    - n < 10⁷:            ungated (None) — exact bottom-k; worst-case
                          state 10⁷ set entries (~80 MB) only if a
                          single key owns every row;
    - 10⁷ ≤ n < 10⁸:      200 000 ppm (keep 1/5);
    - 10⁸ ≤ n < 10⁹:      20 000 ppm; … 10× down per decade …
    - 10¹² ≤ n < 10¹³:    2 ppm (a 10¹³-row single-key table still
                          leaves ~2·10⁷ survivors ≫ k);
    - 10¹³ ≤ n:           exact-Fraction sub-ppm tiers, one decade
                          each, down to the 10²⁰ scope cap (below).

    Sub-ppm continuation (r12 verdict ask #6): past the 2-ppm integer
    floor the ladder keeps descending — 0.2 ppm at [10¹³, 10¹⁴),
    0.02 ppm at [10¹⁴, 10¹⁵), … — expressed as an exact
    ``fractions.Fraction`` so ``_gate_of``'s integer arithmetic
    ((2⁴⁸·ppm) DIV 10⁶) stays bit-exact across engines (a float ppm
    would drift). The ppm·tier_end = 2·10¹³ invariant therefore holds
    at EVERY tier and the ≤ 2·10⁷ worst-case survivor bound is now
    universal up to the ladder's own scope cap at tier_end = 10²⁰
    (≈ 100 ZB of 1-byte rows — far past any table; the cap exists
    because three decades later the GATE itself would floor toward 0,
    and long before that the 48-bit hash width saturates: beyond
    ~10¹⁴ DISTINCT values per key, widen KMV_BITS — the documented
    production knob — before the ladder matters)."""
    if n_rows < 10_000_000:
        return None
    ppm, hi = 200_000, 100_000_000
    while n_rows >= hi and ppm > 2:
        ppm //= 10
        hi *= 10
    if n_rows >= hi:
        ppm = Fraction(ppm)
        while n_rows >= hi and hi < 10**20:
            ppm /= 10
            hi *= 10
    return ppm


def _resolve_keep_ppm(
    df: DataFrame, keep_ppm, n_rows: int | None
) -> int | None:
    """Resolve the build gate: an explicit int/None wins; ``"auto"``
    (the default) applies :func:`kmv_keep_policy` to ``n_rows`` when
    the caller knows it, else to ``catalog.row_bound(df, 10**7)``
    (footers, else a probe capped at the first gated tier)."""
    if keep_ppm != "auto":
        return keep_ppm
    if n_rows is None:
        n_rows = row_bound(df, 10**7)
    return kmv_keep_policy(n_rows)


def _gate_of(keep_ppm) -> int:
    # keep_ppm: int, exact Fraction (the sub-ppm ladder tiers), or
    # None; Fraction floor-div returns a plain int, so the gate stays
    # an exact integer threshold in every case
    return (
        KMV_FULL
        if keep_ppm is None
        else int((KMV_FULL * keep_ppm) // 1_000_000)
    )


def _kmv_hash(v, salt: str = "kmv"):
    """48-bit uniform hash: first 12 md5 hex digits of "salt:value" —
    identical arithmetic in the SQL oracle
    (CAST('0x' || substr(md5(...), 1, 12) AS BIGINT))."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), v)), 1, 12), 16, 10
    ).cast("long")


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: int = KMV_K,
    salt: str = "kmv",
    keep_ppm: int | None | str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """Build per-key bottom-k sketches: (key, hs, gate) with hs the
    sorted array of the k smallest distinct 48-bit hashes — at most k
    longs per key, ever — and gate the build threshold the sketch
    retains hashes below (2^48 when ungated). ``keep_ppm``
    (parts-per-million) pre-filters hashes below a fixed threshold
    before any aggregation — the corpus-independent scale knob:
    survivors ≈ distinct·ppm/1e6, so the (key, h) distinct exchange is
    bounded regardless of row count, and the sketch is UNCHANGED as
    long as ≥ k hashes survive per key.

    The DEFAULT is ``keep_ppm="auto"``: :func:`kmv_keep_policy` picks
    the tier from ``n_rows`` (or a bounded row probe), so the gated
    build is the default path above 10⁷ rows and per-key state is
    O(expected survivors), never O(distinct). The chosen gate travels
    INSIDE the sketch as the ``gate`` column — every downstream
    consumer (:func:`kmv_stats`, :func:`kmv_pair_overlap`,
    :func:`kmv_adjacent_overlap`, the sink fold) reads the gate the
    sketch was actually built with, so composing a gated build with
    any estimator cannot silently under-scale."""
    ppm = _resolve_keep_ppm(df, keep_ppm, n_rows)
    gate = _gate_of(ppm)
    h = _kmv_hash(F.col(value_col).cast("string"), salt)
    rows = df.select(F.col(key_col).alias("key"), h.alias("h"))
    if ppm is not None:
        rows = rows.where(F.col("h") < F.lit(gate))
    return (
        rows.groupBy("key")
        .agg(
            F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("hs")
        )
        .withColumn("gate", F.lit(gate).cast("long"))
    )


def kmv_sample(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: int = KMV_K,
    salt: str = "kmv",
    keep_ppm: int | None | str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """CONSISTENT uniform sample of DISTINCT values per key — the KMV
    sketch keeping the VALUES alongside their hashes: (key, sample,
    gate) with sample the array of (h, v) structs for the k smallest
    distinct 48-bit hashes. Because membership is decided by a fixed
    hash order (bottom-k / consistent sampling, Broder 1997 / Cohen &
    Kaplan 2007), the sample is: uniform over each key's distinct
    values; DETERMINISTIC across partitionings, replays, and engines;
    COORDINATED across keys and across days (the same value keeps the
    same hash, so samples stay comparable — resampling tomorrow's data
    re-selects yesterday's survivors plus/minus real churn, never
    reshuffling the pick); and MERGEABLE by the same min-k fold as the
    counting sketch. This is the eval-set / human-inspection primitive:
    'give me a stable uniform sample of distinct users (documents,
    urls) per segment' served from sketch-sized state. Gate semantics
    identical to :func:`kmv_sketch`."""
    ppm = _resolve_keep_ppm(df, keep_ppm, n_rows)
    gate = _gate_of(ppm)
    v = F.col(value_col).cast("string")
    rows = df.select(
        F.col(key_col).alias("key"),
        F.struct(
            _kmv_hash(v, salt).alias("h"), v.alias("v")
        ).alias("hv"),
    )
    if ppm is not None:
        rows = rows.where(F.col("hv.h") < F.lit(gate))
    return (
        rows.groupBy("key")
        .agg(
            F.slice(F.array_sort(F.collect_set("hv")), 1, k).alias(
                "sample"
            )
        )
        .withColumn("gate", F.lit(gate).cast("long"))
    )


def kmv_sample_merge(*samples: DataFrame, k: int = KMV_K) -> DataFrame:
    """Min-k fold of value samples — same algebra as :func:`kmv_merge`
    (associative, commutative, idempotent; min gate + refilter), so
    per-batch/per-shard samples fold to exactly the one-shot sample."""
    out = samples[0]
    for s in samples[1:]:
        out = out.unionByName(s)
    folded = out.groupBy("key").agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("sample")))
        ).alias("s_all"),
        F.min("gate").alias("gate"),
    )
    return folded.select(
        "key",
        F.slice(
            F.filter(F.col("s_all"), lambda s: s["h"] < F.col("gate")),
            1,
            k,
        ).alias("sample"),
        "gate",
    )


def kmv_merge(*sketches: DataFrame, k: int = KMV_K) -> DataFrame:
    """Min-k fold of sketches — union the hash sets, keep the k
    smallest. Associative, commutative, IDEMPOTENT (set semantics), so
    merge(build(A), build(B)) == build(A ∪ B) exactly and replayed
    partials are harmless — both property-pinned.

    Gate algebra (the theta-sketch union rule): the merged gate is the
    MIN of the input gates, and retained hashes are re-filtered below
    it — a hash one input kept but another's tighter gate would have
    dropped is not valid common evidence. With equal gates (the normal
    case) both steps are no-ops."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    folded = out.groupBy("key").agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("hs")))
        ).alias("hs_all"),
        F.min("gate").alias("gate"),
    )
    return folded.select(
        "key",
        F.slice(
            F.filter(F.col("hs_all"), lambda h: h < F.col("gate")), 1, k
        ).alias("hs"),
        "gate",
    )


def kmv_stats(
    sk: DataFrame, k: int = KMV_K, keep_ppm: int | None = None
) -> DataFrame:
    """Per-key cardinality estimates from a sketch: (key, kmv_size,
    theta, est) — the fixed-threshold theta-sketch estimator. With
    fewer than k retained hashes the effective theta is the BUILD
    GATE's threshold (2^48 when ungated — every hash was retained, so
    est = size·2^48 DIV 2^48 = size, EXACT); at k or more it is h_(k)
    and est = (k-1)·2^48 DIV h_(k), the classic KMV form. One integer
    formula covers gated and ungated builds.

    The gate is read from the sketch's own ``gate`` column (present on
    every sketch :func:`kmv_sketch`/:func:`kmv_merge`/:func:`read_kmv`
    produce — composition-safe by construction); ``keep_ppm`` is the
    fallback only for a bare (key, hs) frame from an external source."""
    gate = (
        F.col("gate").cast("long")
        if "gate" in sk.columns
        else F.lit(_gate_of(keep_ppm)).cast("long")
    )
    size = F.size("hs")
    theta = F.when(size < k, gate).otherwise(
        F.element_at("hs", k).cast("long")
    )
    return sk.select(
        "key",
        size.cast("long").alias("kmv_size"),
        theta.alias("theta"),
        gate.alias("_gate"),
        "hs",
    ).select(
        "key",
        "kmv_size",
        "theta",
        F.when(
            F.col("kmv_size") < k,
            F.expr(f"kmv_size * CAST({KMV_FULL} AS BIGINT) DIV _gate"),
        )
        .otherwise(
            F.expr(f"CAST({(k - 1) * KMV_FULL} AS BIGINT) DIV theta")
        )
        .alias("est"),
        "hs",
    )


def kmv_pair_overlap(sk: DataFrame, k: int = KMV_K) -> DataFrame:
    """Pairwise set-operation estimates between every two keys that
    share at least one retained hash — the theta-sketch intersection.

    Shape (the reason this is scale-safe): sketches EXPLODE to (key, h)
    rows (≤ k per key) and pairs materialize through a hash EQUI-JOIN
    on h — never a key×key nested loop — so work is proportional to
    shared evidence, and the per-key stats table (≤ #keys rows)
    broadcasts onto the pair aggregate. Estimators, all integer:
    θ_min = least(θ_a, θ_b); n_match counts shared hashes ≤ θ_min
    (every sketch holds ALL its hashes below its own θ, so the window
    below θ_min is a complete uniform sample of A∩B);
    est_inter = n_match·2^48 DIV θ_min (exact when θ_min = 2^48);
    est_union = est_a + est_b - est_inter (inclusion-exclusion);
    jaccard_ppm = est_inter·1e6 DIV est_union. Pairs sharing NO hash
    are absent by contract (their est_inter rounds to 0 evidence).
    Emits (key_a, key_b, n_match, theta_min, est_a, est_b, est_inter,
    est_union, jaccard_ppm)."""
    st = kmv_stats(sk, k).select("key", "theta", "est")
    flat = sk.select("key", F.explode("hs").alias("h"))
    a = flat.select(F.col("key").alias("key_a"), "h")
    b = flat.select(F.col("key").alias("key_b"), "h")
    pairs = (
        a.join(b, "h")
        .where(F.col("key_a") < F.col("key_b"))
        .join(
            F.broadcast(
                st.select(
                    F.col("key").alias("key_a"),
                    F.col("theta").alias("theta_a"),
                    F.col("est").alias("est_a"),
                )
            ),
            "key_a",
        )
        .join(
            F.broadcast(
                st.select(
                    F.col("key").alias("key_b"),
                    F.col("theta").alias("theta_b"),
                    F.col("est").alias("est_b"),
                )
            ),
            "key_b",
        )
    )
    agg = (
        pairs.withColumn("theta_min", F.least("theta_a", "theta_b"))
        .groupBy("key_a", "key_b", "theta_min", "est_a", "est_b")
        .agg(
            F.sum(
                F.when(F.col("h") <= F.col("theta_min"), 1).otherwise(0)
            ).alias("n_match")
        )
    )
    est_inter = F.when(
        F.col("theta_min") >= KMV_FULL, F.col("n_match")
    ).otherwise(
        F.expr(f"n_match * CAST({KMV_FULL} AS BIGINT) DIV theta_min")
    )
    return (
        agg.withColumn("est_inter", est_inter)
        .withColumn(
            "est_union",
            F.col("est_a") + F.col("est_b") - F.col("est_inter"),
        )
        .withColumn(
            "jaccard_ppm",
            F.expr("est_inter * CAST(1000000 AS BIGINT) DIV est_union"),
        )
        .select(
            "key_a",
            "key_b",
            "n_match",
            "theta_min",
            "est_a",
            "est_b",
            "est_inter",
            "est_union",
            "jaccard_ppm",
        )
    )


def write_kmv_partial(
    batch_df: DataFrame,
    path: str,
    batch_id: int,
    key_col: str,
    value_col: str,
    k: int = KMV_K,
    salt: str = "kmv",
    keep_ppm: int | None = None,
    n_rows: int | None = None,
) -> None:
    """Reduce one micro-batch to its bottom-k partial (stored FLAT as
    (key, h, gate) rows — ≤ k per key, gate constant per partial) and
    land it (min-k is idempotent, so replays are exactly harmless, like
    the HLL sink and unlike the additive ones).

    ``keep_ppm`` defaults to None (ungated), NOT "auto": a streaming
    frame is not file-backed, so "auto" would fall through to the
    bounded row probe — an extra pass over EVERY micro-batch, run
    eagerly inside the sink (r11 ADVICE #2) — and a single micro-batch
    at any sane trigger sits far below the 10⁷-row first tier anyway.
    Callers whose batches do exceed 10⁷ rows pass an explicit ppm, or
    ``keep_ppm="auto"`` with the batch row count threaded in as
    ``n_rows`` (foreachBatch owners usually know it). All existing
    sinks' partials are bit-identical under this default: their
    batches probed under 10⁷ and resolved to ungated."""
    sketch = kmv_sketch(batch_df, key_col, value_col, k, salt, keep_ppm, n_rows)
    write_partial(
        sketch.select("key", F.explode("hs").alias("h"), "gate"), path, batch_id
    )


def _kmv_sink_read_raw(
    spark, path: str, max_b: int | None = None
) -> DataFrame | None:
    """Shared KMV-sink read: the flat rows of ``compaction.fold_inputs``
    (``max_b`` is its fold bound), mergeSchema-read (with
    mixed-generation partials, single-file schema inference could
    silently DROP the gate column — footer merge is O(metadata) and
    guarantees the union schema), with the legacy-gate migration (r11
    ADVICE #3): partials written before the gate column existed are
    ungated builds by construction, so a missing gate column — or NULL
    gates under schema merge — reads as KMV_FULL. min(gate) downstream
    then applies the theta-union rule across generations exactly.
    Returns None when the sink is empty."""
    paths = fold_inputs(spark, path, max_b)
    if not paths:
        return None
    raw = spark.read.option("mergeSchema", "true").parquet(*paths)
    if "gate" not in raw.columns:
        return raw.withColumn("gate", F.lit(KMV_FULL).cast("long"))
    return raw.withColumn(
        "gate", F.coalesce(F.col("gate"), F.lit(KMV_FULL)).cast("long")
    )


def read_kmv(
    spark, path: str, k: int = KMV_K, max_b: int | None = None
) -> DataFrame:
    """Current folded sketch: the per-key min-k fold of the sink's flat
    rows. Returns the (key, hs, gate) array form; the folded gate is the
    MIN over contributing partials and hashes are re-filtered below it
    (theta-union rule). ``max_b`` is the fold bound."""
    raw = _kmv_sink_read_raw(spark, path, max_b)
    if raw is None:
        return spark.createDataFrame(
            [], "key string, hs array<bigint>, gate bigint"
        )
    folded = raw.groupBy("key").agg(
        F.array_sort(F.collect_set("h")).alias("hs_all"),
        F.min("gate").alias("gate"),
    )
    return folded.select(
        "key",
        F.slice(
            F.filter(F.col("hs_all"), lambda h: h < F.col("gate")), 1, k
        ).alias("hs"),
        "gate",
    )


def compact_kmv(spark, path: str, k: int = KMV_K) -> int:
    """``compaction.compact_sink`` with the min-k fold, snapshotted as
    flat (key, h, gate) rows."""
    return compact_sink(
        spark,
        path,
        lambda b: read_kmv(spark, path, k, max_b=b).select(
            "key", F.explode("hs").alias("h"), "gate"
        ),
    )


# ---------------------------------------------------------------------------
# KMV VALUE-SAMPLE sink — kmv_sample (the consistent distinct-value
# sampler) maintained as sink-is-the-state, completing the family: the
# counting sketch's sink (above) keeps bare hashes; this one keeps the
# (h, v) pairs, so the sink continuously serves "a stable uniform
# sample of each key's distinct values" without rescanning the corpus.
# Same crash contract as every sketch sink (committed partials +
# snapshot watermark), same min-k fold algebra (associative,
# commutative, idempotent — replays harmless), same min-gate +
# refilter theta-union rule, same legacy-gate migration as read_kmv.
# Served by the registry entry streaming_user_value_sample_kmv
# (queries_streaming.py).
# ---------------------------------------------------------------------------


def _flat_sample(sample: DataFrame) -> DataFrame:
    """(key, sample, gate) → the sink's flat (key, h, v, gate) rows."""
    return sample.select(
        "key", F.explode("sample").alias("hv"), "gate"
    ).select("key", F.col("hv.h").alias("h"), F.col("hv.v").alias("v"), "gate")


def write_kmv_sample_partial(
    batch_df: DataFrame,
    path: str,
    batch_id: int,
    key_col: str,
    value_col: str,
    k: int = KMV_K,
    salt: str = "kmv",
    keep_ppm: int | None = None,
    n_rows: int | None = None,
) -> None:
    """Reduce one micro-batch to its bottom-k VALUE sample partial
    (stored FLAT as (key, h, v, gate) rows — ≤ k per key) and land it.
    Gate default ungated for the same reason as
    :func:`write_kmv_partial` (no per-batch probe; thread ``n_rows``
    for 10⁷+-row batches)."""
    sample = kmv_sample(batch_df, key_col, value_col, k, salt, keep_ppm, n_rows)
    write_partial(_flat_sample(sample), path, batch_id)


def read_kmv_sample(
    spark, path: str, k: int = KMV_K, max_b: int | None = None
) -> DataFrame:
    """Current folded value sample: the per-key min-k fold of the
    sink's flat rows. Returns the (key, sample array<struct<h,v>>,
    gate) form of :func:`kmv_sample`;
    folded gate = MIN over contributors, pairs re-filtered below it
    (theta-union rule). Legacy gate-less partials read as KMV_FULL,
    like :func:`read_kmv` (shared ``_kmv_sink_read_raw`` plumbing);
    ``max_b`` is the fold bound."""
    raw = _kmv_sink_read_raw(spark, path, max_b)
    if raw is None:
        return spark.createDataFrame(
            [],
            "key string, sample array<struct<h:bigint,v:string>>, "
            "gate bigint",
        )
    folded = (
        raw.select("key", F.struct("h", "v").alias("hv"), "gate")
        .groupBy("key")
        .agg(
            F.array_sort(F.collect_set("hv")).alias("s_all"),
            F.min("gate").alias("gate"),
        )
    )
    return folded.select(
        "key",
        F.slice(
            F.filter(F.col("s_all"), lambda s: s["h"] < F.col("gate")),
            1,
            k,
        ).alias("sample"),
        "gate",
    )


def compact_kmv_sample(spark, path: str, k: int = KMV_K) -> int:
    """``compaction.compact_sink`` with the min-k fold, snapshotted as
    flat (key, h, v, gate) rows."""
    return compact_sink(
        spark,
        path,
        lambda b: _flat_sample(read_kmv_sample(spark, path, k, max_b=b)),
    )


# ---------------------------------------------------------------------------
# CMS sink-is-the-state maintenance — the count-min grid as an additive
# MV (same crash contract as the other sketch sinks): per-batch partial
# grids land idempotently, fold by cell-wise SUM, and the folded grid
# serves frequency estimates without rescanning the corpus. Completes
# the sketch family's state story: CMS (sum), HLL (max), quantile
# histogram (sum) — all bounded, all mergeable, all servable from sink.
# ---------------------------------------------------------------------------


def write_cms_partial(
    batch_df: DataFrame,
    path: str,
    batch_id: int,
    depth: int = 4,
    width: int = 1024,
    text_col: str = "text",
) -> None:
    """Reduce one micro-batch to its (j, b, cnt) partial grid and land
    it."""
    write_partial(token_cms(batch_df, depth, width, text_col), path, batch_id)


def read_cms(spark, path: str, max_b: int | None = None) -> DataFrame:
    """Current folded grid: the per-cell SUM over
    ``compaction.fold_inputs``. ``max_b`` is its fold bound — for an
    ADDITIVE fold it is load-bearing for correctness, not just vacuum
    safety: a partial folded into a snapshot labeled above its batch id
    would ALSO be read as still-unfolded afterwards and double-count."""
    paths = fold_inputs(spark, path, max_b)
    if not paths:
        return spark.createDataFrame([], "j int, b bigint, cnt bigint")
    return (
        spark.read.parquet(*paths)
        .groupBy("j", "b")
        .agg(F.sum("cnt").alias("cnt"))
    )


def compact_cms(spark, path: str) -> int:
    """``compaction.compact_sink`` with the per-cell SUM fold."""
    return compact_sink(spark, path, lambda b: read_cms(spark, path, b))


def kmv_adjacent_overlap(
    paired: DataFrame,
    hs_a_col: str = "hs_a",
    hs_b_col: str = "hs_b",
    k: int = KMV_K,
    gate_a_col: str | None = None,
    gate_b_col: str | None = None,
) -> DataFrame:
    """Theta-sketch set ops evaluated PER ROW over two sketch arrays
    already joined side by side (the windowed/adjacent-pair shape:
    yesterday's sketch vs today's) — no explode, no second shuffle:
    everything is bounded array arithmetic on <= k-element columns.
    Adds (theta_min, n_match, est_a, est_b, est_inter, est_union) to
    the input row; estimators identical to :func:`kmv_pair_overlap`.

    ``gate_a_col``/``gate_b_col`` name the per-side build-gate columns
    (carry them alongside the hs arrays when pairing gated sketches) —
    an under-full side's theta is then ITS gate, and its own estimate
    scales by the inverse keep rate, exactly like :func:`kmv_stats`.
    Omitted gates default to 2^48, valid ONLY for ungated builds."""

    def _gate(col_name):
        return (
            F.col(col_name).cast("long")
            if col_name is not None
            else F.lit(KMV_FULL).cast("long")
        )

    def _theta(c, gate):
        return F.when(F.size(c) < k, gate).otherwise(
            F.element_at(c, k).cast("long")
        )

    a, b = F.col(hs_a_col), F.col(hs_b_col)
    ga, gb = _gate(gate_a_col), _gate(gate_b_col)
    out = (
        paired.withColumn("theta_a", _theta(a, ga))
        .withColumn("theta_b", _theta(b, gb))
        .withColumn("theta_min", F.least("theta_a", "theta_b"))
        .withColumn(
            "n_match",
            F.size(
                F.filter(
                    F.array_intersect(a, b),
                    lambda h: h <= F.col("theta_min"),
                )
            ).cast("long"),
        )
        .withColumn(
            "est_a",
            F.when(
                F.size(a) < k,
                F.expr(
                    f"size({hs_a_col}) * CAST({KMV_FULL} AS BIGINT)"
                    " DIV theta_a"
                ),
            ).otherwise(
                F.expr(f"CAST({(k - 1) * KMV_FULL} AS BIGINT) DIV theta_a")
            ),
        )
        .withColumn(
            "est_b",
            F.when(
                F.size(b) < k,
                F.expr(
                    f"size({hs_b_col}) * CAST({KMV_FULL} AS BIGINT)"
                    " DIV theta_b"
                ),
            ).otherwise(
                F.expr(f"CAST({(k - 1) * KMV_FULL} AS BIGINT) DIV theta_b")
            ),
        )
        .withColumn(
            "est_inter",
            F.when(
                F.col("theta_min") >= KMV_FULL, F.col("n_match")
            ).otherwise(
                F.expr(
                    f"n_match * CAST({KMV_FULL} AS BIGINT) DIV theta_min"
                )
            ),
        )
        .withColumn(
            "est_union",
            F.col("est_a") + F.col("est_b") - F.col("est_inter"),
        )
        .drop("theta_a", "theta_b")
    )
    return out
