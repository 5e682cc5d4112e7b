"""Batch sessionization: gap-based session assignment over an event log.

The batch twin of streaming session windows (streaming/windows.py uses
``session_window``; Structured Streaming owns the online case): split
each user's event sequence wherever the gap to the previous event
exceeds ``gap``, then aggregate per session. The classic two-window
formulation — mark session starts with ``lag``, number sessions with a
running sum of start flags — is one shuffle on the user key reused by
both windows and the final groupBy (same-key windows/aggregations share
the hash partitioning; no extra exchange at any scale).

Generalizes the reference's keyed-aggregation class (SURVEY.md §2.10,
spark_airports_final.py:67-74) to ordered event analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .compaction import fold_inputs, write_partial


def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-session rollup: (user, session ordinal, start, event count,
    duration, exact-cents value sum).

    Event times compare in exact epoch microseconds (timestamp_ntz cast
    to UTC timestamp is exact under the session's pinned UTC zone), so
    the gap predicate and every derived column are engine-identical.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w_ord = Window.partitionBy(user_col).orderBy(ts_col)
    gap_us = F.lit(gap_seconds * 1_000_000)

    flagged = events.select(
        user_col,
        F.col(ts_col),
        us.alias("_us"),
        F.when(
            F.lag(us).over(w_ord).isNull() | ((us - F.lag(us).over(w_ord)) > gap_us),
            1,
        )
        .otherwise(0)
        .alias("_new_session"),
        F.round(F.col(value_col) * 100).cast("long").alias("_cents"),
    )
    with_sid = flagged.select(
        user_col,
        ts_col,
        "_us",
        "_cents",
        F.sum("_new_session").over(w_ord).alias("session_id"),
    )
    return (
        with_sid.groupBy(user_col, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.count("*").alias("n_events"),
            (F.max("_us") - F.min("_us")).alias("duration_us"),
            F.sum("_cents").alias("sum_value_cents"),
        )
    )


def session_event_sequences(
    events: DataFrame,
    gap_seconds: int = 1800,
    pattern: str = "v[^p]*c[^p]*p",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Sequence-pattern matching over sessions — the MATCH_RECOGNIZE /
    CEP stand-in: render each session's events (ordered by (ts, id) —
    fully deterministic under timestamp ties) as a compact initials
    string and count non-overlapping regex matches of ``pattern``
    (default: a view→click→purchase conversion with no intervening
    purchase).

    The order-SENSITIVE aggregation is the interesting part at scale:
    ``collect_list`` order is partition-dependent, so the sequence is
    built as ``array_sort(collect_list(struct(us, id, ini)))`` — the
    sort key rides inside the collected struct and the ordering is
    re-established per group, independent of task layout. One shuffle
    on the user key shared by the session windows and the final
    groupBy; per-group state is bounded by session length, not corpus
    size. The regex is RE2-safe (char classes only) so Spark and any
    RE2 engine count identical non-overlapping leftmost matches.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w_ord = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap_us = F.lit(gap_seconds * 1_000_000)
    flagged = events.select(
        user_col,
        F.col(ts_col),
        F.col(id_col),
        us.alias("_us"),
        F.substring(F.col(type_col), 1, 1).alias("_ini"),
        F.when(
            F.lag(us).over(w_ord).isNull()
            | ((us - F.lag(us).over(w_ord)) > gap_us),
            1,
        )
        .otherwise(0)
        .alias("_ns"),
    )
    with_sid = flagged.select(
        user_col,
        "_us",
        id_col,
        "_ini",
        F.sum("_ns").over(w_ord).alias("session_id"),
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("_us", id_col, "_ini"))
            ),
            lambda x: x["_ini"],
        ),
        "",
    )
    return (
        with_sid.groupBy(user_col, "session_id")
        .agg(
            F.count("*").alias("n_events"),
            seq.alias("seq"),
        )
        .select(
            user_col,
            "session_id",
            "n_events",
            "seq",
            F.regexp_count(F.col("seq"), F.lit(pattern))
            .cast("long")
            .alias("n_conversions"),
        )
    )


def user_value_trend(df: DataFrame) -> DataFrame:
    """Per-user linear trend of event value over time — closed-form OLS
    fitted IN the engine: one pass accumulates exact int64 sums (n, Σx,
    Σy, Σxy, Σx²) per user and the slope/intercept come from the normal
    equations — no iteration, no collect; exchanges key on user_id and the
    min-ts join is AQE's choice (broadcast when the per-user table
    fits, co-partitioned SMJ at scale — never a cartesian).
    The per-entity drift detector a monitoring pipeline runs over every
    key at corpus scale.

    Numeric contract (the z-score/exactmath discipline): x = seconds
    since the USER's first event (int64 — centering keeps Σx² well
    inside int64 at any realistic span/count), y = exact cents. The
    final slope/intercept combine those identical int64s as IEEE
    doubles in a fixed expression shape, so both engines compute
    bit-identical values; outputs quantized to micro-units for the
    hash gate. Users with a singular design (n < 2 or zero x-variance)
    emit NULL slope/intercept rather than ±Inf.

    Output: (user_id, n_events, span_seconds, slope_ucents_per_hour,
    intercept_ucents).
    """
    um = F.unix_micros(F.col("ts").cast("timestamp"))
    cents = F.round(F.col("value") * 100).cast("long")
    base = df.select("user_id", um.alias("um"), cents.alias("cy"))
    lo = base.groupBy("user_id").agg(F.min("um").alias("um0"))
    xy = base.join(lo, "user_id").select(
        "user_id",
        ((F.col("um") - F.col("um0")) / F.lit(1_000_000))
        .cast("long")
        .alias("x"),
        F.col("cy").alias("y"),
    )
    s = xy.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.max("x").alias("span_seconds"),
    )
    n, sx, sy, sxy, sxx = (
        F.col("n").cast("double"),
        F.col("sx").cast("double"),
        F.col("sy").cast("double"),
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
    )
    den = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / den
    intercept = (sy - slope * sx) / n
    return s.select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        F.col("span_seconds").cast("long").alias("span_seconds"),
        F.when(
            den > 0,
            F.round(slope * 3_600 * 1_000_000).cast("long"),
        ).alias("slope_ucents_per_hour"),
        F.when(
            den > 0, F.round(intercept * 1_000_000).cast("long")
        ).alias("intercept_ucents"),
    )


# 2024-01-01T00:00:00Z in epoch microseconds — the fixed x-origin of the
# INCREMENTAL trend fit (a per-user origin like user_value_trend's would
# depend on the global min and break batch additivity).
TREND_EPOCH_US = 1_704_067_200_000_000


def trend_sums(df: DataFrame) -> DataFrame:
    """Per-user ADDITIVE normal-equation sums for the incremental trend
    fit: x = whole hours since the fixed ``TREND_EPOCH_US`` origin, y =
    exact cents; emits (user_id, n, sx, sy, sxy, sxx) as int64. Because
    every component is a plain sum over disjoint event sets, partials
    from different micro-batches FOLD BY SUMMATION — model fitting as a
    materialized view, the same sink-is-the-state contract as the
    aggregate MV. Hour-grain x keeps sxx far inside int64 at any
    realistic span x event count (26k hours/3y squared times 1e9 events
    ~ 7e17)."""
    x = (
        (F.unix_micros(F.col("ts").cast("timestamp")) - TREND_EPOCH_US)
        / F.lit(3_600_000_000)
    ).cast("long")
    y = F.round(F.col("value") * 100).cast("long")
    return (
        df.select("user_id", x.alias("x"), y.alias("y"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )


def trend_fit_from_sums(s: DataFrame) -> DataFrame:
    """Closed-form per-user OLS from folded normal-equation sums (the
    read side of the incremental fit): identical IEEE-double expression
    shape as ``user_value_trend`` so both engines agree bit-for-bit.
    Emits (user_id, n_events, slope_ucents_per_hour, mean_cents_micro);
    singular designs (n < 2 or zero x-variance) yield NULL slope."""
    n, sx, sy, sxy, sxx = (
        F.col("n").cast("double"),
        F.col("sx").cast("double"),
        F.col("sy").cast("double"),
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
    )
    den = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / den
    return s.select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        F.when(den > 0, F.round(slope * 1_000_000).cast("long")).alias(
            "slope_ucents_per_hour"
        ),
        F.round((sy / n) * 1_000_000).cast("long").alias("mean_cents_micro"),
    )


def write_trend_partial(batch_df: DataFrame, path: str, batch_id: int) -> None:
    """Land one micro-batch's per-user sums (the aggregate-MV sink
    contract, model-fit flavored)."""
    write_partial(trend_sums(batch_df), path, batch_id)


def read_trend_fit(spark: SparkSession, path: str) -> DataFrame:
    """The incrementally-maintained model: fold every committed partial
    by per-user summation (sums are additive across disjoint batches)
    and fit closed-form. Per-batch maintenance cost is O(users touched
    in the batch); the raw event history is never re-scanned."""
    paths = fold_inputs(spark, path)
    if not paths:
        return spark.createDataFrame(
            [],
            "user_id bigint, n_events bigint,"
            " slope_ucents_per_hour bigint, mean_cents_micro bigint",
        )
    folded = spark.read.parquet(*paths).groupBy("user_id").agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxy").alias("sxy"),
        F.sum("sxx").alias("sxx"),
    )
    return trend_fit_from_sums(folded)
