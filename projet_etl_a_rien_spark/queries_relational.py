"""Relational registry: TPC-H, warehouse SQL shapes and event-log analytics.

All 22 TPC-H query patterns, the set-operation / grouping-set / window /
pivot surface of SURVEY.md §2.10, the join operators (as-of, range,
salted, grid proximity), SCD2, CDC merge, snapshot diff and compaction
sinks over the TPC-H-lite and ``events`` fixtures, plus the table-format
round trips (ORC, CSV, XML, JSON lines, schema evolution, API ingest).

Same parity rules as queries.py: exact-cents money math
(functions/exactmath.py), identical column aliases both sides, total
tie-break ordering on every top-k.

TPC-H fixture adaptations (the structural pattern each query exists to
exercise is preserved; only missing columns are substituted). Q11/Q20
are *about* the ``partsupp`` table the fixtures don't ship, so they run
over a partsupp DERIVED from lineitem (see ``_PS_CTE``) — both engines
derive it identically, keeping the query shapes faithful without
inventing data.

- Q2: no ``partsupp`` → lineitem is the part↔supplier bridge and
  "supply cost" is min(l_extendedprice / l_quantity); the correlated-MIN
  scalar subquery + join-back shape is intact.
- Q4: no l_commitdate/l_receiptdate → "late" = shipped ≥ 60 days after
  the order date; correlated EXISTS with a non-equi predicate intact.
- Q8: market share by supplier nation needs no missing column — full
  8-relation join, two roles for ``nation``.
- Q9: no ps_supplycost → profit is revenue-only; LIKE filter +
  two-role-nation + year rollup intact.
- Q12: no l_shipmode/l_commitdate → groups by l_linestatus over a
  shipdate year; the conditional-priority-count pivot intact.
- Q13: no o_comment → the order-exclusion predicate is a priority
  filter; outer-join + double aggregation intact.
- Q16: no ``partsupp`` → distinct suppliers via lineitem; no s_comment →
  the NOT IN supplier exclusion keys on negative account balance.
- Q17: no p_container → brand-only part filter; the per-part 0.2·avg
  correlated scalar intact (quantities are whole numbers stored as
  double, so AVG is fp-exact and order-independent).
- Q19: no l_shipinstruct/l_shipmode/p_container → the OR-of-ANDs uses
  (brand, size range, quantity range) triples; disjunctive
  join-predicate pushdown intact.
- Q21: no receipt/commit dates → "the one at fault" = the only supplier
  with a returned line on a multi-supplier finished order; the
  EXISTS + NOT EXISTS double correlation intact.

Ratio results divide identically-computed int64 sums so both engines
produce the same double. Plans: dims broadcast, fact shuffles once per
agg key, top-k via orderBy+limit with total tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .catalog import load_table, widen_input
from .functions.exactmath import avg_money, cents, sum_money, sum_product_money
from .operators.asof import asof_join
from .operators.scd import scd2_from_log
from .operators.sessions import sessionize
from .queries import register


# --------------------------------------------------------------------------
# Generalized relational analytics (SURVEY.md §2.10 / §7 step 2)
# --------------------------------------------------------------------------


@register(
    "tpch_q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_disc_price,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_charge,
       SUM(l_quantity) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(l_extendedprice) AS avg_price,
       CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 pricing summary: scan-filter-groupBy with map-side partial agg; exact-cents money math.",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where("l_shipdate <= TIMESTAMP_NTZ'1998-09-02 00:00:00'")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            sum_money("l_extendedprice").alias("sum_base_price"),
            sum_product_money("l_extendedprice", 1 - F.col("l_discount")).alias(
                "sum_disc_price"
            ),
            sum_product_money(
                "l_extendedprice", 1 - F.col("l_discount"), 1 + F.col("l_tax")
            ).alias("sum_charge"),
            (F.sum("l_quantity") / F.count("*")).alias("avg_qty"),
            avg_money("l_extendedprice").alias("avg_price"),
            avg_money("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "tpch_q6_forecast_revenue",
    """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6: tight filter + global sum; predicates push to the parquet scan.",
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            "l_shipdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'"
            " AND l_shipdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'"
            " AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"
        ).agg(sum_product_money("l_extendedprice", "l_discount").alias("revenue"))
    )


@register(
    "tpch_q3_top_orders",
    """
SELECT o.o_orderkey,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
    doc="TPC-H Q3 shape: selective dim filter, 3-way join (customer side broadcastable), group + deterministic top-k.",
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        "o_orderdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'"
    )
    l = load_table(spark, sf_dir, "lineitem").where(
        "l_shipdate > TIMESTAMP_NTZ'1996-01-01 00:00:00'"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            sum_product_money("l_extendedprice", 1 - F.col("l_discount")).alias(
                "revenue"
            )
        )
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "regional_revenue",
    """
SELECT r.r_name AS region, n.n_name AS nation,
       COUNT(*) AS n_lineitems,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY r.r_name, n.n_name
""",
    doc="5-way star join region⋈nation⋈customer⋈orders⋈lineitem; dims broadcast, one fact shuffle.",
)
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_lineitems"),
            sum_product_money("l_extendedprice", 1 - F.col("l_discount")).alias(
                "revenue"
            ),
        )
    )


@register(
    "mktsegment_stats",
    """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(c_acctbal) AS avg_acctbal,
       MIN(c_acctbal) AS min_acctbal,
       MAX(c_acctbal) AS max_acctbal,
       COUNT(DISTINCT c_nationkey) AS n_nations
FROM customer
GROUP BY c_mktsegment
""",
    doc="Keyed groupBy generalizing the reference's global-only aggs (SURVEY.md §2.5).",
)
def q_mktsegment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        avg_money("c_acctbal").alias("avg_acctbal"),
        F.min("c_acctbal").alias("min_acctbal"),
        F.max("c_acctbal").alias("max_acctbal"),
        F.count_distinct(F.col("c_nationkey")).alias("n_nations"),
    )


@register(
    "order_priority_rollup",
    """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_totalprice
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    doc="ROLLUP super-aggregates (grouping-sets family; absent in the reference, SURVEY.md §2.9).",
)
def q_order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        sum_money("o_totalprice").alias("sum_totalprice"),
    )


@register(
    "topk_customers_per_segment",
    """
SELECT c_mktsegment, c_custkey, c_acctbal, rn
FROM (
    SELECT c_mktsegment, c_custkey, c_acctbal,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal DESC, c_custkey) AS rn
    FROM customer
) t
WHERE rn <= 3
""",
    doc="Top-k per group via ranking window; total tie-break ordering keeps it deterministic.",
)
def q_topk_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
        ).where(F.col("rn") <= 3)
    )


@register(
    "customer_running_order_total",
    """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
FROM orders
""",
    doc="Running-total analytic window (exact cents; explicit ROWS frame).",
)
def q_customer_running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(cents("o_totalprice")).over(w).alias("running_cents"),
    )


@register(
    "building_customers_without_f_orders",
    """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
""",
    doc="Set difference (EXCEPT DISTINCT) — set-op family absent in the reference (SURVEY.md §2.9).",
)
def q_building_customers_without_f_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    left = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    right = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return left.subtract(right)


@register(
    "machinery_and_urgent_customers",
    """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""",
    doc="Set intersection (INTERSECT DISTINCT).",
)
def q_machinery_and_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    left = c.where(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    right = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return left.intersect(right)


@register(
    "customers_without_orders",
    """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    doc="Left anti join ↔ NOT EXISTS; Catalyst plans a broadcast anti join when the right side is small.",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "suppliers_with_returns",
    """
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'R'
)
""",
    doc="Left semi join ↔ EXISTS.",
)
def q_suppliers_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return s.join(l, s.s_suppkey == l.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


@register(
    "orders_by_year",
    """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_totalprice
FROM orders
GROUP BY 1
""",
    doc="Datetime extraction + multi-distinct aggregate.",
)
def q_orders_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.count("*").alias("n_orders"),
        F.count_distinct(F.col("o_custkey")).alias("n_customers"),
        sum_money("o_totalprice").alias("sum_totalprice"),
    )


@register(
    "part_type_brand_matrix",
    """
SELECT p_type, COUNT(*) AS n_parts,
       COUNT(DISTINCT p_brand) AS n_brands,
       CAST(SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(p_retailprice) AS avg_retail,
       MAX(p_size) AS max_size
FROM part
GROUP BY p_type
""",
    doc="Dimension profiling aggregate.",
)
def q_part_type_brand_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_type").agg(
        F.count("*").alias("n_parts"),
        F.count_distinct(F.col("p_brand")).alias("n_brands"),
        avg_money("p_retailprice").alias("avg_retail"),
        F.max("p_size").alias("max_size"),
    )


# --------------------------------------------------------------------------
# JSON / semi-structured (generalizes NiFi EvaluateJsonPath, tp.xml:543-559)
# --------------------------------------------------------------------------


@register(
    "events_json_kpi",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events
GROUP BY event_type
""",
    doc="JSON property extraction from events.props (get_json_object ↔ json_extract_string) + keyed KPIs.",
)
def q_events_json_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").try_cast("int")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        sum_money("value").alias("sum_value"),
    )


@register(
    "events_hourly",
    """
SELECT date_trunc('hour', ts) AS hour,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events
GROUP BY 1
""",
    doc="Event-time bucketing (batch form of the streaming tumbling window; ns→µs normalized in catalog).",
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count("*").alias("n_events"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        sum_money("value").alias("sum_value"),
    )


SESSION_GAP_SECONDS = 1800


@register(
    "events_sessionization",
    f"""
WITH flagged AS (
    SELECT user_id, ts, epoch_us(ts) AS us,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_SECONDS} * 1000000
                THEN 1 ELSE 0 END AS new_session,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sid AS (
    SELECT user_id, ts, us, cents,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM flagged
)
SELECT user_id, session_id,
       MIN(ts) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us,
       CAST(SUM(cents) AS BIGINT) AS sum_value_cents
FROM sid
GROUP BY user_id, session_id
""",
    doc="Batch gap-sessionization (30 min): lag-flag session starts, "
    "running-sum session ordinals, per-session rollup — the classic "
    "two-window form, one user-key shuffle reused by both windows and "
    "the final groupBy. Gap compares exact epoch microseconds. The "
    "batch twin of streaming_session_windows.",
)
def q_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(
        load_table(spark, sf_dir, "events"), gap_seconds=SESSION_GAP_SECONDS
    )


@register(
    "events_user_scd2",
    """
WITH o AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN lag(event_type) OVER w IS NULL
                  OR lag(event_type) OVER w <> event_type
                THEN 1 ELSE 0 END AS chg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT user_id, event_type AS status, ts,
           CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
    FROM o
),
dim AS (
    SELECT user_id, version, status,
           MIN(ts) AS valid_from,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM runs GROUP BY user_id, version, status
)
SELECT user_id, version, status, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       lead(valid_from) OVER w2 IS NULL AS is_current,
       n_events
FROM dim
WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
""",
    doc="SCD Type-2 dimension build from the event log: collapse each "
    "user's event_type history into validity intervals (gaps-and-islands "
    "lag-flag + running-sum versions), close each interval with lead. "
    "Every window and the groupBy share ONE hash partitioning on "
    "user_id; ordering made total with the event_id tiebreaker.",
)
def q_events_user_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scd2_from_log(load_table(spark, sf_dir, "events"))


ZBITS = 16
_Z_TERMS = " + ".join(
    f"((((ux >> {j}) & 1)::BIGINT) << {2 * j})"
    f" + ((((uy >> {j}) & 1)::BIGINT) << {2 * j + 1})"
    for j in range(ZBITS)
)


@register(
    "events_zorder_values",
    f"""
WITH c AS (
    SELECT event_id,
           ((user_id % {1 << ZBITS}) + {1 << ZBITS}) % {1 << ZBITS} AS ux,
           ((CAST(ROUND(value * 100) AS BIGINT) % {1 << ZBITS}) + {1 << ZBITS})
               % {1 << ZBITS} AS uy
    FROM events
)
SELECT event_id, CAST({_Z_TERMS} AS BIGINT) AS zval FROM c
""",
    doc="Morton/Z-order interleave of (user_id, value-cents) low 16 bits "
    "(sources/files.py:zorder_value) — the multi-dimensional clustering "
    "key write_zordered lays files out by, so min/max stats stay tight "
    "on BOTH dimensions and either predicate prunes. Closed-form int64 "
    "bit algebra, bit-identical across engines by construction.",
)
def q_events_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.files import zorder_value

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "event_id", zorder_value(F.col("user_id"), cents, ZBITS).alias("zval")
    )


_SCD2_DIM_CTES = """
o AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN lag(event_type) OVER w IS NULL
                  OR lag(event_type) OVER w <> event_type
                THEN 1 ELSE 0 END AS chg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT user_id, event_type AS status, ts,
           CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
    FROM o
),
dim AS (
    SELECT user_id, version, status, MIN(ts) AS valid_from
    FROM runs GROUP BY user_id, version, status
),
dim2 AS (
    SELECT user_id, version, status, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to
    FROM dim
)"""


@register(
    "events_scd2_pit_join",
    f"""
WITH {_SCD2_DIM_CTES}
SELECT e.event_id, e.user_id, d.version, d.status
FROM events e
JOIN dim2 d
  ON e.user_id = d.user_id
 AND e.ts >= d.valid_from
 AND (d.valid_to IS NULL OR e.ts < d.valid_to)
""",
    doc="Point-in-time join: each event enriched with the SCD2 dimension "
    "version VALID AT ITS EVENT TIME (the feature-store correctness "
    "pattern — training rows must see dimension state as-of the event, "
    "never later). Equi-join on the dimension key with validity-range "
    "post-filter, so the plan is one key-partitioned join, no broadcast "
    "of unbounded history. Interval semantics make the match total and "
    "unique: half-open [valid_from, valid_to), boundary events resolve "
    "to the later version, zero-length intervals match nothing.",
)
def q_events_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").alias("e")
    dim = scd2_from_log(load_table(spark, sf_dir, "events")).alias("d")
    return ev.join(
        dim,
        (F.col("e.user_id") == F.col("d.user_id"))
        & (F.col("e.ts") >= F.col("d.valid_from"))
        & (F.col("d.valid_to").isNull() | (F.col("e.ts") < F.col("d.valid_to"))),
    ).select(
        F.col("e.event_id").alias("event_id"),
        F.col("e.user_id").alias("user_id"),
        F.col("d.version").alias("version"),
        F.col("d.status").alias("status"),
    )


API_PAGES = 4
API_PAGE_SIZE = 250


@register(
    "api_airports_ingest",
    f"""
WITH k AS (SELECT unnest(range(1, {API_PAGES * API_PAGE_SIZE + 1})) AS k),
rec AS (
    SELECT CAST(k // 10 AS VARCHAR) AS id,
           CASE WHEN k % 13 = 0 THEN ''
                WHEN k % 29 = 0 THEN 'not-a-number'
                ELSE CAST((k * 7) % 180 - 90 AS VARCHAR) END AS lat,
           CASE WHEN k % 17 = 0 THEN NULL
                ELSE CAST((k * 11) % 360 - 180 AS VARCHAR) END AS lon
    FROM k
),
clean AS (
    SELECT id,
           TRY_CAST(NULLIF(lat, '') AS BIGINT) AS lat,
           TRY_CAST(lon AS BIGINT) AS lon
    FROM rec
)
SELECT CAST(COUNT(*) AS BIGINT) AS total_records,
       CAST(COUNT(DISTINCT id) AS BIGINT) AS unique_airports,
       CAST(SUM(lat) AS BIGINT) AS sum_lat,
       MIN(lat) AS min_lat,
       MAX(lat) AS max_lat,
       CAST(SUM(lon) AS BIGINT) AS sum_lon
FROM clean
WHERE lat IS NOT NULL AND lon IS NOT NULL
""",
    doc="Ingest through the custom Python DataSource (sources/pyds.py — "
    "Spark 4 pyspark.sql.datasource): API pages are InputPartitions, so "
    "page fetches run as parallel scan tasks inside the plan (BatchScan "
    "airports_api), not a driver download loop — the engine-native form "
    "of the reference's NiFi InvokeHTTP edge. Then the reference's "
    "clean-and-aggregate shape over the landed records; integer-only "
    "payload derivations make the oracle replication exact.",
)
def q_api_airports_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import pyds

    pyds.register(spark)
    raw = (
        spark.read.format("airports_api")
        .option("pages", API_PAGES)
        .option("page_size", API_PAGE_SIZE)
        .load()
    )
    lat = F.nullif(F.col("lat"), F.lit("")).try_cast("bigint")
    lon = F.col("lon").try_cast("bigint")
    clean = raw.select("id", lat.alias("lat"), lon.alias("lon")).where(
        F.col("lat").isNotNull() & F.col("lon").isNotNull()
    )
    return clean.agg(
        F.count("*").alias("total_records"),
        F.count_distinct(F.col("id")).alias("unique_airports"),
        F.sum("lat").alias("sum_lat"),
        F.min("lat").alias("min_lat"),
        F.max("lat").alias("max_lat"),
        F.sum("lon").alias("sum_lon"),
    )


@register(
    "events_props_variant_stats",
    """
SELECT event_type,
       CAST(COUNT(k) AS BIGINT) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM (
    SELECT event_type, CAST(props::JSON ->> 'k' AS BIGINT) AS k FROM events
)
GROUP BY event_type
""",
    doc="Semi-structured ingestion via Spark 4's VARIANT type: parse_json "
    "with NO declared schema, then typed path extraction "
    "(try_variant_get $.k) — the schema-on-read path for payloads whose "
    "shape drifts, complementing events_json_kpi's declared-StructType "
    "parse (SURVEY.md P7). The open-format variant encoding keeps "
    "extraction JVM-side and shreddable; oracle reads the same JSON "
    "path relationally.",
)
def q_events_props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "orders_status_unpivot",
    """
SELECT o_orderpriority, o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderpriority, o_orderstatus
""",
    doc="unpivot/melt — the inverse of pivot_status_by_priority: the wide "
    "per-status count matrix relationalized back to long "
    "(priority, status, n) rows via DataFrame.unpivot, absent "
    "combinations dropped. Round-tripping pivot->unpivot equals the "
    "plain two-key aggregate, which is exactly what the oracle states.",
)
def q_orders_status_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return (
        wide.unpivot(
            ids=["o_orderpriority"],
            values=["F", "O", "P"],
            variableColumnName="status",
            valueColumnName="n",
        )
        .where(F.col("n").isNotNull())
    )


@register(
    "pivot_status_by_priority",
    """
SELECT o_orderpriority,
       COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'F'), 0) AS F,
       COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS O,
       COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'P'), 0) AS P
FROM orders
GROUP BY o_orderpriority
""",
    doc="Pivot (explicit value list → conditional aggregation); absent cells coalesced to 0.",
)
def q_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("F", "O", "P")],
    )


@register(
    "cube_returnflag_status",
    """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    doc="CUBE super-aggregates (all 4 grouping sets).",
)
def q_cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), sum_money("l_extendedprice").alias("sum_price")
    )


@register(
    "sql_grouping_sets",
    """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
""",
    doc="Explicit GROUPING SETS through the engine's SQL entry point (spark.sql over temp views).",
)
def q_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@register(
    "nation_customer_extremes",
    """
SELECT c_nationkey,
       arg_max(c_name, c_custkey) AS last_customer,
       arg_min(c_name, c_custkey) AS first_customer,
       MAX(c_acctbal) AS max_acctbal
FROM customer
GROUP BY c_nationkey
""",
    doc="Ordered-argument aggregates max_by/min_by (↔ arg_max/arg_min) on a unique key.",
)
def q_nation_customer_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", "c_custkey").alias("last_customer"),
        F.min_by("c_name", "c_custkey").alias("first_customer"),
        F.max("c_acctbal").alias("max_acctbal"),
    )


@register(
    "approx_distinct_parts",
    """
SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
       COUNT(DISTINCT l_suppkey) AS exact_suppliers,
       TRUE AS parts_within_5pct,
       TRUE AS suppliers_within_5pct
FROM lineitem
""",
    doc="approx_count_distinct (HLL): the 100 TB substitute for exact distinct "
    "(SURVEY.md §4.2). HLL sketches are engine-specific, so the cross-engine "
    "contract is an error-bound assertion: the query runs the HLL estimate AND "
    "the exact count, returning the exact counts plus within-5%% booleans; the "
    "oracle asserts the booleans are TRUE. The hash still fails if Spark's "
    "estimate drifts outside the bound, so the sketch is genuinely exercised.",
)
def q_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def within(approx: str, exact: str):
        a, e = F.col(approx).cast("double"), F.col(exact)
        return F.abs(a - e) / e <= 0.05

    agg = li.agg(
        F.count_distinct(F.col("l_partkey")).alias("exact_parts"),
        F.count_distinct(F.col("l_suppkey")).alias("exact_suppliers"),
        F.approx_count_distinct("l_partkey").alias("_ap"),
        F.approx_count_distinct("l_suppkey").alias("_as"),
    )
    return agg.select(
        "exact_parts",
        "exact_suppliers",
        within("_ap", "exact_parts").alias("parts_within_5pct"),
        within("_as", "exact_suppliers").alias("suppliers_within_5pct"),
    )


@register(
    "orders_lag_lead_gap",
    """
SELECT o_custkey, o_orderkey,
       CAST(EXTRACT(EPOCH FROM o_orderdate
            - LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey)) AS BIGINT)
         AS gap_seconds
FROM orders
""",
    doc="lag/lead analytic windows: inter-order gap per customer in seconds.",
)
def q_orders_lag_lead_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # unix_micros needs TIMESTAMP; the ntz→ts cast is exact because the
    # session timezone is pinned UTC (session.RUNTIME_CONFS).
    as_ts = F.col("o_orderdate").cast("timestamp")
    prev = F.lag(as_ts).over(w)
    gap = (F.unix_micros(as_ts) - F.unix_micros(prev)) / F.lit(1_000_000)
    return o.select(
        "o_custkey", "o_orderkey", gap.cast("long").alias("gap_seconds")
    )


@register(
    "order_price_percentiles",
    """
SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.25) AS p25,
       quantile_cont(o_totalprice, 0.50) AS p50,
       quantile_cont(o_totalprice, 0.90) AS p90,
       quantile_cont(o_totalprice, 0.99) AS p99
FROM orders GROUP BY o_orderpriority
""",
    doc="Exact order statistics per group: Spark's `percentile` aggregate "
    "and DuckDB's quantile_cont share the linear-interpolation definition "
    "(rank = p*(n-1)), so the doubles match bit-for-bit — the exact "
    "baseline approx_percentile trades against at 100 TB (exact needs the "
    "per-group value multiset; approx_percentile is a mergeable sketch).",
)
def q_order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p = F.expr("percentile(o_totalprice, array(0.25, 0.50, 0.90, 0.99))")
    return o.groupBy("o_orderpriority").agg(
        p[0].alias("p25"), p[1].alias("p50"), p[2].alias("p90"), p[3].alias("p99")
    )


@register(
    "events_latest_per_user",
    """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       ts AS last_ts
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
""",
    doc="Changelog compaction (SCD-1 / CDC upsert collapse): newest event "
    "per user with a total tie-break — one key shuffle, no global sort "
    "(operators/compaction.py latest_by_key).",
)
def q_events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.compaction import latest_by_key

    ev = load_table(spark, sf_dir, "events")
    return latest_by_key(
        ev, ["user_id"], "ts", tiebreak_cols=["event_id"]
    ).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("ts").alias("last_ts"),
    )


@register(
    "events_time_rollup",
    """
WITH m AS (
    SELECT date_trunc('minute', ts) AS bucket_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY 1
),
h AS (
    SELECT date_trunc('hour', bucket_start) AS bucket_start,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(sum_cents) AS BIGINT) AS sum_cents
    FROM m GROUP BY 1
),
d AS (
    SELECT date_trunc('day', bucket_start) AS bucket_start,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(sum_cents) AS BIGINT) AS sum_cents
    FROM h GROUP BY 1
)
SELECT 'minute' AS grain, * FROM m
UNION ALL SELECT 'hour', * FROM h
UNION ALL SELECT 'day', * FROM d
""",
    doc="Hypertable-style hierarchical time rollup (operators/rollup.py): "
    "minute/hour/day grains from ONE fact shuffle — each coarser grain "
    "re-aggregates the previous one (additive count + exact-cent sums), "
    "the continuous-aggregate pyramid pattern; no Expand row "
    "multiplication, no per-grain rescans.",
)
def q_events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rollup import time_rollup

    return time_rollup(load_table(spark, sf_dir, "events"))


@register(
    "order_price_sketch_bounds",
    """
SELECT o_orderpriority, true AS p50_ok, true AS p90_ok
FROM orders GROUP BY o_orderpriority
""",
    doc="Mergeable percentile sketch with an in-query accuracy contract: "
    "approx_percentile (KLL-style, map-side combinable — the 100 TB path "
    "exact percentiles can't take) must land within 2% relative of the "
    "exact per-group quantile, asserted INSIDE the query so the oracle "
    "just states the contract holds — same pattern as "
    "approx_distinct_parts.",
)
def q_order_price_sketch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    exact = F.expr("percentile(o_totalprice, array(0.5, 0.9))")
    approx = F.expr("approx_percentile(o_totalprice, array(0.5, 0.9), 1000)")

    def within(i: int):
        return (
            F.abs(approx[i] - exact[i]) / exact[i] < 0.02
        )

    return o.groupBy("o_orderpriority").agg(
        within(0).alias("p50_ok"), within(1).alias("p90_ok")
    )


@register(
    "events_rolling_hour_value",
    """
SELECT event_id,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
         AS BIGINT) AS roll_cents
FROM events
""",
    doc="Time-RANGE window frame (not ROWS): per-user rolling 1-hour value "
    "sum — the frame is event-time width, so it is insensitive to event "
    "density, the property rows-frames can't give. One key shuffle, "
    "per-partition ordered scan; exact cents keep it order-independent.",
)
def q_events_rolling_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # interval RANGE frames are SQL-only (the PySpark Window API's
    # rangeBetween takes numeric offsets); the ntz->ts cast is exact
    # under the pinned-UTC session
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events_rolling_src"
    )
    return spark.sql(
        """
SELECT event_id,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
         AS roll_cents
FROM events_rolling_src"""
    )


@register(
    "order_price_histogram",
    """
SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
            WHEN o_totalprice >= 600000 THEN 13
            ELSE FLOOR(o_totalprice / 50000) + 1 END AS BIGINT) AS bucket,
       COUNT(*) AS n_orders
FROM orders GROUP BY 1
""",
    doc="Equi-width histogram via width_bucket: the one-shuffle "
    "distribution profile (overflow rows land in bucket n+1 per the SQL "
    "spec, which both engines implement).",
)
def q_order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.expr("CAST(width_bucket(o_totalprice, 0, 600000, 12) AS BIGINT)").alias(
            "bucket"
        )
    ).agg(F.count("*").alias("n_orders"))


@register(
    "data_quality_report",
    """
SELECT 'orders_custkey_fk' AS constraint_name,
       (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
        ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) AS violations
UNION ALL
SELECT 'lineitem_orderkey_fk',
       (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
        ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
UNION ALL
SELECT 'orders_orderkey_unique',
       (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
UNION ALL
SELECT 'orders_totalprice_nonneg',
       (SELECT COUNT(*) FROM orders WHERE o_totalprice < 0)
UNION ALL
SELECT 'customer_name_not_null',
       (SELECT COUNT(*) FROM customer WHERE c_name IS NULL)
""",
    doc="Expectations-style data-quality report (DeeQu/dbt-test shape): "
    "referential integrity via anti joins, key uniqueness, domain and "
    "not-null constraints — each one shuffle at most, no forced broadcasts "
    "(AQE chooses broadcast when a side fits); the report is the artifact "
    "a 100 TB ingest gate actually blocks on.",
)
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    l = load_table(spark, sf_dir, "lineitem")

    def one(name, cnt_df):
        return cnt_df.select(
            F.lit(name).alias("constraint_name"),
            F.col("violations").cast("long").alias("violations"),
        )

    checks = [
        one(
            "orders_custkey_fk",
            # No broadcast hint: `customer` grows with the fact tables, so a
            # forced broadcast OOMs at 100×. AQE picks broadcast when the
            # post-scan size actually fits (r3 VERDICT "What's wrong" #1).
            o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
                F.count("*").alias("violations")
            ),
        ),
        one(
            "lineitem_orderkey_fk",
            l.join(o, l.l_orderkey == o.o_orderkey, "left_anti").agg(
                F.count("*").alias("violations")
            ),
        ),
        one(
            "orders_orderkey_unique",
            o.agg(
                (F.count("*") - F.count_distinct("o_orderkey")).alias("violations")
            ),
        ),
        one(
            "orders_totalprice_nonneg",
            o.where("o_totalprice < 0").agg(F.count("*").alias("violations")),
        ),
        one(
            "customer_name_not_null",
            c.where("c_name IS NULL").agg(F.count("*").alias("violations")),
        ),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionByName(ch)
    return out


@register(
    "table_stats_orders",
    """
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT o_custkey) AS n_customers,
       MIN(o_orderdate) AS min_date,
       MAX(o_orderdate) AS max_date,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       COUNT(DISTINCT o_orderstatus) AS n_statuses
FROM orders
""",
    doc="ANALYZE-style table statistics in one pass (row count, per-column "
    "distinct counts and min/max) — the CBO/stats-collection shape; a "
    "single aggregation, partials combined map-side.",
)
def q_table_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("o_custkey").alias("n_customers"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.count_distinct("o_orderstatus").alias("n_statuses"),
    )


@register(
    "events_funnel_counts",
    """
WITH stages AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
           MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t_signup) AS reached_signup,
       CAST(SUM(CASE WHEN t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT)
         AS signup_then_click,
       CAST(SUM(CASE WHEN t_purchase > t_click AND t_click > t_signup
                THEN 1 ELSE 0 END) AS BIGINT) AS full_funnel
FROM stages
""",
    doc="Ordered funnel analysis: per-user first-touch timestamps per "
    "stage via conditional MIN (one shuffle, no joins, no window sort), "
    "then strict ordering predicates count stage-to-stage progression — "
    "the product-analytics shape sessionization doesn't answer.",
)
def q_events_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))
    stages = ev.groupBy("user_id").agg(
        first("signup").alias("t_signup"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    return stages.agg(
        F.count("*").alias("n_users"),
        F.count("t_signup").alias("reached_signup"),
        F.sum(
            F.when(F.col("t_click") > F.col("t_signup"), 1).otherwise(0)
        ).alias("signup_then_click"),
        F.sum(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_signup")),
                1,
            ).otherwise(0)
        ).alias("full_funnel"),
    )


@register(
    "events_user_anomalies",
    """
WITH s AS (
    SELECT user_id,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sc,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT) * CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sq
    FROM events GROUP BY user_id
),
z AS (
    SELECT e.user_id,
           abs(CAST(ROUND(e.value * 100) AS BIGINT) - s.sc / s.n)
             / sqrt(GREATEST(s.sq / s.n - (s.sc / s.n) * (s.sc / s.n), 1e-9)) AS zscore
    FROM events e JOIN s ON e.user_id = s.user_id
)
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN zscore > 2.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM z GROUP BY user_id
""",
    doc="Per-user anomaly counts by z-score: mean and variance from EXACT "
    "integer-cent sums (population variance = sq/n - mean^2 — every term "
    "is a deterministic fp op over identical int64s, so thresholding is "
    "engine-exact even at the boundary). Two shuffles on the user key; "
    "the stats join is a shuffle join — the per-user aggregate has "
    "unbounded cardinality (one row per user), so broadcasting it would "
    "OOM at scale; the groupBy already partitioned both sides by user_id "
    "so the join reuses that exchange.",
)
def q_events_user_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    s = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(c).alias("sc"),
        F.sum(c * c).alias("sq"),
    )
    mean = F.col("sc") / F.col("n")
    var = F.greatest(F.col("sq") / F.col("n") - mean * mean, F.lit(1e-9))
    z = (
        ev.join(s, "user_id")
        .select(
            "user_id",
            (F.abs(c - mean) / F.sqrt(var)).alias("zscore"),
        )
    )
    return z.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("zscore") > 2.5, 1).otherwise(0)).alias("n_anomalies"),
    )


@register(
    "orders_cohort_retention",
    """
WITH fm AS (
    SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS cohort
    FROM orders GROUP BY o_custkey
),
act AS (
    SELECT DISTINCT o_custkey, date_trunc('month', o_orderdate) AS om
    FROM orders
)
SELECT strftime(f.cohort, '%Y-%m') AS cohort_month,
       CAST(date_diff('month', f.cohort, a.om) AS BIGINT) AS months_since,
       CAST(COUNT(DISTINCT a.o_custkey) AS BIGINT) AS n_customers
FROM act a JOIN fm f ON a.o_custkey = f.o_custkey
GROUP BY 1, 2
""",
    doc="Cohort retention triangle: customers grouped by first-order "
    "month, counted in every later month they stay active — the "
    "engagement-decay rollup every subscription/marketplace analytics "
    "stack runs. Two custkey-keyed shuffles (first-order min, distinct "
    "activity) whose join reuses the same partitioning, then one small "
    "cohort×offset rollup; nothing global, nothing collected.",
)
def q_orders_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    fm = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", F.col("o_orderdate"))).alias("cohort")
    )
    act = o.select(
        "o_custkey", F.date_trunc("month", F.col("o_orderdate")).alias("om")
    ).distinct()
    return (
        act.join(fm, "o_custkey")
        .groupBy(
            F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
            F.months_between(F.col("om"), F.col("cohort"))
            .cast("long")
            .alias("months_since"),
        )
        .agg(F.count_distinct("o_custkey").alias("n_customers"))
    )


@register(
    "events_key_skew_profile",
    """
WITH cnt AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
),
tot AS (
    SELECT CAST(SUM(n_events) AS BIGINT) AS total,
           CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM cnt
)
SELECT user_id, n_events,
       n_events / total AS share,
       n_events * n_keys / total AS skew_ratio
FROM cnt, tot
ORDER BY n_events DESC, user_id
LIMIT 10
""",
    doc="Heavy-hitter key profiler for shuffle planning: the top-10 "
    "hottest join/agg keys with their share of all rows and their "
    "skew ratio vs the mean key (ratio >> 1 on a join key = salt it, "
    "or let AQE skew-split — SCALE_NOTES' own decision rule, computed "
    "from the data instead of discovered in a straggler task). One "
    "key-keyed count, a 1-row totals broadcast, TakeOrdered top-10; "
    "exact-int operands so both ratios are engine-identical.",
)
def q_events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    tot = cnt.agg(
        F.sum("n_events").alias("total"), F.count("*").alias("n_keys")
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_events",
            (F.col("n_events") / F.col("total")).alias("share"),
            (F.col("n_events") * F.col("n_keys") / F.col("total")).alias(
                "skew_ratio"
            ),
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
    )


# ----------------------------------------------- zone maps / file skipping ----

# The fixed probe predicates the zone map is evaluated against: a time
# slice (correlates with arrival layout -> most zones skip) and a value
# slice (uncorrelated with layout -> almost nothing skips). The contrast
# IS the lesson: min/max zone stats prune only along columns the layout
# clusters, which is exactly what the Z-order export (events_zorder_values)
# buys for multi-column predicates.
ZM_TS_LO, ZM_TS_HI = "2024-01-10 00:00:00", "2024-01-12 00:00:00"
ZM_VAL_LO, ZM_VAL_HI = 30.0, 40.0


@register(
    "events_zone_map",
    f"""
SELECT date_trunc('hour', ts) AS zone_hour,
       COUNT(*) AS n_rows,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       CAST(MAX(ts) < TIMESTAMP '{ZM_TS_LO}'
            OR MIN(ts) > TIMESTAMP '{ZM_TS_HI}' AS BIGINT) AS skip_time_pred,
       CAST(MAX(value) < {ZM_VAL_LO}
            OR MIN(value) > {ZM_VAL_HI} AS BIGINT) AS skip_value_pred
FROM events
GROUP BY 1
""",
    doc="Zone-map (min/max/count) statistics per hourly zone — the "
    "file-skipping index a 100 TB lake consults before scanning: a zone "
    "whose [min, max] misses the predicate range is pruned without "
    "touching its rows. Emits skip flags for a time-slice predicate "
    "(layout-correlated: nearly every zone outside the slice skips) and "
    "a value-slice predicate (layout-uncorrelated: nearly none skip) — "
    "the contrast that motivates Z-order clustering. One map-side "
    "combinable aggregate; zone count, not row count, leaves the "
    "exchange.",
)
def q_events_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(F.date_trunc("hour", F.col("ts")).alias("zone_hour")).agg(
        F.count("*").alias("n_rows"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        (
            (F.max("ts") < F.lit(ZM_TS_LO).cast("timestamp_ntz"))
            | (F.min("ts") > F.lit(ZM_TS_HI).cast("timestamp_ntz"))
        )
        .cast("long")
        .alias("skip_time_pred"),
        ((F.max("value") < ZM_VAL_LO) | (F.min("value") > ZM_VAL_HI))
        .cast("long")
        .alias("skip_value_pred"),
    )


_REV = "CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0"


@register(
    "tpch_q5_local_supplier_volume",
    f"""
SELECT n.n_name AS nation, {_REV} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
""",
    doc="TPC-H Q5 shape: 6-way star join with the local-supplier equality "
    "(customer and supplier share a nation) — the join-reorder stress case; "
    "dims broadcast, single fact shuffle.",
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        "o_orderdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'"
        " AND o_orderdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'"
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            sum_product_money("l_extendedprice", 1 - F.col("l_discount")).alias(
                "revenue"
            )
        )
    )


@register(
    "tpch_q7_nation_volume",
    f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS l_year,
       {_REV} AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, 3
""",
    doc="TPC-H Q7 shape: bidirectional nation-pair volume (disjunctive join "
    "predicate over two aliases of the same dim) by ship year.",
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            sum_product_money("l_extendedprice", 1 - F.col("l_discount")).alias(
                "revenue"
            )
        )
    )


@register(
    "tpch_q10_returned_top_customers",
    f"""
SELECT c.c_custkey, c.c_name, {_REV} AS revenue, n.n_name AS nation
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
    doc="TPC-H Q10 shape: lost-revenue ranking over returned items in a "
    "quarter; deterministic top-20.",
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        "o_orderdate >= TIMESTAMP_NTZ'1996-10-01 00:00:00'"
        " AND o_orderdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'"
    )
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            sum_product_money("l_extendedprice", 1 - F.col("l_discount")).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "nation")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q14_promo_revenue",
    """
SELECT 100.0 * CAST(SUM(CAST(ROUND(CASE WHEN p.p_type = 'PROMO'
                 THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END * 100) AS BIGINT)) AS BIGINT)
             / CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
       AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
""",
    doc="TPC-H Q14 shape: conditional-aggregate ratio (promo revenue share) "
    "— integer-cents numerator and denominator, one deterministic division.",
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        "l_shipdate >= TIMESTAMP_NTZ'1996-03-01 00:00:00'"
        " AND l_shipdate < TIMESTAMP_NTZ'1996-04-01 00:00:00'"
    )
    p = load_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    promo_cents = F.sum(F.round(promo * 100).cast("long"))
    total_cents = F.sum(F.round(disc * 100).cast("long"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg((F.lit(100.0) * promo_cents / total_cents).alias("promo_revenue_pct"))
    )


@register(
    "tpch_q15_top_supplier",
    f"""
WITH rev AS (
    SELECT l_suppkey, {_REV} AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
""",
    doc="TPC-H Q15 shape: argmax over an aggregated subquery (top supplier "
    "by quarterly revenue, ties kept) — scalar-subquery-as-filter pattern.",
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        "l_shipdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'"
        " AND l_shipdate < TIMESTAMP_NTZ'1996-04-01 00:00:00'"
    )
    rev = l.groupBy("l_suppkey").agg(
        sum_product_money("l_extendedprice", 1 - F.col("l_discount")).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("mx"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q18_large_orders",
    """
SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       SUM(l.l_quantity) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
)
GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 10
""",
    doc="TPC-H Q18 shape: large-volume orders via IN over a grouped HAVING "
    "subquery (semi join on an aggregate).",
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 300)
        .select("l_orderkey")
    )
    return (
        l.join(F.broadcast(big), "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q22_idle_rich_customers",
    """
WITH avg_bal AS (
    SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(c_acctbal) AS ab
    FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0 AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.ab
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY c.c_nationkey
""",
    doc="TPC-H Q22 shape: scalar subquery (above-average balance) + "
    "correlated NOT EXISTS (no recent orders — every fixture customer has "
    "SOME order, so the recency predicate keeps the anti join non-trivial), "
    "grouped by nation.",
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    ab = c.where(F.col("c_acctbal") > 0.0).agg(avg_money("c_acctbal").alias("ab"))
    recent = o.where("o_orderdate >= TIMESTAMP_NTZ'1999-01-01 00:00:00'")
    return (
        c.crossJoin(F.broadcast(ab))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            sum_money("c_acctbal").alias("totacctbal"),
        )
    )


@register(
    "salted_segment_revenue",
    """
SELECT c.c_mktsegment, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
    doc="Skew-salted join (operators/joins.py): the orders->customer join "
    "run through an 8-way salt — hot keys spread over 8 reducers, right "
    "side replicated 8x. The oracle is the PLAIN join: result must be "
    "invariant to the physical salting.",
)
def q_salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import salted_join

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(o, c, "o_custkey", "c_custkey", n_salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        sum_money("o_totalprice").alias("sum_totalprice"),
    )


@register(
    "events_orders_asof",
    """
WITH u AS (
    SELECT user_id AS k, ts AS t, 1 AS side, event_id, NULL::BIGINT AS o_orderkey
    FROM events
    UNION ALL
    SELECT o_custkey, o_orderdate, 0, NULL, o_orderkey FROM orders
),
w AS (
    SELECT event_id, k, t, side,
           LAST_VALUE(o_orderkey IGNORE NULLS) OVER (
               PARTITION BY k ORDER BY t, side, o_orderkey
               ROWS UNBOUNDED PRECEDING) AS asof_o_orderkey
    FROM u
)
SELECT event_id, k AS user_id, t AS ts, asof_o_orderkey
FROM w WHERE side = 1
""",
    doc="As-of join (operators/asof.py): each event enriched with the "
    "latest order of the same user at or before event time — union + one "
    "window pass, sort-merge cost, no range cross-join. An operator "
    "Spark's API lacks, composed per SURVEY.md §2.10 rule (a).",
)
def q_events_orders_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_orderkey")
    out = asof_join(
        e, o,
        left_on="user_id", right_on="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        payload=["o_orderkey"],
    )
    return out.select("event_id", "user_id", "ts", "asof_o_orderkey")


@register(
    "events_in_hot_windows",
    """
WITH big AS (
    SELECT event_id AS window_id,
           ts - INTERVAL 30 MINUTE AS w_start,
           ts + INTERVAL 30 MINUTE AS w_end
    FROM events ORDER BY value DESC, event_id LIMIT 20
)
SELECT b.window_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events e JOIN big b ON e.ts >= b.w_start AND e.ts <= b.w_end
GROUP BY b.window_id
""",
    doc="Bucketized range join (operators/joins.py range_join): all events "
    "inside the hour-wide window around each of the 20 highest-value "
    "events — no equality key, so the naive plan is a nested-loop scan; "
    "the operator explodes each interval onto hour buckets and equi-joins "
    "on the bucket id (each pair meets in exactly one bucket: the "
    "point's). Oracle is the plain non-equi join DuckDB runs directly.",
)
def q_events_in_hot_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import range_join

    e = load_table(spark, sf_dir, "events").select("ts", "value")
    big = (
        load_table(spark, sf_dir, "events")
        .orderBy(F.desc("value"), F.asc("event_id"))
        .limit(20)
        .select(
            F.col("event_id").alias("window_id"),
            F.expr("ts - INTERVAL 30 MINUTES").alias("w_start"),
            F.expr("ts + INTERVAL 30 MINUTES").alias("w_end"),
        )
    )
    joined = range_join(e, big, "ts", "w_start", "w_end", bucket_seconds=3_600)
    return joined.groupBy("window_id").agg(
        F.count("*").alias("n_events"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
    )


@register(
    "events_orders_asof_cogroup",
    """
WITH u AS (
    SELECT user_id AS k, ts AS t, 1 AS side, event_id, NULL::BIGINT AS o_orderkey
    FROM events
    UNION ALL
    SELECT o_custkey, o_orderdate, 0, NULL, o_orderkey FROM orders
),
w AS (
    SELECT event_id, k, t, side,
           LAST_VALUE(o_orderkey IGNORE NULLS) OVER (
               PARTITION BY k ORDER BY t, side, o_orderkey
               ROWS UNBOUNDED PRECEDING) AS asof_o_orderkey
    FROM u
)
SELECT event_id, k AS user_id, t AS ts, asof_o_orderkey
FROM w WHERE side = 1
""",
    doc="The SAME as-of semantics as events_orders_asof, computed via "
    "cogroup().applyInPandas (pandas merge_asof per key batch) — the "
    "cogrouped-map escape hatch for as-of variants the union+window trick "
    "can't express; proven equivalent by sharing the window-form oracle.",
)
def q_events_orders_asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pandas_agg import cogrouped_asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id"), "ts"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ots"),
        "o_orderkey",
    )
    return cogrouped_asof_join(
        ev,
        orders,
        key="user_id",
        left_ts="ts",
        right_ts="ots",
        payload_col="o_orderkey",
        left_cols=("event_id", "user_id", "ts"),
    )


# -------------------------------------------------- markov transitions ----


@register(
    "events_markov_transitions",
    """
WITH t AS (
    SELECT event_type AS from_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
    FROM events
),
c AS (
    SELECT from_type, to_type, COUNT(*) AS n_trans
    FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_trans,
       n_trans / SUM(n_trans) OVER (PARTITION BY from_type) AS prob
FROM c
""",
    doc="First-order Markov transition matrix of per-user event-type "
    "sequences: counts + row-normalized probabilities; one window pass "
    "+ one (from,to) aggregate, output is event-type² sized.",
)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_trans"))
    )
    wn = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n_trans",
        (F.col("n_trans") / F.sum("n_trans").over(wn)).alias("prob"),
    )


# ------------------------------------------------- feature correlation ----

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_oracle() -> str:
    means = ", ".join(f"AVG({c}) AS m_{c}" for c in _CORR_COLS)
    sums = []
    for i, a in enumerate(_CORR_COLS):
        sums.append(f"SUM(({a} - m.m_{a}) * ({a} - m.m_{a})) AS ss_{a}")
        for b2 in _CORR_COLS[i + 1:]:
            sums.append(f"SUM(({a} - m.m_{a}) * ({b2} - m.m_{b2})) AS sp_{a}_{b2}")
    pairs = " UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b2}' AS col_b, "
        f"sp_{a}_{b2} / NULLIF(sqrt(ss_{a} * ss_{b2}), 0) AS corr FROM cov"
        for i, a in enumerate(_CORR_COLS)
        for b2 in _CORR_COLS[i + 1:]
    )
    return f"""
WITH m AS (SELECT {means} FROM lineitem),
cov AS (SELECT {', '.join(sums)} FROM lineitem CROSS JOIN m)
{pairs}
"""


@register(
    "lineitem_feature_corr",
    _corr_oracle(),
    doc="Pairwise Pearson correlation matrix over lineitem numeric "
    "features, two-pass centered form (mean pass + centered-product "
    "pass) — avoids the catastrophic cancellation of the single-pass "
    "n*Sxy - Sx*Sy identity, so both engines agree to float precision; "
    "all 10 centered sums come out of ONE aggregate over the fact scan.",
)
def q_lineitem_feature_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        *[F.col(c).cast("double").alias(c) for c in _CORR_COLS]
    )
    means = li.agg(
        *[F.avg(c).alias(f"m_{c}") for c in _CORR_COLS]
    )
    aggs = []
    for i, a in enumerate(_CORR_COLS):
        aggs.append(
            F.sum((F.col(a) - F.col(f"m_{a}")) * (F.col(a) - F.col(f"m_{a}"))).alias(
                f"ss_{a}"
            )
        )
        for b2 in _CORR_COLS[i + 1:]:
            aggs.append(
                F.sum(
                    (F.col(a) - F.col(f"m_{a}")) * (F.col(b2) - F.col(f"m_{b2}"))
                ).alias(f"sp_{a}_{b2}")
            )
    cov = li.crossJoin(F.broadcast(means)).agg(*aggs)
    # long-form (col_a, col_b, corr) from the single cov row: a union of
    # 6 one-row projections over the same (reused) aggregate subtree
    from functools import reduce

    parts = [
        cov.select(
            F.lit(a).alias("col_a"),
            F.lit(b2).alias("col_b"),
            # zero-variance column → NULL (not a DIVIDE_BY_ZERO under
            # ANSI mode, not an engine-dependent inf/NaN)
            F.try_divide(
                F.col(f"sp_{a}_{b2}"),
                F.nullif(
                    F.sqrt(F.col(f"ss_{a}") * F.col(f"ss_{b2}")), F.lit(0.0)
                ),
            ).alias("corr"),
        )
        for i, a in enumerate(_CORR_COLS)
        for b2 in _CORR_COLS[i + 1:]
    ]
    return reduce(lambda x, y: x.unionByName(y), parts)


# ---------------------------------------------------- seasonal decompose ----


@register(
    "events_seasonal_decompose",
    """
WITH daily AS (
    -- CAST: DuckDB's date_trunc('day') yields DATE while Spark's yields
    -- a timestamp; the explicit TIMESTAMP makes raw cells AND the
    -- pandas-canonicalized (datetime64) forms agree on both engines
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events
    FROM events GROUP BY 1
)
SELECT day, n_events,
       AVG(n_events) OVER (
           ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
       n_events - AVG(n_events) OVER (
           ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS residual
FROM daily
""",
    doc="Classical decomposition of the daily event count: 7-day centered "
    "moving-average trend + residual. The windowed pass runs over the "
    "DAY-grain aggregate (365 rows/year however big the fact table), so "
    "the single-partition ordered window is a non-issue at any scale — "
    "the heavy lifting is the day groupBy, which shuffles once.",
)
def q_events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # date_trunc, NOT cast-to-date: a DATE column surfaces as python date
    # objects under toPandas while DuckDB dates land as datetime64 — the
    # driver's dtype-sensitive hash sees different cells even though the
    # days are equal. Truncated timestamps materialize as datetime64[us]
    # on both engines.
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count("*").alias("n_events")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    return daily.select(
        "day",
        "n_events",
        F.avg("n_events").over(w).alias("trend"),
        (F.col("n_events") - F.avg("n_events").over(w)).alias("residual"),
    )


# ------------------------------------------------------------ CDC merge ----


@register(
    "orders_cdc_merge",
    """
WITH base AS (
    SELECT o_orderkey, o_orderstatus, 'I' AS op, 0 AS seq FROM orders
),
upd AS (
    SELECT DISTINCT o.o_orderkey, 'R' AS o_orderstatus, 'U' AS op, 1 AS seq
    FROM orders o JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey AND l.l_returnflag = 'R'
),
del AS (
    SELECT o_orderkey, o_orderstatus, 'D' AS op, 2 AS seq
    FROM orders WHERE o_orderkey % 1000 = 0
),
merged AS (
    SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM del
),
latest AS (
    SELECT * FROM merged
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) = 1
)
SELECT o_orderkey, o_orderstatus FROM latest WHERE op != 'D'
""",
    doc="Lakehouse MERGE / CDC apply (operators/compaction.py:"
    "apply_changes): a deterministic changelog — upserts for orders with "
    "returned lineitems (seq 1), tombstones for every 1000th order "
    "(seq 2) — folds into the orders snapshot through one key-"
    "partitioned window; latest version wins, deletes drop the key. The "
    "batch form of Delta/Iceberg MERGE INTO: one shuffle, no global "
    "sort, any number of change batches unioned in.",
)
def q_orders_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.compaction import apply_changes

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem")
    upd = (
        o.join(
            li.where(F.col("l_returnflag") == "R").select("l_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .select(
            "o_orderkey",
            F.lit("R").alias("o_orderstatus"),
            F.lit("U").alias("op"),
            F.lit(1).alias("seq"),
        )
    )
    dels = o.where(F.col("o_orderkey") % 1000 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
    )
    changes = upd.unionByName(dels)
    return apply_changes(o, changes, ["o_orderkey"], "seq")


# ------------------------------------------------------ full outer join ----


@register(
    "customer_yearly_rev_full_outer",
    """
WITH r95 AS (
    SELECT o_custkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS rev_1995
    FROM orders WHERE YEAR(o_orderdate) = 1995 GROUP BY o_custkey
),
r96 AS (
    SELECT o_custkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS rev_1996
    FROM orders WHERE YEAR(o_orderdate) = 1996 GROUP BY o_custkey
)
SELECT COALESCE(a.o_custkey, b.o_custkey) AS c_custkey,
       a.rev_1995, b.rev_1996,
       CASE WHEN a.o_custkey IS NULL THEN 'new_1996'
            WHEN b.o_custkey IS NULL THEN 'churned_1995'
            ELSE 'both' END AS status
FROM r95 a FULL OUTER JOIN r96 b ON a.o_custkey = b.o_custkey
""",
    doc="Customer-level year-over-year revenue with a FULL OUTER join of "
    "the two yearly aggregates — churn/new/retained classification in "
    "one pass; exact-cents money so AQE re-partitioning cannot change "
    "values. Full outer cannot broadcast, so both sides shuffle once on "
    "the key — which the prior groupBys already partitioned by, so the "
    "join reuses their exchange.",
)
def q_customer_yearly_rev_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.exactmath import sum_money

    o = load_table(spark, sf_dir, "orders")

    def year_rev(y: int, alias: str) -> DataFrame:
        return (
            o.where(F.year("o_orderdate") == y)
            .groupBy("o_custkey")
            .agg(sum_money("o_totalprice").alias(alias))
        )

    a = year_rev(1995, "rev_1995").alias("a")
    b = year_rev(1996, "rev_1996").alias("b")
    return a.join(b, F.col("a.o_custkey") == F.col("b.o_custkey"), "full_outer").select(
        F.coalesce(F.col("a.o_custkey"), F.col("b.o_custkey")).alias("c_custkey"),
        "rev_1995",
        "rev_1996",
        F.when(F.col("a.o_custkey").isNull(), F.lit("new_1996"))
        .when(F.col("b.o_custkey").isNull(), F.lit("churned_1995"))
        .otherwise(F.lit("both"))
        .alias("status"),
    )


# ------------------------------------------------------- proximity join ----


@register(
    "airports_proximity_pairs",
    """
WITH airports_msgs AS (
    SELECT CAST(c_custkey // 10 AS VARCHAR) AS id,
           CASE WHEN c_custkey % 13 = 0 THEN ''
                WHEN c_custkey % 29 = 0 THEN 'not-a-number'
                ELSE CAST(c_acctbal / 100 AS VARCHAR) END AS lat,
           CASE WHEN c_custkey % 17 = 0 THEN NULL
                ELSE CAST(c_acctbal / 50 AS VARCHAR) END AS lon
    FROM customer
),
clean AS (
    SELECT id,
           TRY_CAST(NULLIF(lat, '') AS DOUBLE) AS x,
           TRY_CAST(NULLIF(lon, '') AS DOUBLE) AS y
    FROM airports_msgs
),
pts AS (
    SELECT id, x, y FROM clean
    WHERE x IS NOT NULL AND y IS NOT NULL
    QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY x, y) = 1
)
SELECT a.id AS id_a, b.id AS id_b,
       sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS dist
FROM pts a JOIN pts b ON a.id < b.id
WHERE sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= 5.0
""",
    doc="Spatial proximity self-join over the deduplicated cleaned "
    "airports (operators/joins.py:grid_proximity_join): all pairs within "
    "planar distance 5.0 via lossless 3x3 grid-cell blocking — candidate "
    "volume tracks local density, never n²; the oracle is the exact "
    "all-pairs form the blocking provably equals.",
)
def q_airports_proximity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .fixtures import airports_messages
    from .operators.airports import clean_coords, parse_json_messages
    from .operators.joins import grid_proximity_join

    clean = clean_coords(
        parse_json_messages(widen_input(airports_messages(spark, sf_dir)))
    )
    w = Window.partitionBy("id").orderBy("latitude", "longitude")
    pts = (
        clean.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("id", F.col("latitude").alias("x"), F.col("longitude").alias("y"))
    )
    return grid_proximity_join(pts, radius=5.0)


@register(
    "supplier_ship_latency",
    """
SELECT l_suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                    CAST(l_shipdate AS DATE)) > 90
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_slow,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                    CAST(l_shipdate AS DATE)) > 90
                     THEN 1 ELSE 0 END) AS BIGINT)
           / CAST(COUNT(*) AS BIGINT) AS slow_rate,
       CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE))) AS BIGINT) AS sum_delay_days,
       CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE))) AS BIGINT)
           / CAST(COUNT(*) AS BIGINT) AS avg_delay_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_suppkey
""",
    doc="Supplier fulfillment scorecard: per supplier, order-to-ship "
    "latency in exact integer days — slow-shipment count and rate "
    "(> 90 days), total and mean delay. Day deltas sum as BIGINT and "
    "the two ratios are single divisions of exact int64s, so the "
    "doubles are engine-identical. One fact-fact equi-join on the order "
    "key (both sides shuffle once) then a map-side-combined supplier "
    "aggregation.",
)
def q_supplier_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long")
    slow = (delay > 90).cast("long")
    return j.groupBy("l_suppkey").agg(
        F.count("*").alias("n_lineitems"),
        F.sum(slow).alias("n_slow"),
        (F.sum(slow) / F.count("*")).alias("slow_rate"),
        F.sum(delay).alias("sum_delay_days"),
        (F.sum(delay) / F.count("*")).alias("avg_delay_days"),
    )


@register(
    "customer_rfm_segments",
    """
WITH cust AS (
    SELECT o_custkey,
           CAST(date_diff('day', DATE '1970-01-01',
                          CAST(MAX(o_orderdate) AS DATE)) AS BIGINT) AS rec_days,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
    FROM orders GROUP BY o_custkey
),
th AS (
    SELECT quantile_cont(rec_days, 0.25) AS r25,
           quantile_cont(rec_days, 0.50) AS r50,
           quantile_cont(rec_days, 0.75) AS r75,
           quantile_cont(freq, 0.25) AS f25,
           quantile_cont(freq, 0.50) AS f50,
           quantile_cont(freq, 0.75) AS f75,
           quantile_cont(monetary_cents, 0.25) AS m25,
           quantile_cont(monetary_cents, 0.50) AS m50,
           quantile_cont(monetary_cents, 0.75) AS m75
    FROM cust
)
SELECT o_custkey AS custkey,
       CAST(1 + (rec_days > r25)::INT + (rec_days > r50)::INT
              + (rec_days > r75)::INT AS BIGINT) AS r_quartile,
       CAST(1 + (freq > f25)::INT + (freq > f50)::INT
              + (freq > f75)::INT AS BIGINT) AS f_quartile,
       CAST(1 + (monetary_cents > m25)::INT + (monetary_cents > m50)::INT
              + (monetary_cents > m75)::INT AS BIGINT) AS m_quartile
FROM cust CROSS JOIN th
""",
    doc="RFM customer segmentation: per customer, quartile of last-order "
    "recency, order frequency, and exact-cents monetary total. The "
    "scale-honest formulation: quartile BOUNDARIES come from one 9-value "
    "exact-percentile aggregate (Spark percentile == DuckDB "
    "quantile_cont, bit-identical linear interpolation — the "
    "order_price_percentiles parity) broadcast as a 1-row scalar, and "
    "each customer buckets via three threshold comparisons — no global "
    "NTILE sort over the customer table, which is what the textbook "
    "window formulation would cost at 100 TB.",
)
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("rec_days"),
        F.count("*").alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    th = cust.agg(
        *[
            F.expr(f"percentile({c}, array(0.25, 0.50, 0.75))")[i].alias(n)
            for c, pfx in (
                ("rec_days", "r"),
                ("freq", "f"),
                ("monetary_cents", "m"),
            )
            for i, n in enumerate((f"{pfx}25", f"{pfx}50", f"{pfx}75"))
        ]
    )

    def quart(c, pfx):
        return (
            F.lit(1)
            + (F.col(c) > F.col(f"{pfx}25")).cast("int")
            + (F.col(c) > F.col(f"{pfx}50")).cast("int")
            + (F.col(c) > F.col(f"{pfx}75")).cast("int")
        ).cast("long")

    return cust.crossJoin(F.broadcast(th)).select(
        F.col("o_custkey").alias("custkey"),
        quart("rec_days", "r").alias("r_quartile"),
        quart("freq", "f").alias("f_quartile"),
        quart("monetary_cents", "m").alias("m_quartile"),
    )


@register(
    "events_xml_roundtrip_kpi",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events GROUP BY event_type
""",
    doc="Native XML parse parity (Spark 4 folds spark-xml into core: "
    "to_xml/from_xml/schema_of_xml): each event serializes to an XML "
    "record and is re-parsed against a declared schema — the XML "
    "analogue of the reference's from_json typed parse (P7) and the "
    "permissive JSON roundtrip. The KPI over re-parsed rows equals the "
    "direct aggregate, which the oracle asserts: doubles survive the "
    "string roundtrip because Java's shortest-repr formatting parses "
    "back to the identical double. All JVM expression work, narrow "
    "until the final aggregate.",
)
def q_events_xml_roundtrip_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    xml = ev.select(
        F.to_xml(F.struct("user_id", "event_type", "value")).alias("x")
    )
    parsed = xml.select(
        F.from_xml(
            "x", "user_id bigint, event_type string, value double"
        ).alias("s")
    ).select("s.user_id", "s.event_type", "s.value")
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
            "sum_value"
        ),
    )


@register(
    "mv_time_travel_read",
    """
WITH ev AS (SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events WHERE event_id % 2 = 0 GROUP BY event_type),
fl AS (SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
       FROM events GROUP BY event_type)
SELECT 'v0' AS version, * FROM ev
UNION ALL
SELECT 'v1' AS version, * FROM fl
""",
    doc="Snapshot time travel on the incremental-MV sink "
    "(operators/compaction.py): compact with retain_snapshots=2, then "
    "read_agg_sink(as_of=v0) reconstructs the MV as of the first "
    "snapshot while the current read sees the second fold — the "
    "retention/vacuum trade every table format exposes, verified "
    "against per-version batch aggregates.",
)
def q_mv_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .operators.compaction import (
        compact_agg_sink,
        read_agg_sink,
        write_agg_partial,
    )

    ev = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="mvtt_")
    try:
        write_agg_partial(ev.where(F.col("event_id") % 2 == 0), path, 0)
        v0 = compact_agg_sink(spark, path, retain_snapshots=2)
        write_agg_partial(ev.where(F.col("event_id") % 2 == 1), path, v0 + 1)
        compact_agg_sink(spark, path, retain_snapshots=2)
        old = read_agg_sink(spark, path, as_of=v0).select(
            F.lit("v0").alias("version"), "event_type", "n", "cents"
        )
        cur = read_agg_sink(spark, path).select(
            F.lit("v1").alias("version"), "event_type", "n", "cents"
        )
        return old.unionByName(cur).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "parquet_schema_evolution_read",
    """
WITH m AS (
    SELECT o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
    FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(o_orderstatus) AS BIGINT) AS n_with_status,
       CAST(SUM(cents) AS BIGINT) / 100.0 AS total_price
FROM m
""",
    doc="Schema evolution on the lake path: two parquet batches written "
    "with DIFFERENT schemas (the second adds a column), read back as one "
    "table via mergeSchema — missing columns null-fill, present ones "
    "keep their values; the aggregate proves no row or value was "
    "dropped or misaligned. The add-a-column migration every long-lived "
    "100 TB table goes through.",
)
def q_parquet_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    o = load_table(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="schevo_")
    try:
        o.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("append").parquet(root)
        o.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        ).write.mode("append").parquet(root)
        merged = spark.read.option("mergeSchema", "true").parquet(root)
        from .functions.exactmath import sum_money

        return (
            merged.agg(
                F.count("*").alias("n_rows"),
                F.count("o_orderstatus").alias("n_with_status"),
                sum_money("o_totalprice").alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "pyds_jsonl_sink_roundtrip",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY event_type
""",
    doc="Write-side Python DataSource (Spark 4 API, sources/pyds_sink.py): "
    "events written through the custom jsonl_manifest sink — per-task "
    "uuid part files, driver-side atomic manifest commit, torn files "
    "invisible — then read back via the manifest and re-aggregated; "
    "integer-exact roundtrip proves no row or value loss through the "
    "engine-native custom writer.",
)
def q_pyds_jsonl_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .sources import pyds_sink

    pyds_sink.register(spark)
    root = tempfile.mkdtemp(prefix="jsonlsink_")
    path = f"{root}/sink"
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        ev.write.format("jsonl_manifest").option("path", path).mode(
            "append"
        ).save()
        back = pyds_sink.read_jsonl_sink(
            spark, path, "event_id bigint, event_type string, cents bigint"
        )
        return (
            back.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("cents").alias("cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "orders_snapshot_diff",
    """
WITH o AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
),
neww AS (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
                ELSE o_totalprice END AS o_totalprice
    FROM o WHERE o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice
    FROM o WHERE o_orderkey % 11 = 0
),
d AS (
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_custkey
                ELSE o.o_custkey END AS o_custkey,
           CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderstatus
                ELSE o.o_orderstatus END AS o_orderstatus,
           CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_totalprice
                ELSE o.o_totalprice END AS o_totalprice,
           CASE WHEN n.o_orderkey IS NOT NULL THEN 'U' ELSE 'D' END AS op,
           (n.o_orderkey IS NOT NULL AND o.o_orderkey IS NOT NULL
            AND n.o_custkey IS NOT DISTINCT FROM o.o_custkey
            AND n.o_orderstatus IS NOT DISTINCT FROM o.o_orderstatus
            AND n.o_totalprice IS NOT DISTINCT FROM o.o_totalprice)
               AS unchanged
    FROM o FULL OUTER JOIN neww n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, op
FROM d WHERE NOT unchanged
""",
    doc="Snapshot diff (table-format incremental read): full-outer join "
    "two keyed versions into a minimal CDC changelog — U carries new "
    "values (insert==upsert), D marks vanished keys, unchanged keys "
    "emit nothing; null-safe per-column compare. Inverse of "
    "apply_changes (roundtrip property-pinned). One co-partitioned "
    "shuffle. Fixture: deletes keys %7, bumps price on %5, inserts "
    "offset copies of %11.",
)
def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.compaction import snapshot_diff

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    new = (
        o.where(k % 7 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 5 == 0, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            o.where(k % 11 == 0).select(
                (k + 10_000_000).alias("o_orderkey"),
                "o_custkey",
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    return snapshot_diff(o, new, ["o_orderkey"])


K_ANON = 5


@register(
    "customers_k_anonymity",
    f"""
WITH qi AS (
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
    FROM customer GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, group_size,
       group_size < {K_ANON} AS at_risk
FROM qi
""",
    doc="k-anonymity audit over the (nation, market-segment) quasi-"
    "identifier: group sizes with a re-identification risk flag for "
    "groups under k=5 — the governance check a training-data release "
    "runs next to right-to-erasure. One groupBy on the QI columns; at "
    "100 TB the QI-combination table is dimension-sized.",
)
def q_customers_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    qi = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("group_size"))
    )
    return qi.select(
        "c_nationkey",
        "c_mktsegment",
        "group_size",
        (F.col("group_size") < K_ANON).alias("at_risk"),
    )


@register(
    "events_next_event_dataset",
    """
WITH o AS (
    SELECT user_id, event_id, event_type, ts,
           LAG(event_type, 2) OVER w AS f1,
           LAG(event_type, 1) OVER w AS f2,
           event_type AS f3,
           LEAD(event_type, 1) OVER w AS label
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, f1, f2, f3, label
FROM o
WHERE f1 IS NOT NULL AND label IS NOT NULL
""",
    doc="Sequence-model dataset builder: per user-ordered event stream, "
    "emit (3-event context window, next-event label) training examples "
    "— the supervised-dataset construction step between raw logs and a "
    "next-action model. One keyed window (user partition, (ts, id) "
    "order — deterministic under timestamp ties), boundary rows "
    "without full context or label are dropped, never padded with "
    "leakage-prone fillers.",
)
def q_events_next_event_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.lag("event_type", 2).over(w).alias("f1"),
        F.lag("event_type", 1).over(w).alias("f2"),
        F.col("event_type").alias("f3"),
        F.lead("event_type", 1).over(w).alias("label"),
    )
    return o.where(F.col("f1").isNotNull() & F.col("label").isNotNull())


@register(
    "orders_open_backlog_daily",
    """
WITH closes AS (
    SELECT l_orderkey AS o_orderkey, MAX(l_shipdate) AS close_date
    FROM lineitem GROUP BY 1
),
opened AS (
    SELECT o_orderdate AS day, COUNT(*) AS n_opened FROM orders GROUP BY 1
),
closed AS (
    SELECT close_date AS day, COUNT(*) AS n_closed
    FROM orders JOIN closes USING (o_orderkey)
    GROUP BY 1
),
deltas AS (
    SELECT COALESCE(o.day, c.day) AS day,
           COALESCE(n_opened, 0) AS n_opened,
           COALESCE(n_closed, 0) AS n_closed
    FROM opened o FULL OUTER JOIN closed c ON o.day = c.day
)
SELECT day, CAST(n_opened AS BIGINT) AS n_opened,
       CAST(n_closed AS BIGINT) AS n_closed,
       CAST(SUM(n_opened - n_closed) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS backlog
FROM deltas
""",
    doc="Open-order backlog by day — sweep-line interval counting: "
    "+1 at order placement, -1 at the order's LAST line-item ship date, "
    "cumulative sum over the day axis. The corpus-scale work is two "
    "keyed aggregations (per-order close date, per-day deltas); the "
    "unpartitioned cumulative window then runs over the DAY-grain "
    "table, which is calendar-sized (~2.5k rows), not corpus-sized — "
    "the decomposition that makes running totals safe at 100 TB. "
    "Orders with no line items never close and stay in the backlog.",
)
def q_orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    closes = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max("l_shipdate").alias("close_date")
    )
    opened = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count("*").alias("n_opened")
    )
    closed = (
        orders.join(closes, "o_orderkey")
        .groupBy(F.col("close_date").alias("day"))
        .agg(F.count("*").alias("n_closed"))
    )
    deltas = (
        opened.join(closed, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
            F.coalesce("n_closed", F.lit(0)).alias("n_closed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.select(
        "day",
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w).alias("backlog"),
    )


PARETO_QB = 1000


@register(
    "customer_revenue_pareto",
    f"""
WITH rev AS (
    SELECT o_custkey AS c, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
           AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
ranked AS (
    SELECT c, cents,
           ROW_NUMBER() OVER (ORDER BY cents DESC, c) AS rnk,
           COUNT(*) OVER () AS n
    FROM rev
),
dec AS (
    SELECT CAST((rnk - 1) * 10 // n AS BIGINT) AS decile, cents FROM ranked
),
agg AS (
    SELECT decile, COUNT(*) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM dec GROUP BY decile
)
SELECT decile, n_customers, cents,
       CAST(SUM(cents) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_cents
FROM agg
""",
    doc="Pareto revenue concentration by EXACT global revenue rank — "
    "computed without a global sort: the spec rank (cents desc, id) "
    "decomposes over monotone affine cent buckets exactly like the "
    "budget selectors (bucket count-prefix broadcast + within-bucket "
    "row_number), deciles then aggregate to ten rows and the cumulative "
    "runs on that ten-row table. The 'top decile owns X% of revenue' "
    "curve, exact to the cent.",
)
def q_customer_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    rev = (
        widen_input(load_table(spark, sf_dir, "orders"), "o_custkey")
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    rng = rev.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count("*").alias("n"),
    )
    d = rev.crossJoin(F.broadcast(rng)).select(
        "c",
        "cents",
        "n",
        F.expr(f"((cents - lo) * {PARETO_QB}) div (hi - lo + 1)").alias("qb"),
    )
    per_bucket = d.groupBy("qb").agg(F.count("*").alias("bn"))
    wb = Window.orderBy(F.desc("qb")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per_bucket.select(
        "qb", F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("before")
    )
    wd = Window.partitionBy("qb").orderBy(F.desc("cents"), F.asc("c"))
    ranked = d.join(F.broadcast(cum), "qb").select(
        "cents",
        "n",
        (F.col("before") + F.row_number().over(wd)).alias("rnk"),
    )
    agg = (
        ranked.select(
            F.expr("CAST((rnk - 1) * 10 div n AS BIGINT)").alias("decile"),
            "cents",
        )
        .groupBy("decile")
        .agg(F.count("*").alias("n_customers"), F.sum("cents").alias("cents"))
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return agg.select(
        "decile",
        "n_customers",
        "cents",
        F.sum("cents").over(wc).alias("cum_cents"),
    )


@register(
    "mv_snapshot_changelog",
    """
WITH v0 AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events WHERE event_id % 2 = 0
    GROUP BY event_type
),
v1 AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY event_type
)
SELECT COALESCE(n1.event_type, n0.event_type) AS event_type,
       CASE WHEN n1.event_type IS NOT NULL THEN n1.n ELSE n0.n END AS n,
       CASE WHEN n1.event_type IS NOT NULL THEN n1.cents ELSE n0.cents END
           AS cents,
       CASE WHEN n1.event_type IS NOT NULL THEN 'U' ELSE 'D' END AS op
FROM v0 n0 FULL OUTER JOIN v1 n1 ON n0.event_type = n1.event_type
WHERE NOT (n0.event_type IS NOT NULL AND n1.event_type IS NOT NULL
           AND n0.n IS NOT DISTINCT FROM n1.n
           AND n0.cents IS NOT DISTINCT FROM n1.cents)
""",
    doc="Table-format INCREMENTAL READ composed from two r6 features: "
    "an aggregate-MV sink is built across a snapshot boundary with "
    "retain_snapshots=2, the two retained versions are read back via "
    "as-of time travel, and snapshot_diff turns them into the minimal "
    "U/D changelog between versions — the changes-between-versions "
    "feed (Delta CDF / Iceberg incremental scan shape) derived purely "
    "from retained snapshots, no change tracking at write time.",
)
def q_mv_snapshot_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .operators.compaction import (
        compact_agg_sink,
        read_agg_sink,
        snapshot_diff,
        write_agg_partial,
    )

    ev = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="mvdiff_")
    try:
        write_agg_partial(ev.where(F.col("event_id") % 2 == 0), path, 0)
        v0 = compact_agg_sink(spark, path, retain_snapshots=2)
        write_agg_partial(ev.where(F.col("event_id") % 2 == 1), path, v0 + 1)
        v1 = compact_agg_sink(spark, path, retain_snapshots=2)
        old = read_agg_sink(spark, path, as_of=v0).localCheckpoint(eager=True)
        new = read_agg_sink(spark, path, as_of=v1).localCheckpoint(eager=True)
        return snapshot_diff(old, new, ["event_type"]).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "events_dow_hour_heatmap",
    """
WITH g AS (
    SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS BIGINT) AS hr,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM g)
SELECT CAST(dow AS BIGINT) AS dow, hr,
       CAST(n_events AS BIGINT) AS n_events, cents,
       CAST(ROUND(n_events * 1000000.0 / total) AS BIGINT) AS share_ppm
FROM g, tot
""",
    doc="Weekly activity heatmap: day-of-week x hour event counts, "
    "exact-cents value, and share of total in integer parts-per-"
    "million (one rounding per cell — no float sums). Spark's "
    "1-Sunday dayofweek is shifted to DuckDB's 0-Sunday convention; "
    "one grouped pass plus a 1-row total broadcast onto a 168-row "
    "grid.",
)
def q_events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    tot = g.agg(F.sum("n_events").alias("total"))
    return g.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hr",
        "n_events",
        "cents",
        F.round(F.col("n_events") * 1_000_000.0 / F.col("total"))
        .cast("long")
        .alias("share_ppm"),
    )


GAP_USER_MOD = 19


@register(
    "events_gap_fill_hourly",
    f"""
WITH ev AS (
    SELECT user_id, date_trunc('hour', ts) AS hr, ts, event_id,
           CAST(ROUND(value * 1000000) AS BIGINT) AS vmic
    FROM events WHERE user_id % {GAP_USER_MOD} = 0
),
ranked AS (
    SELECT user_id, hr, vmic,
           ROW_NUMBER() OVER (PARTITION BY user_id, hr
                              ORDER BY ts DESC, event_id DESC) AS rn,
           COUNT(*) OVER (PARTITION BY user_id, hr) AS cnt
    FROM ev
),
hourly AS (
    SELECT user_id, hr, CAST(cnt AS BIGINT) AS n_events, vmic AS last_vmic
    FROM ranked WHERE rn = 1
),
bounds AS (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM ev GROUP BY 1),
grid AS (
    SELECT user_id,
           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
    FROM bounds
),
j AS (
    SELECT g.user_id, g.hr, h.n_events, h.last_vmic
    FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
),
f AS (
    SELECT *, COUNT(last_vmic) OVER (PARTITION BY user_id ORDER BY hr) AS grp
    FROM j
)
SELECT user_id, hr AS hour_ts,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       MAX(last_vmic) OVER (PARTITION BY user_id, grp) AS level_micro,
       n_events IS NULL AS is_gap
FROM f
""",
    doc="Time-series resample + forward fill: per-user hourly grid from "
    "first to last observation (sequence/explode — the grid is generated "
    "distributed, never collected), left-joined to the per-hour last "
    "event level (max_by over (ts, event_id) — deterministic tiebreak), "
    "then gap hours carry the last known level via the engine-neutral "
    "'running count of non-nulls defines the fill group' trick (no "
    "IGNORE NULLS dependence, identical semantics on both engines). "
    "Level carried as exact micro-units BIGINT. One shuffle keyed by "
    "user; per-user state bounded by the observation span, so the plan "
    "is skew-safe at any user count.",
)
def q_events_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .catalog import load_table as _lt

    ev = widen_input(
        _lt(spark, sf_dir, "events").where(
            F.col("user_id") % GAP_USER_MOD == 0
        )
    )
    base = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "ts",
        "event_id",
        F.round(F.col("value") * 1000000).cast("long").alias("vmic"),
    )
    hourly = base.groupBy("user_id", "hr").agg(
        F.count("*").alias("n_events"),
        F.max_by("vmic", F.struct("ts", "event_id")).alias("last_vmic"),
    )
    bounds = base.groupBy("user_id").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hr"),
    )
    j = grid.join(hourly, ["user_id", "hr"], "left")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    f2 = j.withColumn("grp", F.count("last_vmic").over(w_run))
    w_grp = Window.partitionBy("user_id", "grp")
    return f2.select(
        "user_id",
        F.col("hr").alias("hour_ts"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.max("last_vmic").over(w_grp).alias("level_micro"),
        F.col("n_events").isNull().alias("is_gap"),
    )


@register(
    "orc_roundtrip_stats",
    """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
""",
    doc="ORC source/sink roundtrip: project events to stable types, "
    "write spark.write.orc, read back with spark.read.orc, aggregate "
    "from the ORC scan. Oracle is the same aggregate over the original "
    "parquet — hash-equality proves the ORC writer/reader preserved "
    "every row and type bit-for-bit. Columnar-format breadth next to "
    "parquet/json/xml/csv/jdbc; vectorized ORC reader, predicate "
    "pushdown semantics identical to the parquet path.",
)
def q_orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .catalog import load_table as _lt

    ev = widen_input(
        _lt(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    path = tempfile.mkdtemp(prefix="orcrt_")
    try:
        ev.write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        return (
            back.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("cents").alias("cents"),
                F.countDistinct("user_id").alias("n_users"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


# CSV permissive-parse audit: corruption INJECTED deterministically, so
# the oracle can classify rows by the same mod rules the synthesizer
# uses (short row → prefix parsed + corrupt; non-numeric field → null +
# corrupt; extra field → prefix parsed + corrupt; EMPTY field → null,
# NOT corrupt — the exact PERMISSIVE semantics probed and pinned in
# tests/test_round7b.py).
CSV_SHORT_MOD = 13
CSV_BADNUM_MOD = 17
CSV_EXTRA_MOD = 19


@register(
    "csv_permissive_audit",
    f"""
WITH base AS (
    SELECT event_id, event_type,
           CAST(ROUND(value * 100) AS BIGINT) AS cents,
           CASE
             WHEN event_id % {CSV_SHORT_MOD} = 0 THEN 'short'
             WHEN event_id % {CSV_BADNUM_MOD} = 0 THEN 'badnum'
             WHEN event_id % {CSV_EXTRA_MOD} = 0 THEN 'extra'
             ELSE 'clean' END AS kind
    FROM events
)
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN kind <> 'clean' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_corrupt,
       CAST(SUM(CASE WHEN kind IN ('short', 'badnum') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_cents_null,
       CAST(SUM(CASE WHEN kind IN ('short', 'badnum') THEN 0 ELSE cents END)
            AS BIGINT) AS sum_cents
FROM base GROUP BY 1
""",
    doc="Malformed-record audit through the real CSV parser: synthesize "
    "one CSV line per event (deterministically corrupted: every "
    f"{CSV_SHORT_MOD}th id loses its trailing field, every "
    f"{CSV_BADNUM_MOD}th gets a non-numeric amount, every "
    f"{CSV_EXTRA_MOD}th an extra column), parse with from_csv in "
    "PERMISSIVE mode + columnNameOfCorruptRecord, and aggregate "
    "good/corrupt/null-field counts per event type FROM THE PARSER "
    "OUTPUT. The oracle classifies by the injection rules — "
    "hash-equality proves the parser's permissive semantics match the "
    "documented contract (short/badnum/extra → corrupt captured, "
    "prefix fields still parsed; sums exclude unparseable amounts). "
    "The quarantine path a 100 TB ingest runs on every raw feed.",
)
def q_csv_permissive_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog import load_table as _lt

    ev = widen_input(
        _lt(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    eid = F.col("event_id")
    line = (
        F.when(
            eid % CSV_SHORT_MOD == 0,
            F.concat_ws(",", eid.cast("string"), "event_type"),
        )
        .when(
            eid % CSV_BADNUM_MOD == 0,
            F.concat_ws(
                ",",
                eid.cast("string"),
                F.col("event_type"),
                F.concat(F.lit("x"), F.col("cents").cast("string")),
            ),
        )
        .when(
            eid % CSV_EXTRA_MOD == 0,
            F.concat_ws(
                ",",
                eid.cast("string"),
                F.col("event_type"),
                F.col("cents").cast("string"),
                F.lit("9"),
            ),
        )
        .otherwise(
            F.concat_ws(
                ",", eid.cast("string"), "event_type",
                F.col("cents").cast("string"),
            )
        )
    )
    schema = "event_id bigint, event_type string, cents bigint, _corrupt string"
    parsed = ev.select(line.alias("line")).select(
        F.from_csv(
            "line",
            F.lit(schema),
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("p")
    )
    return (
        parsed.select("p.*")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0)
            ).alias("n_corrupt"),
            F.sum(F.when(F.col("cents").isNull(), 1).otherwise(0)).alias(
                "n_cents_null"
            ),
            F.sum(F.coalesce("cents", F.lit(0))).alias("sum_cents"),
        )
    )


@register(
    "events_interpolate_hourly",
    f"""
WITH ev AS (
    SELECT user_id, date_trunc('hour', ts) AS hr, ts, event_id,
           CAST(ROUND(value * 1000000) AS BIGINT) AS vmic
    FROM events WHERE user_id % {GAP_USER_MOD} = 0
),
ranked AS (
    SELECT user_id, hr, vmic,
           ROW_NUMBER() OVER (PARTITION BY user_id, hr
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev
),
hourly AS (
    SELECT user_id, hr, vmic AS last_vmic FROM ranked WHERE rn = 1
),
bounds AS (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM ev GROUP BY 1),
grid AS (
    SELECT user_id,
           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
    FROM bounds
),
j AS (
    SELECT g.user_id, g.hr, h.last_vmic
    FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
),
f AS (
    SELECT *,
           COUNT(last_vmic) OVER (PARTITION BY user_id ORDER BY hr) AS lg,
           COUNT(last_vmic) OVER (PARTITION BY user_id ORDER BY hr DESC)
               AS rg
    FROM j
),
anch AS (
    SELECT user_id, hr, last_vmic,
           MAX(last_vmic) OVER (PARTITION BY user_id, lg) AS lv,
           MIN(hr) OVER (PARTITION BY user_id, lg) AS lhr,
           MAX(last_vmic) OVER (PARTITION BY user_id, rg) AS rv,
           MAX(hr) OVER (PARTITION BY user_id, rg) AS rhr
    FROM f
)
SELECT user_id, hr AS hour_ts,
       last_vmic IS NULL AS interpolated,
       CASE
         WHEN last_vmic IS NOT NULL THEN last_vmic
         WHEN rv IS NULL THEN lv
         ELSE lv + CAST(ROUND(
              (rv - lv) * ((epoch(hr) - epoch(lhr)) / 3600.0)
              / ((epoch(rhr) - epoch(lhr)) / 3600.0)) AS BIGINT)
       END AS level_micro
FROM anch
""",
    doc="Linear-interpolation resample (the interpolating twin of "
    "events_gap_fill_hourly): gap hours take the value linearly "
    "interpolated between the bracketing observations; trailing gaps "
    "hold the last level (no right anchor). Left/right anchors come "
    "from the same running-non-null-count trick run in BOTH directions "
    "— two window passes over one user-keyed exchange, engine-neutral. "
    "Arithmetic is exact-integer micro-units with one correctly-rounded "
    "double division shared by both engines (identical operand order, "
    "identical IEEE semantics), so parity is bit-stable.",
)
def q_events_interpolate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .catalog import load_table as _lt

    ev = widen_input(
        _lt(spark, sf_dir, "events").where(
            F.col("user_id") % GAP_USER_MOD == 0
        )
    )
    base = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "ts",
        "event_id",
        F.round(F.col("value") * 1000000).cast("long").alias("vmic"),
    )
    hourly = base.groupBy("user_id", "hr").agg(
        F.max_by("vmic", F.struct("ts", "event_id")).alias("last_vmic")
    )
    bounds = base.groupBy("user_id").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hr"),
    )
    j = grid.join(hourly, ["user_id", "hr"], "left")
    asc = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    desc = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("hr"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    f2 = j.withColumn("lg", F.count("last_vmic").over(asc)).withColumn(
        "rg", F.count("last_vmic").over(desc)
    )
    wl = Window.partitionBy("user_id", "lg")
    wr = Window.partitionBy("user_id", "rg")
    anch = f2.select(
        "user_id",
        "hr",
        "last_vmic",
        F.max("last_vmic").over(wl).alias("lv"),
        F.min("hr").over(wl).alias("lhr"),
        F.max("last_vmic").over(wr).alias("rv"),
        F.max("hr").over(wr).alias("rhr"),
    )
    k = (F.unix_timestamp("hr") - F.unix_timestamp("lhr")) / 3600.0
    span = (F.unix_timestamp("rhr") - F.unix_timestamp("lhr")) / 3600.0
    interp = (
        F.col("lv")
        + F.round((F.col("rv") - F.col("lv")) * k / span).cast("long")
    )
    return anch.select(
        "user_id",
        F.col("hr").alias("hour_ts"),
        F.col("last_vmic").isNull().alias("interpolated"),
        F.when(F.col("last_vmic").isNotNull(), F.col("last_vmic"))
        .when(F.col("rv").isNull(), F.col("lv"))
        .otherwise(interp)
        .alias("level_micro"),
    )


# ---------------------------------------------------------------------------
# Sequence-pattern matching over sessions (MATCH_RECOGNIZE / CEP stand-in)
# ---------------------------------------------------------------------------

SEQ_GAP_S = 86400  # daily sessions: the fixture averages ~2 events/user/day
SEQ_PATTERN = "v[^p]*c[^p]*p"  # view -> click -> purchase, no purchase between


@register(
    "events_session_patterns",
    f"""
WITH e AS (
    SELECT user_id, ts, event_id, epoch_us(ts) AS us,
           substr(event_type, 1, 1) AS ini
    FROM events
),
f AS (
    SELECT *, CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > {SEQ_GAP_S * 1_000_000}
                   THEN 1 ELSE 0 END AS ns
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS session_id
    FROM f
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       string_agg(ini, '' ORDER BY us, event_id) AS seq,
       CAST(len(regexp_extract_all(
                string_agg(ini, '' ORDER BY us, event_id),
                '{SEQ_PATTERN}')) AS BIGINT) AS n_conversions
FROM s GROUP BY user_id, session_id
""",
    doc="Sequence-pattern matching over gap-sessionized event streams — "
    "the MATCH_RECOGNIZE/CEP stand-in: each session rendered as an "
    f"initials string (ordered by (ts, event_id) — deterministic under "
    f"timestamp ties), '{SEQ_PATTERN}' conversions counted as "
    "non-overlapping RE2-safe regex matches. The order-sensitive "
    "aggregation carries its sort key inside the collected struct "
    "(array_sort(collect_list(struct))), so the sequence is "
    "partition-layout independent; one user-keyed shuffle shared by "
    "the session windows and the rollup.",
)
def q_events_session_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sessions import session_event_sequences

    ev = widen_input(load_table(spark, sf_dir, "events"))
    return session_event_sequences(
        ev, gap_seconds=SEQ_GAP_S, pattern=SEQ_PATTERN
    )


# --------------------------------------------------------------------------
# Per-user value trend (operators/sessions.py:user_value_trend)
# --------------------------------------------------------------------------


@register(
    "events_user_value_trend",
    """
WITH base AS (
    SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS um,
           CAST(ROUND(value * 100) AS BIGINT) AS cy
    FROM events
),
lo AS (SELECT user_id, MIN(um) AS um0 FROM base GROUP BY user_id),
xy AS (
    SELECT b.user_id,
           CAST((b.um - l.um0) // 1000000 AS BIGINT) AS x,
           b.cy AS y
    FROM base b JOIN lo l ON b.user_id = l.user_id
),
s AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(MAX(x) AS BIGINT) AS span_seconds
    FROM xy GROUP BY user_id
),
fit AS (
    SELECT user_id, n, span_seconds,
           CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS num,
           CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
           CAST(n AS DOUBLE) AS nd
    FROM s
)
SELECT user_id, n AS n_events, span_seconds,
       CASE WHEN den > 0
            THEN CAST(ROUND((num / den) * 3600 * 1000000) AS BIGINT) END
           AS slope_ucents_per_hour,
       CASE WHEN den > 0
            THEN CAST(ROUND(((syd - (num / den) * sxd) / nd) * 1000000)
                      AS BIGINT) END
           AS intercept_ucents
FROM fit
""",
    doc="Per-user OLS value trend fitted IN the engine "
    "(operators/sessions.py:user_value_trend): one pass accumulates "
    "exact int64 normal-equation sums per user (x = seconds since the "
    "user's first event — centering keeps every sum inside int64; y = "
    "exact cents), slope/intercept combine them as IEEE doubles in a "
    "fixed expression shape (the z-score exactmath discipline), "
    "micro-unit quantized. Closed form — no iteration, no driver "
    "round-trips; exchanges key on user_id (AQE broadcasts the min-ts "
    "side when it fits, co-partitioned SMJ at scale); the per-entity drift detector at "
    "any key cardinality. Singular fits (n<2 or zero x-variance) emit "
    "NULL, never Inf.",
)
def q_events_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sessions import user_value_trend

    return user_value_trend(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Exact-integer EWMA (exponentially-weighted moving average) — the
# classic "needs a recursive fold" time-series operator, made exact,
# engine-portable, and shuffle-linear by truncating alpha=1/2 at 16
# terms: EWMA_t = sum_{i=0..15} x_{t-i}·2^(15-i) / sum 2^(15-i)
# (pandas ewm(adjust=True) over a 16-row window). 2^-16 ~ 1.5e-5 of
# weight is below cent resolution, so the truncation is the honest
# bounded-memory form — and every term is a BIGINT, so numerator,
# denominator, and the milli-quantized ratio are hash-exact on both
# engines (no pow-of-(1-alpha) double drift). Shape: a bounded 16-way
# fan-out from each event to the rows it feeds, one (user, target-row)
# groupBy with map-side combine, one join back — all linear in events,
# no per-row recursion anywhere.
# ---------------------------------------------------------------------------

EWMA_W = 16
EWMA_USER_MOD = 10  # deterministic user subset keeps the gate bounded


def _ewma_oracle() -> str:
    return f"""
WITH base AS (
    SELECT user_id, event_id,
           CAST(ROUND(value * 100) AS BIGINT) AS cents,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events WHERE user_id % {EWMA_USER_MOD} = 0
),
fan AS (
    SELECT b.user_id, b.rn + i.i AS rt,
           b.cents * CAST(pow(2, {EWMA_W - 1} - i.i) AS BIGINT) AS contrib,
           CAST(pow(2, {EWMA_W - 1} - i.i) AS BIGINT) AS w
    FROM base b, (SELECT unnest(range(0, {EWMA_W})) AS i) i
),
agg AS (
    SELECT user_id, rt,
           CAST(SUM(contrib) AS BIGINT) AS ewma_num,
           CAST(SUM(w) AS BIGINT) AS ewma_den
    FROM fan GROUP BY 1, 2
)
SELECT t.user_id, t.event_id, a.ewma_num, a.ewma_den,
       CAST(a.ewma_num * 1000 // a.ewma_den AS BIGINT) AS ewma_milli
FROM base t JOIN agg a ON t.user_id = a.user_id AND t.rn = a.rt
"""


@register(
    "events_user_ewma",
    _ewma_oracle(),
    doc="Per-event EWMA of event value per user (alpha = 1/2, "
    f"adjust-normalized, truncated at {EWMA_W} terms — below cent "
    "resolution): the recursive smoother expressed as a BOUNDED "
    "relational fan-out so it is exact, engine-portable integer "
    "arithmetic end-to-end — each event fans out to the <= 16 rows it "
    "feeds with power-of-two BIGINT weights, partials combine "
    "map-side on (user, target-row), and one join lands the smoothed "
    "value back on the event. No recursion, no pow(1-alpha) doubles, "
    "no unbounded window state: the 100 TB plan is one 16x bounded "
    "fan-out + one keyed exchange + one co-keyed join. Emits exact "
    "numerator/denominator plus the milli-quantized ratio.",
)
def q_events_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id") % EWMA_USER_MOD == 0
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
    )
    fan = (
        base.select(
            "user_id",
            "rn",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(EWMA_W - 1))).alias("i"),
        )
        .select(
            "user_id",
            (F.col("rn") + F.col("i")).alias("rt"),
            F.expr(
                f"cents * CAST(pow(2, {EWMA_W - 1} - i) AS BIGINT)"
            ).alias("contrib"),
            F.expr(f"CAST(pow(2, {EWMA_W - 1} - i) AS BIGINT)").alias("w"),
        )
    )
    agg = (
        fan.groupBy("user_id", "rt")
        .agg(
            F.sum("contrib").alias("ewma_num"),
            F.sum("w").alias("ewma_den"),
        )
        .withColumnsRenamed({"user_id": "a_uid", "rt": "a_rt"})
    )
    return (
        base.join(
            agg,
            (base.user_id == agg.a_uid) & (base.rn == agg.a_rt),
        )
        .select(
            "user_id",
            "event_id",
            "ewma_num",
            "ewma_den",
            # FLOOR division, explicitly (r10 ADVICE): Spark's DIV
            # truncates toward zero while the oracle's // floors — they
            # agree only for non-negative numerators. ewma_den (a sum
            # of powers of two) is always > 0, so floor(num·1000/den)
            # = trunc - 1 exactly when the division is inexact and the
            # numerator is negative; this form is sign-safe, the
            # fixture's non-negative values are no longer load-bearing
            # (signed parity pinned in tests/test_round11.py).
            F.expr(
                "ewma_num * 1000 DIV ewma_den"
                " - CASE WHEN (ewma_num * 1000) % ewma_den != 0"
                "        AND ewma_num < 0 THEN 1 ELSE 0 END"
            ).alias("ewma_milli"),
        )
    )


@register(
    "tpch_q2_min_cost_supplier",
    """
WITH costs AS (
    SELECT l_partkey AS partkey, l_suppkey AS suppkey,
           MIN(l_extendedprice / l_quantity) AS unit_cost
    FROM lineitem GROUP BY 1, 2
),
eu AS (
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
),
eu_costs AS (
    SELECT c.partkey, c.suppkey, c.unit_cost, e.s_name, e.n_name
    FROM costs c JOIN eu e ON c.suppkey = e.s_suppkey
),
best AS (SELECT partkey, MIN(unit_cost) AS best_cost FROM eu_costs GROUP BY partkey)
SELECT p.p_partkey, p.p_name, ec.s_name, ec.n_name AS nation, ec.unit_cost
FROM part p
JOIN eu_costs ec ON p.p_partkey = ec.partkey
JOIN best b ON ec.partkey = b.partkey AND ec.unit_cost = b.best_cost
WHERE p.p_size = 15 AND p.p_type = 'ECONOMY'
""",
    doc="TPC-H Q2 shape: min-cost supplier per part via a correlated-MIN "
    "scalar (rewritten as agg + join-back, Catalyst's own decorrelation); "
    "lineitem bridges part and supplier since the fixtures ship no "
    "partsupp. Region-filtered supplier dim broadcasts.",
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").where("p_size = 15 AND p_type = 'ECONOMY'")
    costs = l.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    eu_costs = costs.join(F.broadcast(eu), costs.suppkey == eu.s_suppkey)
    best = eu_costs.groupBy("partkey").agg(F.min("unit_cost").alias("best_cost"))
    return (
        eu_costs.join(
            best,
            (eu_costs.partkey == best.partkey)
            & (eu_costs.unit_cost == best.best_cost),
        )
        .drop(best.partkey)
        .join(F.broadcast(p), F.col("partkey") == p.p_partkey)
        .select("p_partkey", "p_name", "s_name", F.col("n_name").alias("nation"), "unit_cost")
    )


@register(
    "tpch_q4_late_order_priority",
    """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o.o_orderpriority
""",
    doc="TPC-H Q4 shape: correlated EXISTS with a non-equi predicate "
    "(shipped >= 60 days after order date stands in for the missing "
    "commit/receipt dates) → left-semi join on the order key, then a "
    "priority rollup. Quarter filter pushes to the orders scan.",
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        "o_orderdate >= TIMESTAMP_NTZ'1997-01-01 00:00:00'"
        " AND o_orderdate < TIMESTAMP_NTZ'1997-04-01 00:00:00'"
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            & (l.l_shipdate >= F.expr("o_orderdate + INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "tpch_q8_market_share",
    """
WITH flat AS (
    SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
           CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS cents,
           sn.n_name AS supp_nation
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region r ON cn.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       SUM(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)
         / SUM(cents) AS mkt_share
FROM flat GROUP BY o_year
""",
    doc="TPC-H Q8 shape: national market share — the 8-relation join with "
    "nation in two roles (customer market vs supplier origin) and a "
    "conditional-share aggregate. All dims broadcast; the share divides "
    "two exact int64 cent sums so the double is engine-identical.",
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders").where(
        "o_orderdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'"
        " AND o_orderdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'"
    )
    c = load_table(spark, sf_dir, "customer")
    cn = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    s = load_table(spark, sf_dir, "supplier")
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_nationkey"), F.col("n_name").alias("supp_nation")
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    flat = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == cn.n_nationkey)
        .join(F.broadcast(r), cn.n_regionkey == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_nationkey"))
        .select(F.year("o_orderdate").alias("o_year"), cents.alias("cents"), "supp_nation")
    )
    return flat.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("cents")).otherwise(0))
            / F.sum("cents")
        ).alias("mkt_share")
    )


@register(
    "tpch_q9_product_type_profit",
    f"""
SELECT sn.n_name AS nation,
       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
       {_REV} AS amount
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY sn.n_name, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER)
""",
    doc="TPC-H Q9 shape: profit by (supplier nation, order year) for parts "
    "matching a LIKE pattern — revenue-only since the fixtures ship no "
    "ps_supplycost. LIKE-filtered part dim broadcasts; one fact shuffle.",
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    sn = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == sn.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(sum_product_money("l_extendedprice", 1 - F.col("l_discount")).alias("amount"))
    )


@register(
    "tpch_q12_priority_by_linestatus",
    """
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_linestatus
""",
    doc="TPC-H Q12 shape: conditional priority counts per line status "
    "(l_linestatus stands in for the missing l_shipmode). The shipdate "
    "range pushes to the lineitem scan before the join.",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").where(
        "l_shipdate >= TIMESTAMP_NTZ'1997-01-01 00:00:00'"
        " AND l_shipdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_custdist",
    """
WITH c_orders AS (
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders GROUP BY c_count
""",
    doc="TPC-H Q13 shape: customer-order-count distribution — outer join "
    "with an ON-clause exclusion (priority stands in for the missing "
    "o_comment NOT LIKE), then the double aggregation. COUNT(column) "
    "over the null-extended side makes order-less customers count 0.",
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "tpch_q16_supplier_cnt",
    """
SELECT p.p_brand, p.p_type, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p.p_brand, p.p_type, p.p_size
""",
    doc="TPC-H Q16 shape: distinct-supplier counts per (brand, type, size) "
    "with a NOT IN supplier exclusion (negative balance stands in for the "
    "complaints comment; lineitem bridges part↔supplier without partsupp). "
    "NOT IN → broadcast left-anti join on a never-null key.",
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad = load_table(spark, sf_dir, "supplier").where("s_acctbal < 0.0").select("s_suppkey")
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_small_qty_revenue",
    """
SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 / 7.0 AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
""",
    doc="TPC-H Q17 shape: per-part correlated scalar (0.2 x avg quantity) "
    "gating a revenue sum — decorrelated as a per-part aggregate joined "
    "back, computed only for the brand's parts via a semi join. Quantities "
    "are whole numbers in double, so AVG is fp-exact either engine.",
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3").select("p_partkey")
    avg_q = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut"))
        .withColumnRenamed("l_partkey", "a_partkey")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "left_semi")
        .join(F.broadcast(avg_q), F.col("l_partkey") == F.col("a_partkey"))
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg((sum_money("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


@register(
    "tpch_q19_or_of_ands",
    """
SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#6' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 20 AND l.l_quantity <= 30)
""",
    doc="TPC-H Q19 shape: disjunction of conjunctive (brand, size, "
    "quantity) triples across the join — the OR-of-ANDs predicate-pushdown "
    "case: Catalyst extracts the brand/size disjunction to the part side "
    "and the quantity disjunction to the lineitem scan.",
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & (q >= 1) & (q <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#21")
            & F.col("p_size").between(1, 10)
            & (q >= 10) & (q <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#6")
            & F.col("p_size").between(1, 15)
            & (q >= 20) & (q <= 30)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .where(cond)
        .agg(sum_product_money("l_extendedprice", 1 - F.col("l_discount")).alias("revenue"))
    )


@register(
    "tpch_q21_sole_return_supplier",
    """
SELECT s.s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey AND l1.l_returnflag = 'R'
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
""",
    doc="TPC-H Q21 shape: the only supplier with a returned line on a "
    "multi-supplier finished order (returnflag stands in for the missing "
    "receipt/commit lateness) — correlated EXISTS + NOT EXISTS on the same "
    "relation → left-semi and left-anti joins with non-equi supplier "
    "inequality, then top-20 with a total tie-break.",
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    l1 = l.where(F.col("l_returnflag") == "R").alias("l1")
    l2 = l.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        l.where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    waiting = (
        l1.join(o, F.col("l1.l_orderkey") == o.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), F.col("l1.l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count_distinct(F.col("l1.l_orderkey")).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


# Derived partsupp: the fixtures ship no partsupp table, so Q11/Q20 run
# over the part-supplier relation OBSERVED in lineitem — supplycost =
# min unit price (exact cents), availqty = 10 x shipped-line count. Both
# engines derive it identically, so the query SHAPES (grouped-value
# share vs a scalar threshold; nested-IN subquery chain) are exercised
# faithfully against shared data.
_PS_CTE = """
ps AS (
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           CAST(MIN(CAST(ROUND(l_extendedprice / l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS ps_supplycost_cents,
           COUNT(*) * 10 AS ps_availqty
    FROM lineitem GROUP BY 1, 2
)
"""


def _ps(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(
            F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100).cast("long")
        ).alias("ps_supplycost_cents"),
        (F.count("*") * 10).alias("ps_availqty"),
    )


@register(
    "tpch_q11_important_stock",
    f"""
WITH {_PS_CTE},
nat AS (
    SELECT s_suppkey FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_7'
),
v AS (
    SELECT ps.ps_partkey,
           CAST(SUM(ps.ps_supplycost_cents * ps.ps_availqty) AS BIGINT) AS value_cents
    FROM ps JOIN nat ON ps.ps_suppkey = nat.s_suppkey
    GROUP BY ps.ps_partkey
)
SELECT ps_partkey, value_cents
FROM v, (SELECT CAST(SUM(value_cents) AS BIGINT) AS total FROM v) t
WHERE value_cents > 0.001 * t.total
""",
    doc="TPC-H Q11 shape: grouped stock value per part vs a scalar "
    "fraction-of-total threshold (the HAVING-over-global-aggregate "
    "pattern) over the lineitem-derived partsupp; all-integer value math "
    "so the share comparison is engine-exact.",
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    nat = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    v = (
        _ps(spark, sf_dir)
        .join(F.broadcast(nat), F.col("ps_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("ps_partkey")
        .agg(
            F.sum(F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias(
                "value_cents"
            )
        )
    )
    total = v.agg(F.sum("value_cents").alias("total"))
    return (
        v.crossJoin(F.broadcast(total))
        .where(F.col("value_cents") > 0.001 * F.col("total"))
        .select("ps_partkey", "value_cents")
    )


@register(
    "tpch_q20_excess_stock_suppliers",
    f"""
WITH {_PS_CTE},
shipped AS (
    SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2
),
redparts AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
excess AS (
    SELECT DISTINCT ps.ps_suppkey
    FROM ps
    JOIN redparts rp ON ps.ps_partkey = rp.p_partkey
    JOIN shipped sh ON ps.ps_partkey = sh.l_partkey AND ps.ps_suppkey = sh.l_suppkey
    WHERE ps.ps_availqty > 0.5 * sh.qty
)
SELECT s.s_name, n.n_name AS nation
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (SELECT ps_suppkey FROM excess)
""",
    doc="TPC-H Q20 shape: the nested-IN chain (suppliers having excess "
    "stock of a LIKE-matched part relative to a year's shipments) over "
    "the lineitem-derived partsupp; quantities are whole-number doubles, "
    "fp-exact either engine.",
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    shipped = (
        l.where(
            "l_shipdate >= TIMESTAMP_NTZ'1997-01-01 00:00:00'"
            " AND l_shipdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'"
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    redparts = (
        load_table(spark, sf_dir, "part").where(F.col("p_name").like("red%")).select("p_partkey")
    )
    ps = _ps(spark, sf_dir)
    excess = (
        ps.join(F.broadcast(redparts), ps.ps_partkey == F.col("p_partkey"), "left_semi")
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .where(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(excess), s.s_suppkey == F.col("ps_suppkey"), "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", F.col("n_name").alias("nation"))
    )
