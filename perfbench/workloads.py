"""The benchmark's workloads and how one item of a workload runs.

An item is either a registry query (``REGISTRY[name].fn(spark, sf_dir)``)
or the reference batch pipeline (``pipelines.airports_batch_pipeline``
over ``fixtures.airports_messages`` into a benchmark-owned parquet sink).
Running an item has two steps, timed apart in traced runs:

- build: everything up to the returned DataFrame, including the eager
  jobs an operator fires (``localCheckpoint``, ``count``, sink writes);
- action: one ``noop`` write of the returned DataFrame.

Each item also names the golden checks its result must pass: the check
name is a registry query whose DuckDB oracle defines the expected rows.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

# Eleven of the 22 TPC-H registry queries, one per query shape: data-bound
# relational work (catalog scans, Catalyst, joins, shuffles) where the
# action dominates the item. All 22 make a warm pass of about 20 s, which
# the benchmark's time budget cannot hold (see DESIGN.md).
TPCH = [
    "tpch_q1_pricing_summary",  # scan + wide aggregate
    "tpch_q2_min_cost_supplier",  # correlated MIN subquery, 5 tables
    "tpch_q3_top_orders",  # 3-way join + top-k
    "tpch_q5_local_supplier_volume",  # 6-way join
    "tpch_q6_forecast_revenue",  # filter + global aggregate
    "tpch_q9_product_type_profit",  # LIKE filter + 6-way join
    "tpch_q13_custdist",  # outer join + count of counts
    "tpch_q17_small_qty_revenue",  # correlated AVG subquery
    "tpch_q18_large_orders",  # HAVING + IN subquery
    "tpch_q21_sole_return_supplier",  # EXISTS + NOT EXISTS
    "tpch_q22_idle_rich_customers",  # substring + anti join
]

PIPELINE = "airports_batch_pipeline"

# Job- and driver-bound iterative operators beside the write path: the
# graph and similarity items spend most of their time in the registry fn,
# firing many eager jobs; the ingest items persist, write a parquet sink
# and read it back, and run a streaming micro-batch.
GRAPH_ETL = [
    "parts_kcore",
    "jaccard_prefix_pairs",
    PIPELINE,
    "streaming_hourly_windows",
]

WORKLOADS: dict[str, list[str]] = {
    "tpch_sf0.1": TPCH,
    "graph_etl_sf0.1": GRAPH_ETL,
}

# Items of the original plan that the time budget cut (see DESIGN.md).
# They are not timed, but golden.py stores their digests too and
# check_cut.py checks each once against them, so the cut hides no
# failing item.
CUT = [f"tpch_q{n}_{s}" for n, s in (
    (4, "late_order_priority"),
    (7, "nation_volume"),
    (8, "market_share"),
    (10, "returned_top_customers"),
    (11, "important_stock"),
    (12, "priority_by_linestatus"),
    (14, "promo_revenue"),
    (15, "top_supplier"),
    (16, "supplier_cnt"),
    (19, "or_of_ands"),
    (20, "excess_stock_suppliers"),
)] + [
    "parts_triangle_counts",
    "parts_copurchase_bfs_3hop",
    "customer_entity_resolution",
    "minhash_incremental_ingest",
    "streaming_inverted_index_ingest",
]

# The share of ``--seconds`` that buys one timed pass: a run times
# ``max(1, seconds // SECONDS_PER_TIMED_PASS)`` passes. These are not pass
# lengths (a warm pass of either workload takes 12-15 s on a 4-core box);
# they fix the pass count for a given ``--seconds`` (at 20: one tpch pass, two
# graph_etl passes), so a change that speeds a pass up does not also change
# how many passes are timed. graph_etl gets two because its first timed
# pass is still warming up and its short items swing more.
SECONDS_PER_TIMED_PASS: dict[str, int] = {
    "tpch_sf0.1": 20,
    "graph_etl_sf0.1": 10,
}

# Tables the workloads read; a copy of the seed-42 sf0.1 fixture.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "documents",
    "events",
)


def checks_of(item: str) -> list[str]:
    """Registry names whose oracle results the item's output must match."""
    if item == PIPELINE:
        # stats = the flagship aggregate; the sink's read-back = the
        # cleaned rows.
        return ["airports_flagship", "airports_clean"]
    return [item]


@dataclass
class Built:
    """What an item's build step produced."""

    result: object  # the DataFrame the action writes
    checked: dict = field(default_factory=dict)  # check name -> DataFrame
    clean_count: int = 0  # pipeline only
    verified_count: int = 0  # pipeline only
    sink_path: str = ""  # pipeline only


def build(spark, item: str, sf_dir: str, sink_root: str) -> Built:
    """Run the item's build step."""
    if item == PIPELINE:
        from projet_etl_a_rien_spark import fixtures, pipelines

        sink = os.path.join(sink_root, "airports_clean")
        res = pipelines.airports_batch_pipeline(
            spark, fixtures.airports_messages(spark, sf_dir), sink
        )
        return Built(
            res.stats,
            {"airports_flagship": res.stats, "airports_clean": res.readback},
            res.clean_count,
            res.verified_count,
            sink,
        )
    from projet_etl_a_rien_spark.queries import REGISTRY

    df = REGISTRY[item].fn(spark, sf_dir)
    return Built(df, {item: df})


def action(built: Built) -> None:
    built.result.write.format("noop").mode("overwrite").save()
