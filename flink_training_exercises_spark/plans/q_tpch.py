"""TPC-H analytical suite (all 22 shapes) over the testdata relational tables.

Registration module: imported by plans.catalog for its @register side
effects; the shared QuerySpec registry, query order and determinism
rules live in plans/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from ..sources import load_table
from .catalog import register
from ..operators import (
    tpch,
)


@register(
    "tpch_q1_pricing_summary",
    oracle=tpch.PRICING_SUMMARY_SQL,
    doc="TPC-H Q1 shape on lineitem: 2-key group, 7 aggregates, exact "
    "integer-cents arithmetic.",
    bench=True,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.pricing_summary(load_table(spark, "lineitem", sf_dir))

@register(
    "tpch_q3_shipping_priority",
    oracle=tpch.SHIPPING_PRIORITY_SQL,
    doc="TPC-H Q3 shape: 3-way join, deterministic integer-revenue top-10.",
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.shipping_priority(
        load_table(spark, "customer", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "lineitem", sf_dir),
    )

@register(
    "tpch_q5_local_supplier",
    oracle=tpch.LOCAL_SUPPLIER_SQL,
    doc="TPC-H Q5 shape: 6-way join, broadcast dimensions, revenue per "
    "nation.",
    bench=True,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.local_supplier_volume(
        load_table(spark, "region", sf_dir),
        load_table(spark, "nation", sf_dir),
        load_table(spark, "customer", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "lineitem", sf_dir),
    )

@register(
    "tpch_q4_order_priority",
    oracle=tpch.ORDER_PRIORITY_EXISTS_SQL,
    doc="TPC-H Q4 shape: EXISTS semi-join (returnflag stand-in for the "
    "trimmed commit/receipt dates) + per-priority count.",
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.order_priority_exists(
        load_table(spark, "orders", sf_dir), load_table(spark, "lineitem", sf_dir)
    )

@register(
    "tpch_q6_forecast_revenue",
    oracle=tpch.FORECAST_REVENUE_SQL,
    doc="TPC-H Q6: all predicates push to the scan, single exact global sum.",
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.forecast_revenue(load_table(spark, "lineitem", sf_dir))

@register(
    "tpch_q7_volume_shipping",
    oracle=tpch.VOLUME_SHIPPING_SQL,
    doc="TPC-H Q7: bidirectional nation-pair trade volume per ship year; "
    "nation/supplier/customer dims broadcast.",
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.volume_shipping(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "customer", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "nation", sf_dir),
    )

@register(
    "tpch_q8_market_share",
    oracle=tpch.NATIONAL_MARKET_SHARE_SQL,
    doc="TPC-H Q8: target nation's market share per year -- ratio of two "
    "exact integer sums (partitioning-independent).",
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.national_market_share(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "customer", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "nation", sf_dir),
        load_table(spark, "region", sf_dir),
        load_table(spark, "part", sf_dir),
    )

@register(
    "tpch_q10_returned_items",
    oracle=tpch.RETURNED_ITEM_SQL,
    doc="TPC-H Q10: top-20 customers by returned-item revenue in a quarter; "
    "deterministic row_number cut on exact integer revenue.",
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.returned_item_reporting(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "customer", sf_dir),
        load_table(spark, "nation", sf_dir),
    )

@register(
    "tpch_q13_order_distribution",
    oracle=tpch.CUSTOMER_ORDER_DIST_SQL,
    doc="TPC-H Q13: customers-per-order-count histogram; left join keeps "
    "zero-order customers (priority filter stands in for comment LIKE).",
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.customer_order_distribution(
        load_table(spark, "customer", sf_dir), load_table(spark, "orders", sf_dir)
    )

@register(
    "tpch_q14_promo_revenue",
    oracle=tpch.PROMO_REVENUE_SQL,
    doc="TPC-H Q14: promo share of one month's revenue; ratio of exact "
    "integer sums.",
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.promo_revenue_share(
        load_table(spark, "lineitem", sf_dir), load_table(spark, "part", sf_dir)
    )

@register(
    "tpch_q17_small_quantity",
    oracle=tpch.SMALL_QUANTITY_SQL,
    doc="TPC-H Q17: below-20%%-of-part-average quantity predicate evaluated "
    "in integers (qty*5*cnt < sum) over a per-part window -- no float avg.",
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.small_quantity_revenue(
        load_table(spark, "lineitem", sf_dir), load_table(spark, "part", sf_dir)
    )

@register(
    "tpch_q18_large_volume",
    oracle=tpch.LARGE_VOLUME_SQL,
    doc="TPC-H Q18: HAVING on aggregated order quantity, joined back to "
    "customer; top-100 by total price with orderkey tie-break.",
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.large_volume_customers(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "customer", sf_dir),
    )

@register(
    "tpch_q19_discounted_revenue",
    oracle=tpch.DISCOUNTED_REVENUE_SQL,
    doc="TPC-H Q19: OR-of-ANDs brand/size/quantity predicate; part side "
    "pre-pruned to the branch union and broadcast.",
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.discounted_revenue(
        load_table(spark, "lineitem", sf_dir), load_table(spark, "part", sf_dir)
    )

# --- remaining TPC-H shapes over the derived partsupp (tpch.py docstring) ---


@register(
    "tpch_q2_min_cost_supplier",
    oracle=tpch.MIN_COST_SUPPLIER_SQL,
    doc="TPC-H Q2 shape: correlated-MIN rewritten as groupBy-min + equi-join "
    "back; derived partsupp; deterministic top-10 on a total order.",
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.min_cost_supplier(
        load_table(spark, "part", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "nation", sf_dir),
        load_table(spark, "region", sf_dir),
        load_table(spark, "lineitem", sf_dir),
    )

@register(
    "tpch_q9_product_type_profit",
    oracle=tpch.PRODUCT_TYPE_PROFIT_SQL,
    doc="TPC-H Q9: profit decomposition over a 6-way join (lineitem ⋈ "
    "derived partsupp on the compound key is the real shuffle); exact "
    "1e-4-dollar integer arithmetic.",
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.product_type_profit(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "part", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "nation", sf_dir),
    )

@register(
    "tpch_q11_important_stock",
    oracle=tpch.IMPORTANT_STOCK_SQL,
    doc="TPC-H Q11: group-sum vs scalar-fraction HAVING, compared exactly in "
    "bigints (val_c * denom > tot_c); scalar total via lazy broadcast "
    "crossJoin.",
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.important_stock(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "nation", sf_dir),
    )

@register(
    "tpch_q12_shipmode_priority",
    oracle=tpch.SHIPMODE_PRIORITY_SQL,
    doc="TPC-H Q12: CASE-sum pivot over the orders⋈lineitem join "
    "(deterministic keyed-hash shipmode stand-in).",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.shipmode_priority(
        load_table(spark, "lineitem", sf_dir), load_table(spark, "orders", sf_dir)
    )

@register(
    "tpch_q15_top_supplier",
    oracle=tpch.TOP_SUPPLIER_SQL,
    doc="TPC-H Q15: revenue-view argmax with ties kept -- equi-join against "
    "the broadcast scalar max, no global sort.",
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.top_supplier(
        load_table(spark, "lineitem", sf_dir), load_table(spark, "supplier", sf_dir)
    )

@register(
    "tpch_q16_supplier_part_counts",
    oracle=tpch.SUPPLIER_PART_COUNTS_SQL,
    doc="TPC-H Q16: distinct-supplier count per (brand,type,size) with a "
    "broadcast anti-join excluding flagged suppliers.",
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.supplier_part_counts(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "part", sf_dir),
        load_table(spark, "supplier", sf_dir),
    )

@register(
    "tpch_q20_excess_inventory",
    oracle=tpch.EXCESS_INVENTORY_SQL,
    doc="TPC-H Q20: nested INs become aggregation + equi-join + integer "
    "predicate + left-semi; correlated scalar subquery never re-scans.",
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.excess_inventory_suppliers(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "nation", sf_dir),
        load_table(spark, "part", sf_dir),
    )

@register(
    "tpch_q21_waiting_suppliers",
    oracle=tpch.WAITING_SUPPLIERS_SQL,
    doc="TPC-H Q21: EXISTS/NOT-EXISTS quadruple self-reference as "
    "left-semi + left-anti on distinct (order, supplier) pairs.",
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.waiting_suppliers(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "nation", sf_dir),
    )

@register(
    "tpch_q22_global_sales",
    oracle=tpch.GLOBAL_SALES_SQL,
    doc="TPC-H Q22: above-scalar-average balance (exact bal_c*cnt > sum_c "
    "bigint compare) + no-recent-orders anti-join, per country code.",
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.global_sales_opportunity(
        load_table(spark, "customer", sf_dir),
        load_table(spark, "orders", sf_dir),
    )
