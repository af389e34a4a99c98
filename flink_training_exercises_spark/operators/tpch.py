"""TPC-H-style analytical queries over the testdata star schema.

Not reference-derived -- these anchor the engine's relational breadth (multi-
way joins, selective scans, wide aggregation) on the LARGEST testdata tables,
which is where 100 TB behavior is previewed: dimension tables broadcast,
fact-table filters push to the parquet scan, aggregates partial-combine
before the shuffle.

Exactness: money columns are 2-decimal doubles; all arithmetic runs in
integer cents (and 1e-4 / 1e-6 units for discount/tax products), converted
to doubles only at the end -- bit-identical across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Each query's parameters, read by both the Spark operator and its DuckDB
# twin (the *_SQL text), so every value is written here once.
Q1_CUTOFF = "1998-09-02 00:00:00"
Q2_REGION_NAME, Q2_SIZE, Q2_TYPE, Q2_K = "ASIA", 5, "STANDARD", 10
Q3_SEGMENT, Q3_DATE, Q3_K = "BUILDING", "1998-01-01 00:00:00", 10
Q4_DATE_FROM, Q4_DATE_TO = "1996-01-01 00:00:00", "1996-04-01 00:00:00"
Q5_REGION_NAME, Q5_DATE_FROM, Q5_DATE_TO = "ASIA", "1996-01-01 00:00:00", "1998-01-01 00:00:00"
Q6_DATE_FROM = "1996-01-01 00:00:00"
Q6_DATE_TO = "1997-01-01 00:00:00"
Q6_DISC_LO_C = 5
Q6_DISC_HI_C = 7
Q6_MAX_QTY = 24
Q7_NATION_A, Q7_NATION_B = "NATION_1", "NATION_2"
Q8_TARGET_NATION = "NATION_7"
Q8_REGION_NAME = "ASIA"
Q8_PART_TYPE = "PROMO"
Q8_DATE_FROM = "1995-01-01 00:00:00"
Q8_DATE_TO = "1997-01-01 00:00:00"
Q9_NAME_SUBSTR = "widget"
Q10_DATE_FROM, Q10_DATE_TO, Q10_K = "1996-01-01 00:00:00", "1996-04-01 00:00:00", 20
Q11_NATION_NAME, Q11_FRACTION_DENOM = "NATION_9", 1500
Q12_DATE_FROM, Q12_DATE_TO = "1997-01-01 00:00:00", "1998-01-01 00:00:00"
Q13_EXCLUDED_PRIORITY = "4-NOT SPECIFIED"
Q14_PROMO_TYPE, Q14_DATE_FROM, Q14_DATE_TO = "PROMO", "1996-03-01 00:00:00", "1996-04-01 00:00:00"
Q15_DATE_FROM, Q15_DATE_TO = "1996-01-01 00:00:00", "1996-04-01 00:00:00"
Q16_EXCL_BRAND, Q16_EXCL_TYPE = "Brand#12", "PROMO"
Q17_BRAND = "Brand#5"
Q18_MIN_QTY_C, Q18_K = 15000, 100
Q20_NATION_NAME = "NATION_9"
Q20_NAME_PREFIX = "red"
Q20_DATE_FROM = "1996-01-01 00:00:00"
Q20_DATE_TO = "1997-01-01 00:00:00"
Q21_NATION_NAME, Q21_K = "NATION_9", 20
Q22_CODES, Q22_CUTOFF = "1, 3, 5, 7, 9", "2000-01-01 00:00:00"


def _cents(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("bigint")


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape: per (returnflag, linestatus) pricing summary over
    lineitem rows shipped on or before the cutoff."""
    li = lineitem.where(F.col("l_shipdate") <= F.expr(f"TIMESTAMP_NTZ '{Q1_CUTOFF}'")).select(
        "l_returnflag",
        "l_linestatus",
        _cents("l_quantity").alias("qty_c"),
        _cents("l_extendedprice").alias("price_c"),
        _cents("l_discount").alias("disc_c"),
        _cents("l_tax").alias("tax_c"),
    )
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty_c").alias("sum_qty_c"),
        F.sum("price_c").alias("sum_price_c"),
        F.sum(F.col("price_c") * (100 - F.col("disc_c"))).alias("sum_disc_price_e4"),
        F.sum(F.col("price_c") * (100 - F.col("disc_c")) * (100 + F.col("tax_c"))).alias(
            "sum_charge_e6"
        ),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("sum_qty_c").cast("double") / 100).alias("sum_qty"),
        (F.col("sum_price_c").cast("double") / 100).alias("sum_base_price"),
        (F.col("sum_disc_price_e4").cast("double") / 10000).alias("sum_disc_price"),
        (F.col("sum_charge_e6").cast("double") / 1000000).alias("sum_charge"),
        (F.col("sum_qty_c").cast("double") / 100 / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_price_c").cast("double") / 100 / F.col("count_order")).alias("avg_price"),
        "count_order",
    )


PRICING_SUMMARY_SQL = f"""
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(round(l_discount * 100) AS BIGINT) AS disc_c,
         CAST(round(l_tax * 100) AS BIGINT) AS tax_c
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
),
agg AS (
  SELECT l_returnflag, l_linestatus,
         sum(qty_c) AS sum_qty_c, sum(price_c) AS sum_price_c,
         sum(price_c * (100 - disc_c)) AS sum_disc_price_e4,
         sum(price_c * (100 - disc_c) * (100 + tax_c)) AS sum_charge_e6,
         count(*) AS count_order
  FROM li GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus,
       CAST(sum_qty_c AS DOUBLE) / 100 AS sum_qty,
       CAST(sum_price_c AS DOUBLE) / 100 AS sum_base_price,
       CAST(sum_disc_price_e4 AS DOUBLE) / 10000 AS sum_disc_price,
       CAST(sum_charge_e6 AS DOUBLE) / 1000000 AS sum_charge,
       CAST(sum_qty_c AS DOUBLE) / 100 / count_order AS avg_qty,
       CAST(sum_price_c AS DOUBLE) / 100 / count_order AS avg_price,
       count_order
FROM agg
"""


def shipping_priority(customer: DataFrame, orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q3 shape: top-k open orders by revenue for one market segment.
    Dimension side (filtered customers) broadcasts; the top-k cut is a total
    ordering on exact integer revenue (orderkey tie-break) executed as
    TakeOrderedAndProject -- distributed per-partition top-k, not a
    single-partition global window."""
    cut = F.expr(f"TIMESTAMP_NTZ '{Q3_DATE}'")
    c = customer.where(F.col("c_mktsegment") == Q3_SEGMENT).select("c_custkey")
    o = orders.where(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = lineitem.where(F.col("l_shipdate") > cut).select(
        "l_orderkey",
        (_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias("rev_e4"),
    )
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("rev_e4").alias("rev_e4"))
    )
    return (
        joined.orderBy(F.desc("rev_e4"), F.asc("l_orderkey"))
        .limit(Q3_K)
        .select(
            "l_orderkey",
            (F.col("rev_e4").cast("double") / 10000).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


SHIPPING_PRIORITY_SQL = f"""
WITH j AS (
  SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
         sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS rev_e4
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = '{Q3_SEGMENT}'
    AND o.o_orderdate < TIMESTAMP '{Q3_DATE}'
    AND l.l_shipdate > TIMESTAMP '{Q3_DATE}'
  GROUP BY 1, 2, 3
)
SELECT l_orderkey, CAST(rev_e4 AS DOUBLE) / 10000 AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
FROM (SELECT *, row_number() OVER (ORDER BY rev_e4 DESC, l_orderkey) AS rn FROM j)
WHERE rn <= {Q3_K}
"""


def local_supplier_volume(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation where customer and supplier share
    the nation, one region, one date range. All dimensions broadcast; the
    only big shuffle is lineitem x orders."""
    r = region.where(F.col("r_name") == Q5_REGION_NAME).select("r_regionkey")
    n = nation.join(F.broadcast(r), nation["n_regionkey"] == r["r_regionkey"]).select(
        "n_nationkey", "n_name"
    )
    c = customer.join(
        F.broadcast(n), customer["c_nationkey"] == n["n_nationkey"]
    ).select("c_custkey", F.col("n_nationkey").alias("c_nat"), "n_name")
    s = supplier.select("s_suppkey", F.col("s_nationkey").alias("s_nat"))
    o = orders.where(
        (F.col("o_orderdate") >= F.expr(f"TIMESTAMP_NTZ '{Q5_DATE_FROM}'"))
        & (F.col("o_orderdate") < F.expr(f"TIMESTAMP_NTZ '{Q5_DATE_TO}'"))
    ).select("o_orderkey", "o_custkey")
    li = lineitem.select(
        "l_orderkey",
        "l_suppkey",
        (_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias("rev_e4"),
    )
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .where(F.col("c_nat") == F.col("s_nat"))
    )
    return (
        joined.groupBy("n_name")
        .agg(F.sum("rev_e4").alias("rev_e4"))
        .select("n_name", (F.col("rev_e4").cast("double") / 10000).alias("revenue"))
    )


LOCAL_SUPPLIER_SQL = f"""
SELECT n.n_name,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000
         AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{Q5_REGION_NAME}'
  AND o.o_orderdate >= TIMESTAMP '{Q5_DATE_FROM}'
  AND o.o_orderdate < TIMESTAMP '{Q5_DATE_TO}'
GROUP BY 1
"""


def distinct_users_per_type(events: DataFrame) -> DataFrame:
    """Exact grouped count-distinct (the reference has only distinct-on-key,
    MBoxParser.java:79-80; this is the aggregate form)."""
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


DISTINCT_USERS_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Wider TPC-H coverage (testdata schema is trimmed: no partsupp, no
# commit/receipt dates, no shipmode/container/phone -- Q2/Q11/Q12/Q15/Q16/
# Q20/Q21/Q22 don't fit; Q4's EXISTS shape is kept with a returnflag
# stand-in predicate). All money math in integer cents (exact under any
# partitioning); years as INT on both engines; top-k cuts use row_number
# with explicit key tie-breaks so they are deterministic.
# ---------------------------------------------------------------------------


def _ts(lit: str) -> F.Column:
    return F.expr(f"TIMESTAMP_NTZ '{lit}'")


def order_priority_exists(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of orders in a quarter having at
    least one lineitem satisfying a predicate (returnflag='R' stands in for
    the missing commit/receipt dates). The semi-join is the point: the
    lineitem side never widens the row, so Spark plans a LeftSemi that
    early-outs per order."""
    o = orders.where(
        (F.col("o_orderdate") >= _ts(Q4_DATE_FROM)) & (F.col("o_orderdate") < _ts(Q4_DATE_TO))
    ).select("o_orderkey", "o_orderpriority")
    flagged = lineitem.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.join(flagged, o["o_orderkey"] == flagged["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


ORDER_PRIORITY_EXISTS_SQL = f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '{Q4_DATE_FROM}'
  AND o.o_orderdate < TIMESTAMP '{Q4_DATE_TO}'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY 1
"""


def forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6: pure scan-side filter + single global sum -- every predicate
    pushes to the parquet scan; the aggregate is one map-side-combined
    shuffle of one partial per partition."""
    li = lineitem.where(
        (F.col("l_shipdate") >= _ts(Q6_DATE_FROM))
        & (F.col("l_shipdate") < _ts(Q6_DATE_TO))
        & _cents("l_discount").between(Q6_DISC_LO_C, Q6_DISC_HI_C)
        & (F.col("l_quantity") < Q6_MAX_QTY)
    )
    rev_e4 = F.sum(_cents("l_extendedprice") * _cents("l_discount")).alias("rev_e4")
    return li.agg(rev_e4).select(
        (F.col("rev_e4").cast("double") / 10000).alias("revenue")
    )


FORECAST_REVENUE_SQL = f"""
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q6_DATE_FROM}' AND l_shipdate < TIMESTAMP '{Q6_DATE_TO}'
  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN {Q6_DISC_LO_C} AND {Q6_DISC_HI_C}
  AND l_quantity < {Q6_MAX_QTY}
"""


def volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q7: revenue flowing between two nations (both directions), per
    supplier-nation/customer-nation/ship-year. Both nation dims broadcast;
    the wide shuffle is lineitem x orders only."""
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    s = supplier.select("s_suppkey", "s_nationkey")
    c = customer.select("c_custkey", "c_nationkey")
    li = lineitem.select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").alias("l_year"),
        (_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias("rev_e4"),
    )
    j = (
        li.join(orders.select("o_orderkey", "o_custkey"), li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(
            ((F.col("supp_nation") == Q7_NATION_A) & (F.col("cust_nation") == Q7_NATION_B))
            | ((F.col("supp_nation") == Q7_NATION_B) & (F.col("cust_nation") == Q7_NATION_A))
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("rev_e4").alias("rev_e4"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            (F.col("rev_e4").cast("double") / 10000).alias("revenue"),
        )
    )


VOLUME_SHIPPING_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000
         AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE (n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
   OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}')
GROUP BY 1, 2, 3
"""


def national_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """TPC-H Q8: the target nation's share of PROMO-part revenue sold into
    one region, per order year. The share is a ratio of two exact integer
    sums, so it is bit-identical regardless of partitioning."""
    r = region.where(F.col("r_name") == Q8_REGION_NAME).select("r_regionkey")
    rn = nation.join(F.broadcast(r), nation["n_regionkey"] == r["r_regionkey"]).select(
        F.col("n_nationkey").alias("c_nk")
    )
    c = customer.join(
        F.broadcast(rn), customer["c_nationkey"] == F.col("c_nk")
    ).select("c_custkey")
    sn = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    s = supplier.join(F.broadcast(sn), supplier["s_nationkey"] == F.col("s_nk")).select(
        "s_suppkey", "supp_nation"
    )
    p = part.where(F.col("p_type") == Q8_PART_TYPE).select("p_partkey")
    o = orders.where(
        (F.col("o_orderdate") >= _ts(Q8_DATE_FROM)) & (F.col("o_orderdate") < _ts(Q8_DATE_TO))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    li = lineitem.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        (_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias("rev_e4"),
    )
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
    )
    agg = j.groupBy("o_year").agg(
        F.sum(F.when(F.col("supp_nation") == Q8_TARGET_NATION, F.col("rev_e4")).otherwise(F.lit(0))).alias(
            "nat_e4"
        ),
        F.sum("rev_e4").alias("tot_e4"),
    )
    return agg.select(
        "o_year",
        (F.col("nat_e4").cast("double") / F.col("tot_e4")).alias("mkt_share"),
    )


NATIONAL_MARKET_SHARE_SQL = f"""
WITH j AS (
  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
         CAST(round(l.l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_e4,
         n1.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  JOIN region r ON n2.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  WHERE r.r_name = '{Q8_REGION_NAME}' AND p.p_type = '{Q8_PART_TYPE}'
    AND o.o_orderdate >= TIMESTAMP '{Q8_DATE_FROM}'
    AND o.o_orderdate < TIMESTAMP '{Q8_DATE_TO}'
)
SELECT o_year,
       CAST(CAST(sum(CASE WHEN supp_nation = '{Q8_TARGET_NATION}' THEN rev_e4 ELSE 0 END)
                 AS BIGINT) AS DOUBLE)
       / CAST(sum(rev_e4) AS BIGINT) AS mkt_share
FROM j GROUP BY 1
"""


def returned_item_reporting(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q10: top-k customers by revenue lost to returns in one quarter.
    Deterministic cut: total ordering (revenue desc, custkey asc) on the
    exact integer revenue, executed as TakeOrderedAndProject -- a
    distributed per-partition top-k + driver merge, NOT a single-partition
    global window (which would funnel every group through one task)."""
    o = orders.where(
        (F.col("o_orderdate") >= _ts(Q10_DATE_FROM)) & (F.col("o_orderdate") < _ts(Q10_DATE_TO))
    ).select("o_orderkey", "o_custkey")
    li = lineitem.where(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        (_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias("rev_e4"),
    )
    n = nation.select("n_nationkey", "n_name")
    agg = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum("rev_e4").alias("rev_e4"))
    )
    return (
        agg.orderBy(F.desc("rev_e4"), F.asc("c_custkey"))
        .limit(Q10_K)
        .select(
            "c_custkey",
            "c_name",
            (F.col("rev_e4").cast("double") / 10000).alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


RETURNED_ITEM_SQL = f"""
WITH agg AS (
  SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
         sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS rev_e4
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '{Q10_DATE_FROM}'
    AND o.o_orderdate < TIMESTAMP '{Q10_DATE_TO}'
  GROUP BY 1, 2, 3, 4
)
SELECT c_custkey, c_name, CAST(rev_e4 AS DOUBLE) / 10000 AS revenue, c_acctbal, n_name
FROM (SELECT *, row_number() OVER (ORDER BY rev_e4 DESC, c_custkey) AS rn FROM agg)
WHERE rn <= {Q10_K}
"""


def customer_order_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13: histogram of customers by order count (left join keeps
    zero-order customers; the excluded-priority predicate stands in for the
    comment LIKE filter the trimmed schema lacks)."""
    o = orders.where(F.col("o_orderpriority") != Q13_EXCLUDED_PRIORITY).select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        customer.select("c_custkey")
        .join(o, customer["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


CUSTOMER_ORDER_DIST_SQL = f"""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '{Q13_EXCLUDED_PRIORITY}'
  GROUP BY 1
)
GROUP BY 1
"""


def promo_revenue_share(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14: promo parts' share of one month's revenue, x100. Part dim
    broadcasts; the ratio divides two exact integer sums."""
    li = lineitem.where(
        (F.col("l_shipdate") >= _ts(Q14_DATE_FROM)) & (F.col("l_shipdate") < _ts(Q14_DATE_TO))
    ).select(
        "l_partkey",
        (_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias("rev_e4"),
    )
    p = part.select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == Q14_PROMO_TYPE, F.col("rev_e4")).otherwise(F.lit(0))).alias(
            "promo_e4"
        ),
        F.sum("rev_e4").alias("tot_e4"),
    )
    return agg.select(
        (F.lit(100.0) * F.col("promo_e4").cast("double") / F.col("tot_e4")).alias(
            "promo_revenue_pct"
        )
    )


PROMO_REVENUE_SQL = f"""
SELECT 100e0 * CAST(CAST(sum(CASE WHEN p.p_type = '{Q14_PROMO_TYPE}' THEN
                 CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) ELSE 0 END)
               AS BIGINT) AS DOUBLE)
       / CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
         AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '{Q14_DATE_FROM}' AND l.l_shipdate < TIMESTAMP '{Q14_DATE_TO}'
"""


def small_quantity_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q17: average yearly revenue lost if small-quantity orders (below
    20% of the part's average quantity) were not filled. The 20%-of-average
    predicate is evaluated in integers (qty*5*count < sum) -- no float avg,
    so both engines agree bit-for-bit. One shuffle: the per-part window."""
    from pyspark.sql import Window

    li = lineitem.select(
        "l_partkey", _cents("l_quantity").alias("qty_c"), _cents("l_extendedprice").alias("price_c")
    )
    w = Window.partitionBy("l_partkey")
    enriched = li.withColumn("sum_qty_c", F.sum("qty_c").over(w)).withColumn(
        "cnt", F.count(F.lit(1)).over(w)
    )
    p = part.where(F.col("p_brand") == Q17_BRAND).select("p_partkey")
    picked = enriched.join(F.broadcast(p), enriched["l_partkey"] == p["p_partkey"]).where(
        F.col("qty_c") * 5 * F.col("cnt") < F.col("sum_qty_c")
    )
    return picked.agg(
        (F.sum("price_c").cast("double") / 100 / 7).alias("avg_yearly")
    )


SMALL_QUANTITY_SQL = f"""
WITH li AS (
  SELECT l_partkey,
         CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
              OVER (PARTITION BY l_partkey) AS BIGINT) AS sum_qty_c,
         count(*) OVER (PARTITION BY l_partkey) AS cnt
  FROM lineitem
)
SELECT CAST(CAST(sum(price_c) AS BIGINT) AS DOUBLE) / 100 / 7 AS avg_yearly
FROM li JOIN part p ON li.l_partkey = p.p_partkey
WHERE p.p_brand = '{Q17_BRAND}' AND qty_c * 5 * cnt < sum_qty_c
"""


def large_volume_customers(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds the threshold, joined
    back to customer; top-k by total price with orderkey tie-break (total
    ordering -> deterministic), executed as TakeOrderedAndProject. The
    HAVING filter runs on the aggregated (small) side before any join."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(_cents("l_quantity")).alias("sum_qty_c"))
        .where(F.col("sum_qty_c") > Q18_MIN_QTY_C)
    )
    j = (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(customer.select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return (
        j.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(Q18_K)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            (F.col("sum_qty_c").cast("double") / 100).alias("sum_qty"),
        )
    )


LARGE_VOLUME_SQL = f"""
WITH big AS (
  SELECT l_orderkey, CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS sum_qty_c
  FROM lineitem GROUP BY 1
  HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > {Q18_MIN_QTY_C}
),
j AS (
  SELECT c.c_name, c.c_custkey, o.o_orderkey,
         strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
         o.o_totalprice, CAST(big.sum_qty_c AS DOUBLE) / 100 AS sum_qty
  FROM big
  JOIN orders o ON big.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT c_name, c_custkey, o_orderkey, orderdate, o_totalprice, sum_qty
FROM (SELECT *, row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM j)
WHERE rn <= {Q18_K}
"""


def discounted_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs predicate over part attributes and lineitem
    quantity. The part filter is an equi-join on partkey with the residual
    OR applied post-join; the brand/size disjunction prunes the (broadcast)
    part side to the union of the three branches first."""
    p = part.where(
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15))
    ).select("p_partkey", "p_brand")
    li = lineitem.select(
        "l_partkey",
        "l_quantity",
        (_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias("rev_e4"),
    )
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).where(
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 30))
    )
    return j.agg((F.sum("rev_e4").cast("double") / 10000).alias("revenue"))


DISCOUNTED_REVENUE_SQL = """
SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000
         AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5 AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# Remaining TPC-H shapes (Q2/Q9/Q11/Q12/Q15/Q16/Q20/Q21/Q22). The trimmed
# testdata schema lacks partsupp, commit/receipt dates, shipmode, phone and
# comment columns, so:
#   - partsupp is DERIVED deterministically: the distinct (partkey, suppkey)
#     pairs observed in lineitem, with md5-hashed integer supplycost (cents)
#     and availqty -- bit-identical in Spark and DuckDB (functions/hashing).
#   - l_returnflag = 'R' stands in for "received late" (Q21, same stand-in
#     Q4 uses), a keyed integer hash stands in for shipmode (Q12), nationkey
#     % 10 stands in for the phone country code (Q22), and s_acctbal < 0
#     stands in for the complaint filter (Q16).
# The query SHAPES -- correlated MIN (Q2), profit decomposition over a
# 6-way join (Q9), group-sum vs scalar-fraction HAVING (Q11), CASE-sum
# pivot (Q12), view + argmax with ties (Q15), anti-join + count-distinct
# (Q16), nested semi-joins on aggregated state (Q20), exists/not-exists
# quadruple self-reference (Q21), anti-join vs scalar-avg filter (Q22) --
# are the real coverage target; all arithmetic stays integer-exact.
# ---------------------------------------------------------------------------

from ..functions.hashing import md5_long, md5_long_sql  # noqa: E402


def synthetic_partsupp(lineitem: DataFrame) -> DataFrame:
    """Derived partsupp relation: every (partkey, suppkey) pair observed in
    lineitem, with deterministic md5-derived ps_supplycost_c (cents, in
    [100, 100000]) and ps_availqty (in [1, 9999]). One distinct shuffle; at
    scale this is a map-side-combined dedup of the fact table's key pair --
    the same cost as any partsupp scan-side derivation."""
    ps = lineitem.select(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).distinct()
    h = md5_long(
        F.concat_ws(
            "|",
            F.col("ps_partkey").cast("string"),
            F.col("ps_suppkey").cast("string"),
        )
    )
    return ps.select(
        "ps_partkey",
        "ps_suppkey",
        (F.lit(100) + h % 99901).alias("ps_supplycost_c"),
        (F.lit(1) + h % 9999).alias("ps_availqty"),
    )


_PS_HASH = md5_long_sql(
    "CAST(ps_partkey AS VARCHAR) || '|' || CAST(ps_suppkey AS VARCHAR)"
)

PARTSUPP_CTE = f"""
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         100 + {_PS_HASH} % 99901 AS ps_supplycost_c,
         1 + {_PS_HASH} % 9999 AS ps_availqty
  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem)
)"""


def min_cost_supplier(
    part: DataFrame, supplier: DataFrame, nation: DataFrame, region: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H Q2 shape: for each part of one size+type, the region's minimum-
    cost suppliers (ties kept). The correlated MIN subquery becomes a
    groupBy-min over the region-pruned derived partsupp plus an equi-join
    back on (partkey, cost) -- no correlated re-scan. Dimensions broadcast;
    the top-k cut is a total order (acctbal cents desc, nation, name,
    partkey) executed as TakeOrderedAndProject."""
    r = region.where(F.col("r_name") == Q2_REGION_NAME).select("r_regionkey")
    n = nation.join(F.broadcast(r), nation["n_regionkey"] == r["r_regionkey"]).select(
        "n_nationkey", "n_name"
    )
    s = supplier.join(F.broadcast(n), supplier["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey", "s_name", "s_acctbal", "n_name"
    )
    p = part.where((F.col("p_size") == Q2_SIZE) & (F.col("p_type") == Q2_TYPE)).select(
        "p_partkey", "p_name"
    )
    cand = (
        synthetic_partsupp(lineitem)
        .join(F.broadcast(p), F.col("ps_partkey") == p["p_partkey"])
        .join(F.broadcast(s), F.col("ps_suppkey") == s["s_suppkey"])
    )
    mins = cand.groupBy(F.col("ps_partkey").alias("m_partkey")).agg(
        F.min("ps_supplycost_c").alias("min_cost_c")
    )
    picked = cand.join(
        F.broadcast(mins),
        (F.col("ps_partkey") == F.col("m_partkey"))
        & (F.col("ps_supplycost_c") == F.col("min_cost_c")),
    )
    return (
        picked.orderBy(
            F.desc(_cents("s_acctbal")), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey")
        )
        .limit(Q2_K)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            (F.col("ps_supplycost_c").cast("double") / 100).alias("supplycost"),
        )
    )


MIN_COST_SUPPLIER_SQL = f"""
WITH {PARTSUPP_CTE},
cand AS (
  SELECT p.p_partkey, p.p_name, s.s_name, s.s_acctbal, n.n_name, ps.ps_supplycost_c
  FROM partsupp ps
  JOIN part p ON ps.ps_partkey = p.p_partkey
  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = '{Q2_REGION_NAME}' AND p.p_size = {Q2_SIZE} AND p.p_type = '{Q2_TYPE}'
),
mins AS (SELECT p_partkey, min(ps_supplycost_c) AS min_cost_c FROM cand GROUP BY 1)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       CAST(ps_supplycost_c AS DOUBLE) / 100 AS supplycost
FROM (
  SELECT c.*, row_number() OVER (
           ORDER BY CAST(round(c.s_acctbal * 100) AS BIGINT) DESC,
                    c.n_name, c.s_name, c.p_partkey) AS rn
  FROM cand c JOIN mins m
    ON c.p_partkey = m.p_partkey AND c.ps_supplycost_c = m.min_cost_c
)
WHERE rn <= {Q2_K}
"""


def product_type_profit(
    lineitem: DataFrame, orders: DataFrame, part: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus supply cost) per supplier
    nation per order year for parts whose name contains a substring.
    amount_e4 = price_c*(100-disc_c) - cost_c*qty_c: both terms are 1e-4
    dollars, so the decomposition is exact integer math. partsupp joins on
    its compound key (a real shuffle at scale -- partsupp is a fact-sized
    relation); part/supplier/nation broadcast."""
    ps = synthetic_partsupp(lineitem)
    p = part.where(F.col("p_name").contains(Q9_NAME_SUBSTR)).select("p_partkey")
    li = lineitem.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        _cents("l_quantity").alias("qty_c"),
        (_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias("rev_e4"),
    )
    sn = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supplier["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(ps, (li["l_partkey"] == ps["ps_partkey"]) & (li["l_suppkey"] == ps["ps_suppkey"]))
        .join(
            orders.select("o_orderkey", F.year("o_orderdate").alias("o_year")),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(F.broadcast(sn), li["l_suppkey"] == sn["s_suppkey"])
        .select(
            "n_name",
            "o_year",
            (F.col("rev_e4") - F.col("ps_supplycost_c") * F.col("qty_c")).alias("amount_e4"),
        )
    )
    return (
        j.groupBy("n_name", "o_year")
        .agg(F.sum("amount_e4").alias("amount_e4"))
        .select(
            F.col("n_name").alias("nation"),
            "o_year",
            (F.col("amount_e4").cast("double") / 10000).alias("sum_profit"),
        )
    )


PRODUCT_TYPE_PROFIT_SQL = f"""
WITH {PARTSUPP_CTE}
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                     - ps.ps_supplycost_c * CAST(round(l.l_quantity * 100) AS BIGINT))
                 AS BIGINT) AS DOUBLE) / 10000 AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN partsupp ps ON l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%{Q9_NAME_SUBSTR}%'
GROUP BY 1, 2
"""


def important_stock(lineitem: DataFrame, supplier: DataFrame, nation: DataFrame) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value for one nation's suppliers,
    keeping parts whose value exceeds 1/fraction_denom of the nation total.
    The scalar total joins back via broadcast crossJoin (lazy, no eager
    collect) and the HAVING comparison is exact: val_c * denom > tot_c in
    bigints."""
    n = nation.where(F.col("n_name") == Q11_NATION_NAME).select("n_nationkey")
    s = supplier.join(F.broadcast(n), supplier["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey"
    )
    picked = synthetic_partsupp(lineitem).join(
        F.broadcast(s), F.col("ps_suppkey") == s["s_suppkey"]
    )
    per_part = picked.groupBy("ps_partkey").agg(
        F.sum(F.col("ps_supplycost_c") * F.col("ps_availqty")).alias("val_c")
    )
    total = per_part.agg(F.sum("val_c").alias("tot_c"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("val_c") * Q11_FRACTION_DENOM > F.col("tot_c"))
        .select("ps_partkey", (F.col("val_c").cast("double") / 100).alias("value"))
    )


IMPORTANT_STOCK_SQL = f"""
WITH {PARTSUPP_CTE},
per_part AS (
  SELECT ps.ps_partkey,
         CAST(sum(ps.ps_supplycost_c * ps.ps_availqty) AS BIGINT) AS val_c
  FROM partsupp ps
  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = '{Q11_NATION_NAME}'
  GROUP BY 1
),
total AS (SELECT CAST(sum(val_c) AS BIGINT) AS tot_c FROM per_part)
SELECT ps_partkey, CAST(val_c AS DOUBLE) / 100 AS value
FROM per_part CROSS JOIN total
WHERE val_c * {Q11_FRACTION_DENOM} > tot_c
"""


_SHIPMODE = ["AIR", "RAIL", "SHIP"]


def _shipmode_col() -> F.Column:
    """Deterministic shipmode stand-in (the trimmed schema has none): a
    keyed integer hash of (orderkey, linenumber) -> {AIR, RAIL, SHIP}."""
    idx = (F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 3
    return (
        F.when(idx == 0, _SHIPMODE[0]).when(idx == 1, _SHIPMODE[1]).otherwise(_SHIPMODE[2])
    )


def shipmode_priority(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q12 shape: per ship mode, how many lines belong to critical-
    priority orders vs not (CASE-sum pivot over a fact-fact join). The
    shipdate filter pushes to the scan; counts are exact bigints."""
    li = lineitem.where(
        (F.col("l_shipdate") >= _ts(Q12_DATE_FROM)) & (F.col("l_shipdate") < _ts(Q12_DATE_TO))
    ).select("l_orderkey", _shipmode_col().alias("ship_mode"))
    o = orders.select("o_orderkey", "o_orderpriority")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("ship_mode").agg(
        F.sum(F.when(crit, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
        F.sum(F.when(crit, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
    )


SHIPMODE_PRIORITY_SQL = f"""
SELECT CASE (l.l_orderkey * 31 + l.l_linenumber) % 3
         WHEN 0 THEN 'AIR' WHEN 1 THEN 'RAIL' ELSE 'SHIP' END AS ship_mode,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '{Q12_DATE_FROM}' AND l.l_shipdate < TIMESTAMP '{Q12_DATE_TO}'
GROUP BY 1
"""


def top_supplier(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue in a quarter
    (ties kept -- the argmax equi-joins the broadcast scalar max instead of
    a sort, so it is one aggregation + one broadcast, deterministic and
    shuffle-minimal)."""
    rev = (
        lineitem.where(
            (F.col("l_shipdate") >= _ts(Q15_DATE_FROM)) & (F.col("l_shipdate") < _ts(Q15_DATE_TO))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias("rev_e4")
        )
    )
    mx = rev.agg(F.max("rev_e4").alias("max_e4"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("rev_e4") == F.col("max_e4"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey", "s_name", (F.col("rev_e4").cast("double") / 10000).alias("total_revenue")
        )
    )


TOP_SUPPLIER_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS rev_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_DATE_FROM}' AND l_shipdate < TIMESTAMP '{Q15_DATE_TO}'
  GROUP BY 1
),
mx AS (SELECT max(rev_e4) AS max_e4 FROM rev)
SELECT s.s_suppkey, s.s_name, CAST(r.rev_e4 AS DOUBLE) / 10000 AS total_revenue
FROM rev r CROSS JOIN mx JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.rev_e4 = mx.max_e4
"""


def supplier_part_counts(lineitem: DataFrame, part: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size),
    excluding one brand/type and excluding flagged suppliers (s_acctbal < 0
    stands in for the complaint comment filter) via a broadcast anti-join."""
    p = part.where(
        (F.col("p_brand") != Q16_EXCL_BRAND) & (F.col("p_type") != Q16_EXCL_TYPE)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    cand = (
        synthetic_partsupp(lineitem)
        .join(F.broadcast(p), F.col("ps_partkey") == p["p_partkey"])
        .join(F.broadcast(bad), F.col("ps_suppkey") == bad["s_suppkey"], "left_anti")
    )
    return cand.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("ps_suppkey").alias("supplier_cnt")
    )


SUPPLIER_PART_COUNTS_SQL = f"""
WITH {PARTSUPP_CTE}
SELECT p.p_brand, p.p_type, p.p_size, count(DISTINCT ps.ps_suppkey) AS supplier_cnt
FROM partsupp ps JOIN part p ON ps.ps_partkey = p.p_partkey
WHERE p.p_brand <> '{Q16_EXCL_BRAND}' AND p.p_type <> '{Q16_EXCL_TYPE}'
  AND ps.ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


def excess_inventory_suppliers(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame, part: DataFrame
) -> DataFrame:
    """TPC-H Q20 shape: one nation's suppliers holding excess inventory --
    availqty more than half the quantity they shipped of a prefix-named part
    during one year. The nested INs become: shipped-qty aggregation,
    equi-join to the derived partsupp, integer predicate (availqty*200 >
    qty_c), then a left-semi onto the nation's suppliers."""
    p = part.where(F.col("p_name").startswith(Q20_NAME_PREFIX)).select("p_partkey")
    shipped = (
        lineitem.where(
            (F.col("l_shipdate") >= _ts(Q20_DATE_FROM)) & (F.col("l_shipdate") < _ts(Q20_DATE_TO))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_cents("l_quantity")).alias("qty_c"))
    )
    cand = (
        synthetic_partsupp(lineitem)
        .join(F.broadcast(p), F.col("ps_partkey") == p["p_partkey"])
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .where(F.col("ps_availqty") * 200 > F.col("qty_c"))
        .select("ps_suppkey")
    )
    n = nation.where(F.col("n_name") == Q20_NATION_NAME).select("n_nationkey")
    s = supplier.join(F.broadcast(n), supplier["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey", "s_name"
    )
    return s.join(cand, s["s_suppkey"] == cand["ps_suppkey"], "left_semi").select(
        "s_suppkey", "s_name"
    )


EXCESS_INVENTORY_SQL = f"""
WITH {PARTSUPP_CTE}
SELECT s.s_suppkey, s.s_name
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = '{Q20_NATION_NAME}'
  AND s.s_suppkey IN (
    SELECT ps.ps_suppkey FROM partsupp ps
    WHERE ps.ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '{Q20_NAME_PREFIX}%')
      AND ps.ps_availqty * 200 > (
        SELECT CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
        FROM lineitem l
        WHERE l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
          AND l.l_shipdate >= TIMESTAMP '{Q20_DATE_FROM}'
          AND l.l_shipdate < TIMESTAMP '{Q20_DATE_TO}')
  )
"""


def waiting_suppliers(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = Q21_NATION_NAME,
) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE failing supplier on a
    finalized multi-supplier order (l_returnflag = 'R' stands in for the
    trimmed receipt-after-commit predicate). The EXISTS becomes a left-semi
    on (same order, different supplier) and the NOT EXISTS a left-anti on
    (same order, different supplier, failed); numwait counts distinct
    orders. Top-k by count desc with suppkey tie-break."""
    lines = lineitem.select("l_orderkey", "l_suppkey").distinct()
    failed = (
        lineitem.where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    o_f = orders.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    l1 = failed.join(o_f, failed["l_orderkey"] == o_f["o_orderkey"], "left_semi")
    other = lines.select(
        F.col("l_orderkey").alias("b_orderkey"), F.col("l_suppkey").alias("b_suppkey")
    )
    other_failed = failed.select(
        F.col("l_orderkey").alias("c_orderkey"), F.col("l_suppkey").alias("c_suppkey")
    )
    picked = l1.join(
        other,
        (l1["l_orderkey"] == other["b_orderkey"]) & (l1["l_suppkey"] != other["b_suppkey"]),
        "left_semi",
    ).join(
        other_failed,
        (l1["l_orderkey"] == other_failed["c_orderkey"])
        & (l1["l_suppkey"] != other_failed["c_suppkey"]),
        "left_anti",
    )
    n = nation.where(F.col("n_name") == nation_name).select("n_nationkey")
    s = supplier.join(F.broadcast(n), supplier["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey", "s_name"
    )
    agg = (
        picked.join(F.broadcast(s), picked["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return agg.orderBy(F.desc("numwait"), F.asc("s_suppkey")).limit(Q21_K).select(
        "s_suppkey", "s_name", "numwait"
    )


WAITING_SUPPLIERS_SQL = f"""
WITH l1 AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
),
agg AS (
  SELECT s.s_suppkey, s.s_name, count(*) AS numwait
  FROM l1
  JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
  JOIN supplier s ON s.s_suppkey = l1.l_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = '{Q21_NATION_NAME}'
  WHERE EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
  GROUP BY 1, 2
)
SELECT s_suppkey, s_name, numwait
FROM (SELECT *, row_number() OVER (ORDER BY numwait DESC, s_suppkey) AS rn FROM agg)
WHERE rn <= {Q21_K}
"""


def global_sales_opportunity(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q22 shape: per country code (nationkey % 10 stands in for the
    trimmed phone prefix), count customers with above-average positive
    balance and no recent orders. The scalar average joins back via a lazy
    broadcast crossJoin and compares exactly in integers (bal_c * cnt >
    sum_c); the no-orders predicate is a left-anti on the date-filtered
    orders."""
    c = customer.select(
        "c_custkey",
        (F.col("c_nationkey") % 10).cast("bigint").alias("cntrycode"),
        _cents("c_acctbal").alias("bal_c"),
    ).where(F.col("cntrycode").isin(*[F.lit(x) for x in (1, 3, 5, 7, 9)]))
    pos = c.where(F.col("bal_c") > 0).agg(
        F.sum("bal_c").alias("sum_c"), F.count(F.lit(1)).alias("cnt")
    )
    recent = orders.where(F.col("o_orderdate") >= _ts(Q22_CUTOFF)).select("o_custkey")
    picked = (
        c.crossJoin(F.broadcast(pos))
        .where(F.col("bal_c") * F.col("cnt") > F.col("sum_c"))
        .join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
    )
    return picked.groupBy("cntrycode").agg(
        F.count(F.lit(1)).alias("numcust"),
        (F.sum("bal_c").cast("double") / 100).alias("totacctbal"),
    )


GLOBAL_SALES_SQL = f"""
WITH c AS (
  SELECT c_custkey, CAST(c_nationkey % 10 AS BIGINT) AS cntrycode,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
  FROM customer WHERE c_nationkey % 10 IN ({Q22_CODES})
),
pos AS (
  SELECT CAST(sum(bal_c) AS BIGINT) AS sum_c, count(*) AS cnt FROM c WHERE bal_c > 0
)
SELECT cntrycode, count(*) AS numcust,
       CAST(CAST(sum(bal_c) AS BIGINT) AS DOUBLE) / 100 AS totacctbal
FROM c CROSS JOIN pos
WHERE bal_c * cnt > sum_c
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '{Q22_CUTOFF}')
GROUP BY 1
"""
