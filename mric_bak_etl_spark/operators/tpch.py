"""TPC-H-shaped composite queries over the fixture star schema.

The single-operator catalog entries (joins.py, aggregates.py, …) verify each
primitive in isolation; these verify *composition* — multi-join pipelines
with selective filters, aggregation and top-k, the plans a warehouse
workload actually runs. Shapes follow TPC-H Q3/Q5/Q10/Q18 adapted to the
fixture's columns (lineitem has l_shipdate only; no comment/address cols).

Scale notes (100 TB): these compositions are where join ORDER and STRATEGY
dominate. The patterns asserted in tests/test_plans.py:

- dimension chains (region→nation) broadcast — no shuffle for the small
  side, ever;
- fact-to-fact joins (orders⋈lineitem) shuffle on the join key once, and
  the aggregation that follows reuses that partitioning when it groups on
  the same key;
- selective dimension filters (mktsegment, region name) cut the fact scan
  via dynamic partition pruning / runtime filters where the layout allows,
  and always cut before the shuffle;
- final top-k is TakeOrderedAndProject — never a global sort of the
  aggregate output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.tables import load_table

def _revenue():
    # Built lazily: Column construction needs an active SparkContext, and
    # this module imports at catalog-collection time (before any session).
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")


@register(
    "h3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1998-01-01'
      AND l_shipdate  > DATE '1998-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    doc="H3 (TPC-H Q3): shipping priority — customer⋈orders⋈lineitem with "
    "segment + date filters, revenue per order, top-10. Customer side "
    "broadcasts after the segment filter; one fact shuffle on o_orderkey.",
    tags=("tpch", "composite"),
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(_revenue()), 4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "h5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate <  DATE '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="H5 (TPC-H Q5): local-supplier volume — the 6-table join; region/"
    "nation/supplier/customer all broadcast (dims), so the only shuffles "
    "are the orders⋈lineitem key and the final small agg. The "
    "c_nationkey = s_nationkey conjunct rides the supplier broadcast.",
    tags=("tpch", "composite"),
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_revenue()), 4).alias("revenue"))
    )


@register(
    "h10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           round(c_acctbal, 4) AS acctbal,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= DATE '1997-01-01'
      AND o_orderdate <  DATE '1998-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="H10 (TPC-H Q10): returned-item losses per customer — two broadcast "
    "dims over the orders⋈lineitem shuffle, group on the customer grain, "
    "top-20 by lost revenue.",
    tags=("tpch", "composite"),
)
def returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_revenue()), 4).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 4).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "h18_large_volume_customer",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 4) AS totalprice,
           round(sum(l_quantity), 4) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING sum(l_quantity) > 200
          )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 25
    """,
    doc="H18 (TPC-H Q18): large-volume customers — HAVING-filtered "
    "aggregation as a semi-join filter on the fact, then re-aggregate at "
    "the order grain. The IN-subquery agg shares the l_orderkey shuffle "
    "partitioning with the outer join (one exchange, reused).",
    tags=("tpch", "composite"),
)
def large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # One lineitem pass (optimization r13, guide §1.2/§2.4): the per-order
    # quantity aggregate already IS the query's total_qty — the former
    # semi-join + re-scan + re-aggregate of lineitem recomputed the same
    # sum a second time. Joining the (l_orderkey, q) aggregate straight
    # to orders halves the dominant scan and drops a corpus-grain
    # groupBy; orders is unique per key, so the row set is identical.
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 200)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", F.round("q", 4).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 4).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(25)
    )


@register(
    "h7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= DATE '1996-01-01'
      AND l_shipdate <  DATE '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="H7 (TPC-H Q7): volume shipping between two nations — the fact "
    "shuffles once on l_orderkey; supplier/customer/nation sides all "
    "broadcast, and the nation-pair disjunction is evaluated as a residual "
    "on the broadcast rows. Year extraction stays JVM-side (F.year).",
    tags=("tpch", "composite"),
)
def nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.round(F.sum(_revenue()), 4).alias("revenue"))
    )


@register(
    "h8_market_share",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           round(sum(CASE WHEN n1.n_name = 'NATION_1'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region   ON n2.n_regionkey = r_regionkey
    WHERE r_name = 'AMERICA'
      AND p_type = 'ECONOMY'
      AND o_orderdate >= DATE '1995-01-01'
      AND o_orderdate <  DATE '1998-01-01'
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="H8 (TPC-H Q8): national market share — conditional-sum ratio per "
    "year over an 8-table join. Every dimension broadcasts; the part-type "
    "filter prunes the fact via the broadcast hash-join runtime filter, so "
    "the only wide exchange is the orders key. The share is a single "
    "aggregation pass (no self-join): sum(CASE)/sum().",
    tags=("tpch", "composite"),
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = n.select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "h14_promo_effect",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1997-03-01'
      AND l_shipdate <  DATE '1997-04-01'
    GROUP BY ALL
    """,
    doc="H14 (TPC-H Q14): promotion effect — promo share of one month's "
    "revenue. Part broadcasts; the tight shipdate range is pushed to the "
    "parquet scan (row-group stats skip most of the fact); single global "
    "conditional-sum aggregation, no shuffle beyond the final 1-row agg.",
    tags=("tpch", "composite"),
)
def promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "h15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             sum(l_extendedprice * (1 - l_discount)) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate <  DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_rev, 4) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
    doc="H15 (TPC-H Q15): top supplier by quarterly revenue — the revenue "
    "'view' is ONE grouped agg on l_suppkey; the '= max' tie-safe filter "
    "joins a broadcast 1-row global-max aggregate of that view back to "
    "it. Both branches fork above the same l_suppkey shuffle, so "
    "ReusedExchange aggregates lineitem once; no empty-partition window "
    "(which would single-task the supplier-grain table) and no global "
    "sort: the max-filter replaces orderBy().limit(1).",
    tags=("tpch", "composite"),
)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_revenue()).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    topped = rev.join(F.broadcast(mx)).filter(F.col("total_rev") == F.col("mx"))
    return (
        topped.join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.round("total_rev", 4).alias("total_revenue")
        )
    )


@register(
    "h17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey
      )
    GROUP BY ALL
    """,
    doc="H17 (TPC-H Q17): small-quantity order revenue — correlated "
    "per-part average decorrelated into a grouped agg on l_partkey joined "
    "back to the fact (the standard Catalyst decorrelation, written "
    "explicitly). Both sides of the self-join share the l_partkey "
    "partitioning; the brand filter broadcasts from part.",
    tags=("tpch", "composite"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@register(
    "h22_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 4) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    doc="H22 (TPC-H Q22): sales opportunity — rich customers with no "
    "orders. The positive-balance average is a broadcast scalar; the "
    "no-orders test is a left anti-join against the orders key projection "
    "(only o_custkey scanned). Group on nationkey; tiny result.",
    tags=("tpch", "composite"),
)
def sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


@register(
    "h6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate <  DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    GROUP BY ALL
    """,
    doc="H6 (TPC-H Q6): forecasting revenue change — pure scan-filter-"
    "aggregate, zero joins: every predicate is sargable and reaches the "
    "parquet reader (PushedFilters), the sum is a map-side partial into "
    "a 1-row final agg. The query whole-stage-codegen compiles to a "
    "single fused loop; the I/O-bound lower bound every engine should "
    "hit.",
    tags=("tpch", "composite"),
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue_delta"
            )
        )
    )


@register(
    "h4_order_priority_check",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1997-01-01'
      AND o_orderdate <  DATE '1997-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="H4 (TPC-H Q4, adapted: the fixture lacks commit/receipt dates, so "
    "'late' = shipped >90 days after order): priority histogram of orders "
    "with at least one late line. The correlated EXISTS decorrelates to a "
    "left semi join on the order key — the fact side is probed once, "
    "never duplicated by multi-line matches.",
    tags=("tpch", "composite"),
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
    )


@register(
    "h19_disjunctive_predicates",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
             AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35
             AND l_quantity BETWEEN 20 AND 30)
    GROUP BY ALL
    """,
    doc="H19 (TPC-H Q19 shape): disjunctive mixed-table predicates — an "
    "OR-of-ANDs spanning both join sides. Catalyst still extracts the "
    "common p_partkey equi-key (hash join, never nested-loop) and pushes "
    "the single-table residuals of each disjunct down to the respective "
    "scans (brand/size to part, quantity bands to lineitem) before the "
    "join evaluates the cross-table remainder.",
    tags=("tpch", "composite"),
)
def disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (
            (p.p_brand == "Brand#12")
            & p.p_size.between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (p.p_brand == "Brand#23")
            & p.p_size.between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (p.p_brand == "Brand#3")
            & p.p_size.between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(F.sum(_revenue()), 4).alias("revenue"),
        )
    )


@register(
    "h13_order_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                       AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="H13 (TPC-H Q13): customer order-count distribution — LEFT OUTER "
    "join with an extra join-side predicate (pushed to the orders scan, "
    "NOT a post-filter: customers with only excluded orders must still "
    "count as zero), then a two-level aggregation: per-customer count, "
    "then a histogram of counts. The second agg's input is one row per "
    "customer — tiny; only the first shuffle matters at scale.",
    tags=("tpch", "composite"),
)
def order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
    )


@register(
    "h9_product_profit",
    oracle="""
    SELECT n_name AS nation_name,
           CAST(year(o_orderdate) AS INT) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - 0.1 * p_retailprice * l_quantity), 4) AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    ORDER BY nation_name, o_year DESC
    """,
    doc="H9 (TPC-H Q9, adapted: the fixture has no partsupp, so supply "
    "cost = 0.1 * p_retailprice per unit): product-type profit by nation "
    "and year. part/supplier/nation broadcast; the p_name LIKE filter "
    "prunes the fact through the broadcast join's runtime filter; one "
    "wide shuffle (l_orderkey vs orders) + the final small agg.",
    tags=("tpch", "composite"),
)
def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.1) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 4).alias("sum_profit"))
    )


@register(
    "h12_late_line_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 30 DAY
      AND l_shipdate >= DATE '1996-01-01'
      AND l_shipdate <  DATE '1998-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="H12 (TPC-H Q12, adapted: returnflag stands in for shipmode, "
    "'slow' = shipped 30+ days after order): priority mix of slow lines. "
    "The cross-table lateness predicate can only run post-join; the "
    "shipdate range is pushed to the fact scan. Conditional sums fold "
    "both priority classes into ONE pass (no second join or union).",
    tags=("tpch", "composite"),
)
def late_line_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "h21_waiting_supplier",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
    doc="H21 (TPC-H Q21, adapted: 'kept waiting' = shipped 60+ days after "
    "order): suppliers who were the SOLE late supplier on a multi-supplier "
    "order. Instead of the textbook EXISTS + NOT EXISTS double self-join "
    "(three passes over the fact), the per-order facts are folded into ONE "
    "grouped pass — distinct suppliers, distinct late suppliers — and late "
    "lines join that 1-row-per-order summary: two shuffles total on "
    "l_orderkey, AQE-coalesced; the order-date side rides the same key.",
    tags=("tpch", "composite"),
)
def waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier")
    lo = li.join(o, li.l_orderkey == o.o_orderkey)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
    )
    qualifying = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    ).select("l_orderkey")
    return (
        lo.filter(late)
        .join(qualifying, "l_orderkey")
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


@register(
    "h2_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY 1, 2
    ), eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT s_acctbal AS acctbal, s_name, n_name,
           p_partkey, p_name, unit_cost AS best_cost
    FROM part
    JOIN cost ON pk = p_partkey
    JOIN eu   ON sk = s_suppkey
    WHERE p_type = 'STANDARD' AND p_size <= 25
      AND unit_cost = (
        SELECT min(c2.unit_cost) FROM cost c2 JOIN eu e2 ON c2.sk = e2.s_suppkey
        WHERE c2.pk = p_partkey
      )
    ORDER BY acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    doc="H2 (TPC-H Q2, adapted: no partsupp — a supplier's offer price for "
    "a part is min(l_extendedprice/l_quantity) over its shipped lines): "
    "cheapest EUROPE supplier per STANDARD part. The correlated min "
    "decorrelates to a grouped agg over the SAME cost relation joined "
    "back on p_partkey ('= min' keeps ties, like the spec); supplier⋈"
    "nation⋈region broadcasts into both branches. The cost relation is "
    "built once per branch from the same shuffle key (l_partkey).",
    tags=("tpch", "composite"),
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 25)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    eu_cost = cost.join(F.broadcast(eu), F.col("sk") == F.col("s_suppkey"))
    best = eu_cost.groupBy(F.col("pk").alias("bpk")).agg(
        F.min("unit_cost").alias("best")
    )
    return (
        eu_cost.join(best, (F.col("pk") == F.col("bpk")) & (F.col("unit_cost") == F.col("best")))
        .join(F.broadcast(p), F.col("pk") == p.p_partkey)
        # acctbal/best_cost are exact doubles (parquet value; min of a single
        # division) — identical bit patterns in both engines, so no rounding:
        # round(x, 4) would re-introduce half-digit boundary mismatches.
        .select(
            F.col("s_acctbal").alias("acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("unit_cost").alias("best_cost"),
        )
        .orderBy(F.desc("acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "h11_important_stock",
    oracle="""
    WITH val AS (
      SELECT l_partkey, sum(l_extendedprice) AS value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_1'
      GROUP BY l_partkey
    )
    SELECT l_partkey, round(value, 4) AS value
    FROM val
    WHERE value > (SELECT 0.01 * sum(value) FROM val)
    ORDER BY value DESC, l_partkey
    """,
    doc="H11 (TPC-H Q11, adapted: stock value = shipped extended price by "
    "NATION_1 suppliers): parts holding an outsized share of one nation's "
    "volume. The HAVING threshold is an uncorrelated scalar over the SAME "
    "grouped relation — computed once as a 1-row aggregate and broadcast "
    "into the filter, not re-aggregated per row.",
    tags=("tpch", "composite"),
)
def important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("value"))
    )
    threshold = val.agg((F.lit(0.01) * F.sum("value")).alias("cut"))
    return (
        val.crossJoin(F.broadcast(threshold))
        .filter(F.col("value") > F.col("cut"))
        .select("l_partkey", F.round("value", 4).alias("value"))
    )


@register(
    "h16_supplier_part_count",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="H16 (TPC-H Q16, adapted: the part-supplier relation is the "
    "distinct (l_partkey, l_suppkey) projection of lineitem): supplier "
    "variety per (brand, type, size). The NOT IN subquery is null-free "
    "(s_suppkey is a key) so it plans as a broadcast anti-join; the "
    "distinct pair projection and the count-distinct agg share the "
    "l_partkey-side shuffle.",
    tags=("tpch", "composite"),
)
def supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 1000.0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@register(
    "h20_dominant_supplier",
    oracle="""
    WITH shipped AS (
      SELECT l_partkey AS pk, l_suppkey AS sk, sum(l_quantity) AS qty
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%widget%'
        AND l_shipdate >= DATE '1996-01-01'
        AND l_shipdate <  DATE '1997-01-01'
      GROUP BY 1, 2
    ), tot AS (
      SELECT pk, sum(qty) AS total_qty FROM shipped GROUP BY pk
    )
    SELECT s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT sk FROM shipped JOIN tot USING (pk) WHERE qty > 0.3 * total_qty
    )
    ORDER BY s_name
    """,
    doc="H20 (TPC-H Q20, adapted: 'holds excess stock' = shipped >30% of a "
    "widget part's 1996 volume): suppliers dominating some part. Nested "
    "semi-join chain — (part,supplier) shipped totals, per-part totals "
    "derived FROM that relation (no second fact scan, same partitioning), "
    "the dominance filter, then a semi-join into supplier.",
    tags=("tpch", "composite"),
)
def dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    shipped = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(F.sum("l_quantity").alias("qty"))
    )
    tot = shipped.groupBy(F.col("pk").alias("tpk")).agg(
        F.sum("qty").alias("total_qty")
    )
    dominant = (
        shipped.join(tot, F.col("pk") == F.col("tpk"))
        .filter(F.col("qty") > F.lit(0.3) * F.col("total_qty"))
        .select(F.col("sk").alias("s_suppkey"))
    )
    return (
        s.join(dominant, "s_suppkey", "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_name", "n_name")
    )
