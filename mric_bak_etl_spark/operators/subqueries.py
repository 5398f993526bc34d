"""Subquery operators: correlated EXISTS, scalar subqueries, IN/NOT-IN,
and LATERAL joins (SQL entry surface beyond SURVEY.md §2B Q1).

The reference's only subquery-shaped logic is the already-imported check
(`src/bak_unload.ps1:57-65`), covered as an anti-join in r7; these queries
exercise Spark's subquery *decorrelation* — Catalyst rewrites every form
below into joins/aggregates (RewriteCorrelatedScalarSubquery,
RewritePredicateSubquery), so the SQL text is sugar over the same physical
plans the DataFrame operators produce.

Scale notes (100 TB): a correlated EXISTS/IN decorrelates to a semi/anti
join — same shuffle posture as J4; a correlated scalar subquery becomes an
aggregate + equi-join on the correlation key. The thing to verify at scale
is that decorrelation *happened* (no per-row re-execution exists in Spark —
if a subquery can't decorrelate, planning fails, which is the safe
failure). LATERAL with LIMIT decorrelates to a ranked window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.tables import register_views


@register(
    "sq1_exists_correlated",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
      AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="SQ1 (TPC-H Q4 shape): correlated EXISTS — orders with at least one "
    "line shipped >60 days after order date, counted by priority. "
    "Decorrelates to a left-semi join on l_orderkey.",
    tags=("subquery",),
)
def exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, only=("lineitem", "orders"))
    return spark.sql("""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1997-01-01'
          AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
              )
        GROUP BY o_orderpriority
    """)


@register(
    "sq2_scalar_correlated",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)            AS n_small_lines,
           round(sum(l_extendedprice), 4)      AS total_price
    FROM lineitem l1
    WHERE l_quantity < (
            SELECT 0.5 * avg(l_quantity)
            FROM lineitem l2
            WHERE l2.l_partkey = l1.l_partkey
          )
    """,
    doc="SQ2 (TPC-H Q17 shape): correlated scalar subquery — lines with "
    "quantity below half their part's average. Decorrelates to a per-part "
    "aggregate joined back on l_partkey (one shuffle each side, partial "
    "aggs map-side).",
    tags=("subquery",),
)
def scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, only=("customer", "lineitem", "orders"))
    return spark.sql("""
        SELECT CAST(count(*) AS BIGINT)            AS n_small_lines,
               round(sum(l_extendedprice), 4)      AS total_price
        FROM lineitem l1
        WHERE l_quantity < (
                SELECT 0.5 * avg(l_quantity)
                FROM lineitem l2
                WHERE l2.l_partkey = l1.l_partkey
              )
    """)


@register(
    "sq3_not_exists_uncorrelated_scalar",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)  AS n_customers,
           round(sum(c_acctbal), 4)  AS total_balance
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="SQ3 (TPC-H Q22 shape): uncorrelated scalar subquery (global average "
    "as a broadcast one-row plan) + correlated NOT EXISTS (anti-join) — "
    "well-funded customers who never ordered.",
    tags=("subquery",),
)
def not_exists_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, only=("customer", "lineitem", "orders", "part"))
    return spark.sql("""
        SELECT CAST(count(*) AS BIGINT)  AS n_customers,
               round(sum(c_acctbal), 4)  AS total_balance
        FROM customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """)


@register(
    "sq4_in_subquery",
    oracle="""
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts
    FROM part
    WHERE p_partkey IN (
            SELECT l_partkey FROM lineitem WHERE l_quantity >= 49
          )
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    doc="SQ4: IN subquery — parts that ever shipped in near-max quantity; "
    "rewrites to a left-semi join (the distinct is absorbed by the semi "
    "semantics, no explicit dedup pass).",
    tags=("subquery",),
)
def in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, only=("customer", "lineitem", "nation", "part"))
    return spark.sql("""
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts
        FROM part
        WHERE p_partkey IN (
                SELECT l_partkey FROM lineitem WHERE l_quantity >= 49
              )
        GROUP BY p_brand
    """)


@register(
    "sq5_lateral_topk_per_group",
    oracle="""
    SELECT n.n_name, top.c_name, top.c_acctbal
    FROM nation n,
         LATERAL (
           SELECT c_name, c_acctbal
           FROM customer c
           WHERE c.c_nationkey = n.n_nationkey
           ORDER BY c_acctbal DESC, c_name
           LIMIT 2
         ) AS top
    ORDER BY n.n_name, top.c_acctbal DESC, top.c_name
    """,
    doc="SQ5: LATERAL correlated subquery with LIMIT — top-2 customers by "
    "balance per nation; Spark decorrelates to a partitioned rank filter "
    "(one shuffle on the correlation key), not a per-row re-scan.",
    tags=("subquery",),
)
def lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, only=("customer", "nation", "orders"))
    return spark.sql("""
        SELECT n.n_name, top.c_name, top.c_acctbal
        FROM nation n,
             LATERAL (
               SELECT c_name, c_acctbal
               FROM customer c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_name
               LIMIT 2
             ) AS top
    """)


@register(
    "sq6_not_in_null_aware",
    oracle="""
    WITH keys AS (
      SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
      FROM orders
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM customer
       WHERE c_custkey NOT IN (SELECT k FROM keys))          AS n_not_in,
      (SELECT CAST(count(*) AS BIGINT) FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = c.c_custkey))
                                                             AS n_not_exists
    """,
    doc="SQ6: null-aware NOT IN vs NOT EXISTS — with ONE NULL in the "
    "subquery list, ANSI NOT IN returns UNKNOWN for every row (count 0: "
    "the classic silent-empty-result footgun), while NOT EXISTS is a "
    "plain anti-join and still counts unmatched customers. Spark plans "
    "the former as a null-aware anti join (broadcast-only — at scale "
    "prefer NOT EXISTS or filter nulls out of the IN-list first); both "
    "semantics verified against DuckDB in one row.",
    tags=("subquery",),
)
def not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, only=("customer", "orders", "part"))
    return spark.sql(
        """
        WITH keys AS (
          SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
          FROM orders
        )
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM customer
           WHERE c_custkey NOT IN (SELECT k FROM keys))          AS n_not_in,
          (SELECT CAST(count(*) AS BIGINT) FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = c.c_custkey))
                                                                 AS n_not_exists
        """
    )


@register(
    "sq7_any_all",
    oracle="""
    SELECT
      CAST((SELECT count(*) FROM orders
            WHERE o_totalprice > ALL (SELECT o_totalprice FROM orders
                                      WHERE o_orderpriority = '5-LOW'
                                        AND o_orderstatus = 'F')) AS BIGINT)
        AS n_above_all,
      CAST((SELECT count(*) FROM orders
            WHERE o_totalprice > ANY (SELECT o_totalprice FROM orders
                                      WHERE o_orderpriority = '5-LOW'
                                        AND o_orderstatus = 'F')) AS BIGINT)
        AS n_above_any,
      CAST((SELECT count(*) FROM part
            WHERE p_size >= ALL (SELECT p_size FROM part
                                 WHERE p_brand = 'Brand#1')) AS BIGINT)
        AS n_size_ge_all
    """,
    doc="SQ7: quantified comparisons — x > ALL(S) and x > ANY(S). Spark "
    "SQL has no ALL/ANY quantifiers, so the engine compiles them to "
    "their aggregate forms: > ALL(S) ≡ > max(S) and > ANY(S) ≡ > min(S) "
    "(for non-empty S without NULLs — the guard every decorrelation "
    "rule needs), each a one-row broadcast against the probe side: no "
    "per-row subquery, no shuffle beyond the scalar agg. The oracle "
    "runs the genuine quantifiers; matching counts prove the rewrite.",
    tags=("subqueries", "quantified"),
)
def any_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, only=("orders", "part"))
    return spark.sql("""
        SELECT
          CAST((SELECT count(*) FROM orders
                WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders
                                      WHERE o_orderpriority = '5-LOW'
                                        AND o_orderstatus = 'F')) AS BIGINT)
            AS n_above_all,
          CAST((SELECT count(*) FROM orders
                WHERE o_totalprice > (SELECT min(o_totalprice) FROM orders
                                      WHERE o_orderpriority = '5-LOW'
                                        AND o_orderstatus = 'F')) AS BIGINT)
            AS n_above_any,
          CAST((SELECT count(*) FROM part
                WHERE p_size >= (SELECT max(p_size) FROM part
                                 WHERE p_brand = 'Brand#1')) AS BIGINT)
            AS n_size_ge_all
    """)
