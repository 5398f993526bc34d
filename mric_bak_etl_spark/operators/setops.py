"""Set operators (SURVEY.md §2B U1-U2).

Scale notes (100 TB): ``union``/``unionAll`` is partition concatenation —
zero shuffle, free at any scale. ``distinct`` / ``intersect`` / ``except``
each imply a hash shuffle on the full row; when only a key column matters,
project first so the shuffle carries narrow rows (done below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.tables import load_table


@register(
    "u1_union_by_name",
    oracle="""
    WITH big AS (
      SELECT o_orderkey, o_totalprice, 'big' AS bucket
      FROM orders WHERE o_totalprice >= 200000
    ),
    small AS (
      SELECT o_orderkey, o_totalprice, 'small' AS bucket
      FROM orders WHERE o_totalprice < 200000
    )
    SELECT bucket, count(*) AS n, round(sum(o_totalprice), 4) AS total
    FROM (SELECT * FROM big UNION ALL SELECT * FROM small)
    GROUP BY bucket
    ORDER BY bucket
    """,
    doc="U1: union of disjoint splits (unionByName resolves by column name, "
    "not position) — pure partition concat, no shuffle until the final agg.",
    tags=("setop",),
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    big = (
        o.filter(F.col("o_totalprice") >= 200000)
        .select("o_orderkey", "o_totalprice")
        .withColumn("bucket", F.lit("big"))
    )
    # Deliberately different column order: unionByName must align by name.
    small = (
        o.filter(F.col("o_totalprice") < 200000)
        .select(F.lit("small").alias("bucket"), "o_orderkey", "o_totalprice")
    )
    return (
        big.unionByName(small)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
    )


@register(
    "u2_intersect",
    oracle="""
    SELECT c_custkey FROM customer
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    ORDER BY c_custkey
    """,
    doc="U2: INTERSECT (distinct semantics) on projected keys — narrow-row "
    "shuffle; semantically a semi-join + distinct, and Catalyst plans it "
    "exactly that way.",
    tags=("setop",),
)
def intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.intersect(o)


@register(
    "u2b_except_all",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    ORDER BY o_custkey
    """,
    doc="U2: EXCEPT ALL (multiset difference, multiplicity-aware) — "
    "planned as a count-compare aggregate, one shuffle on the key.",
    tags=("setop",),
)
def except_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    left = o.select("o_custkey")
    right = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return left.exceptAll(right)


@register(
    "u3_union_distinct",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    UNION
    SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    ORDER BY o_custkey
    """,
    doc="U3: UNION with distinct semantics (SQL UNION vs UNION ALL) — "
    "union + dropDuplicates collapses to one hash aggregate over the "
    "concatenated inputs: a single shuffle on the full row, same cost "
    "profile as a groupBy on all columns. Prefer UNION ALL + a later "
    "grouped agg when a downstream aggregation exists anyway.",
    tags=("setop",),
)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    return a.union(b).distinct()


@register(
    "u5_union_missing_columns",
    oracle="""
    SELECT o_orderkey, o_totalprice, src, region_hint
    FROM (
      SELECT o_orderkey, o_totalprice, 'v1' AS src, NULL AS region_hint
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL BY NAME
      SELECT o_orderkey, o_totalprice, 'v2' AS src,
             CASE WHEN o_custkey % 5 = 0 THEN 'APAC' ELSE 'EMEA' END AS region_hint
      FROM orders WHERE o_orderkey % 2 = 1
    )
    ORDER BY o_orderkey LIMIT 200
    """,
    doc="U5: schema-evolution union — unionByName(allowMissingColumns="
    "True): two snapshot generations whose schemas diverged (a column "
    "added in v2) concatenated by NAME with NULL back-fill, the in-"
    "memory face of s6's on-disk mergeSchema read. Positional union "
    "silently mis-aligns evolved schemas — the name-resolved form is "
    "the only safe one once a pipeline survives its first schema "
    "change. Pure partition concat: no shuffle.",
    tags=("setops",),
)
def union_missing_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", F.lit("v1").alias("src")
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.lit("v2").alias("src"),
        F.when(F.col("o_custkey") % 5 == 0, "APAC").otherwise("EMEA").alias("region_hint"),
    )
    return (
        v1.unionByName(v2, allowMissingColumns=True)
        .orderBy("o_orderkey")
        .limit(200)
    )


@register(
    "u4_intersect_all",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_keys,
           CAST(sum(l_orderkey) AS BIGINT) AS key_sum
    FROM (
      SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
      INTERSECT ALL
      SELECT l_orderkey FROM lineitem WHERE l_quantity >= 25
    )
    """,
    doc="U4: INTERSECT ALL (multiset intersection, multiplicity-aware) — "
    "each key survives min(count_left, count_right) times, vs u2's "
    "INTERSECT which collapses to distinct. Catalyst plans it as ONE "
    "count-compare hash aggregate over the union of tagged sides (same "
    "shape as u2b's EXCEPT ALL) — one narrow-row shuffle on the "
    "projected key, no join. The multiset semantics are load-bearing "
    "in the checked values: n > n_keys because multi-line orders "
    "appear in both slices more than once.",
    tags=("setops",),
)
def intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    bulky = li.filter(F.col("l_quantity") >= 25).select("l_orderkey")
    return returned.intersectAll(bulky).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_orderkey").alias("n_keys"),
        F.sum("l_orderkey").cast("bigint").alias("key_sum"),
    )
