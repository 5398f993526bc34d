"""Scan / projection / filter operators (SURVEY.md §2B S1, P1, P2).

Reference lineage: P1 is the reference's line→filename projection
(`src/bak_unload.ps1:29-35`), P2 its substring filter
(`src/bak_unload.ps1:31`), S1 the table scan everything reads through.

Scale notes (100 TB): these are the operators where the *plan* is the whole
story — the filter must reach the parquet reader as PushedFilters and the
projection must shrink ReadSchema to the referenced columns, or a 2-column
query reads 16 columns of 100 TB. tests/test_plans.py asserts both on the
optimized plan text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.tables import load_table


@register(
    "s1_parquet_scan",
    oracle="""
    SELECT count(*)                         AS n_rows,
           min(l_shipdate)                  AS min_ship,
           max(l_shipdate)                  AS max_ship
    FROM lineitem
    """,
    doc="S1: bare parquet scan + min/max — ReadSchema prunes to the single "
    "referenced column; row-group statistics serve min/max without "
    "decoding pages on engines that exploit them.",
    tags=("scan",),
)
def parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


@register(
    "p1_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) / 10000
             AS disc_price,
           floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000 + 0.5) / 10000
             AS charged,
           upper(l_returnflag)                                     AS flag_up,
           CAST(l_quantity >= 25 AS BOOLEAN)                       AS is_bulk
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber, disc_price
    """,
    doc="P1: projection with computed columns — the reference's parse "
    "projection generalized; pure narrow transformation, zero shuffle, "
    "one codegen stage fused with the scan.",
    tags=("projection", "reference-fidelity"),
)
def projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))

    # Engine-identical quantization: round() differs between engines at
    # representation boundaries (HALF_UP on decimalized doubles vs float
    # math) — floor(x*1e4 + 0.5)/1e4 is the same IEEE op sequence on both,
    # so per-row projected floats hash identically (SURVEY §7 risk #4).
    def qround4(c):
        return F.floor(c * 10000 + F.lit(0.5)) / 10000

    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            qround4(disc).alias("disc_price"),
            qround4(disc * (1 + F.col("l_tax"))).alias("charged"),
            F.upper("l_returnflag").alias("flag_up"),
            (F.col("l_quantity") >= 25).alias("is_bulk"),
        )
    )


@register(
    "p2_filter_predicates",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part
    WHERE p_size BETWEEN 10 AND 40
      AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      AND contains(p_type, 'O')
      AND starts_with(p_name, 's')
      AND NOT ends_with(p_type, 'ZZZ')
      AND p_retailprice IS NOT NULL
    ORDER BY p_partkey
    """,
    doc="P2: conjunctive filter surface — BETWEEN, IN, contains/startswith/"
    "endswith (the reference's .zip test, src/bak_unload.ps1:31), null "
    "check; every conjunct is pushable to the parquet reader.",
    tags=("filter", "reference-fidelity"),
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(
            F.col("p_size").between(10, 40)
            & F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
            & F.col("p_type").contains("O")
            & F.col("p_name").startswith("s")
            & ~F.col("p_type").endswith("ZZZ")
            & F.col("p_retailprice").isNotNull()
        )
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    )


@register(
    "p3_null_handling",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END
               AS price_maybe,
             CASE WHEN o_orderpriority = '5-LOW' THEN NULL
                  ELSE o_orderpriority END AS prio_maybe
      FROM orders
    )
    SELECT
      CAST(count(*) AS BIGINT)                   AS n_total,
      CAST(count(price_maybe) AS BIGINT)         AS n_price_present,
      CAST(count(*) FILTER (WHERE price_maybe IS NULL AND prio_maybe IS NULL)
           AS BIGINT)                            AS n_both_null,
      round(sum(coalesce(price_maybe, 0.0)), 4)  AS sum_filled,
      CAST(count(*) FILTER (WHERE price_maybe IS NOT NULL
                              AND prio_maybe IS NOT NULL) AS BIGINT)
                                                 AS n_complete_rows
    FROM src
    """,
    doc="P3: null-handling surface — na.fill (fillna) and na.drop (dropna) "
    "as plan-level rewrites over a derived null-bearing projection, plus "
    "null-aware counts: count(col) skips NULLs, count(*) doesn't — the "
    "asymmetry every aggregate pipeline has to get right. fillna compiles "
    "to coalesce projections and dropna to an IsNotNull conjunction — "
    "both codegen'd, both pushdown-eligible, no special operator.",
    tags=("projection", "nulls"),
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", None)
        .otherwise(F.col("o_totalprice"))
        .alias("price_maybe"),
        F.when(F.col("o_orderpriority") == "5-LOW", None)
        .otherwise(F.col("o_orderpriority"))
        .alias("prio_maybe"),
    )
    filled = src.na.fill({"price_maybe": 0.0})
    complete = src.na.drop(subset=["price_maybe", "prio_maybe"])
    counts = src.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.count("price_maybe").cast("bigint").alias("n_price_present"),
        F.sum(
            F.when(
                F.col("price_maybe").isNull() & F.col("prio_maybe").isNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_both_null"),
    )
    summed = filled.agg(F.round(F.sum("price_maybe"), 4).alias("sum_filled"))
    n_complete = complete.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_complete_rows")
    )
    return counts.crossJoin(F.broadcast(summed)).crossJoin(F.broadcast(n_complete))
