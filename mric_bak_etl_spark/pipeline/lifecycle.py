"""Snapshot-lifecycle operators: diff/CDC, data-quality gates, schema
evolution, small-file compaction.

The reference replaces the whole database once per day from a full
snapshot (`src/bak_unload.ps1:92-103`) — these are the operators a real
snapshot cadence grows into: knowing WHAT changed between snapshots,
refusing bad loads, surviving column additions, and keeping the file
layout healthy.

Scale notes (100 TB): snapshot diff is one full-outer join on the business
key — shuffle both sides once; at scale both snapshots are bucketed on the
key (j9) so the diff is exchange-free. Quality gates are aggregations
(map-side partials); run them ON the diff, not the full snapshot, once
diffs exist. Compaction is a repartition-rewrite — the file-count knob is
the shuffle width.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mric_bak_etl_spark.artifacts import publish
from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.session import scratch_dir
from mric_bak_etl_spark.tables import load_table


def snapshot_diff(old: DataFrame, new: DataFrame, key: str, payload: list[str]) -> DataFrame:
    """Row-level change detection between consecutive snapshots.

    Full outer join on the business key; change class per row:
    inserted (key only in new), deleted (key only in old), updated (both
    sides, any payload column differs), unchanged. The md5-of-payload
    compare keeps the join narrow when payloads are wide — hash first,
    compare one column.
    """
    def fingerprint(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(key).alias("k"),
            F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in payload])).alias("fp"),
        )

    o = fingerprint(old).withColumnRenamed("fp", "fp_old")
    n = fingerprint(new).withColumnRenamed("fp", "fp_new")
    j = o.join(n, "k", "full")
    return j.select(
        "k",
        F.when(F.col("fp_old").isNull(), "inserted")
        .when(F.col("fp_new").isNull(), "deleted")
        .when(F.col("fp_old") != F.col("fp_new"), "updated")
        .otherwise("unchanged")
        .alias("change"),
    )


@register(
    "r16_snapshot_diff",
    oracle="""
    WITH old AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
                 WHERE o_orderkey % 10 <> 0),
         new AS (SELECT o_orderkey,
                        CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
                          AS o_orderstatus,
                        o_totalprice
                 FROM orders WHERE o_orderkey % 10 <> 1),
         j AS (
           SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
                  CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                       WHEN n.o_orderkey IS NULL THEN 'deleted'
                       WHEN o.o_orderstatus <> n.o_orderstatus
                         OR o.o_totalprice <> n.o_totalprice THEN 'updated'
                       ELSE 'unchanged' END AS change
           FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
         )
    SELECT change, count(*) AS n_rows
    FROM j GROUP BY change ORDER BY change
    """,
    doc="R16: snapshot diff / change detection — what the reference's "
    "daily full-replace cadence grows into: old/new snapshots (derived "
    "deterministically from orders) full-outer-joined on the business "
    "key, rows classed inserted/deleted/updated/unchanged via payload "
    "fingerprints. One shuffle; exchange-free when both snapshots are "
    "bucketed on the key.",
    tags=("pipeline", "reference-fidelity"),
)
def snapshot_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = o.filter(F.col("o_orderkey") % 10 != 1).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    d = snapshot_diff(old, new, "o_orderkey", ["o_orderstatus", "o_totalprice"])
    return (
        d.groupBy("change")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "dq1_quality_gate",
    oracle="""
    SELECT
      count(*)                                                  AS n_rows,
      CAST(sum(CASE WHEN l_quantity IS NULL OR l_extendedprice IS NULL
               THEN 1 ELSE 0 END) AS BIGINT)                    AS null_violations,
      CAST(sum(CASE WHEN l_quantity <= 0 OR l_quantity > 50
               THEN 1 ELSE 0 END) AS BIGINT)                    AS range_violations,
      CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
               THEN 1 ELSE 0 END) AS BIGINT)                    AS discount_violations,
      (SELECT count(*) FROM (
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
         FROM lineitem
         GROUP BY l_orderkey, l_linenumber, l_partkey, l_suppkey
         HAVING count(*) > 1))                                  AS duplicate_keys,
      (SELECT count(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_orderkey = l.l_orderkey))    AS orphan_lines
    FROM lineitem
    """,
    doc="DQ1: load-time quality gate — the checks a snapshot load runs "
    "BEFORE the swap (the reference loads blind): null/range/domain "
    "violations in one aggregation pass, duplicate business keys via a "
    "grouped HAVING, referential orphans via an anti-join. All "
    "map-side-partial aggregations; at scale run on the snapshot diff, "
    "not the full table.",
    tags=("pipeline", "quality"),
)
def quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    checks = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            (F.col("l_quantity").isNull() | F.col("l_extendedprice").isNull()).cast("int")
        ).cast("bigint").alias("null_violations"),
        F.sum(
            ((F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50)).cast("int")
        ).cast("bigint").alias("range_violations"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("int")
        ).cast("bigint").alias("discount_violations"),
    )
    dup_keys = (
        li.groupBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("duplicate_keys"))
    )
    orphans = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_lines"))
    )
    return checks.crossJoin(dup_keys).crossJoin(orphans)


@register(
    "s6_schema_evolution",
    oracle="""
    WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders
                WHERE o_orderkey % 2 = 0),
         v2 AS (SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
                WHERE o_orderkey % 2 = 1)
    SELECT CAST(count(*) AS BIGINT)                        AS n_rows,
           CAST(count(o_orderpriority) AS BIGINT)          AS n_with_priority,
           round(sum(o_totalprice), 4)                     AS total_price
    FROM (SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority FROM v1
          UNION ALL
          SELECT * FROM v2)
    """,
    doc="S6: schema evolution on read — two snapshot generations written "
    "with different schemas (a column added between releases) read as ONE "
    "dataset via mergeSchema; old rows surface NULL for the new column. "
    "The alternative at scale is a metastore schema + explicit casts; "
    "mergeSchema costs a footer read per file, so pin the merged schema "
    "once evolution stabilizes.",
    tags=("pipeline", "source"),
)
def schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = scratch_dir("schema_evo_")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", True).parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    return merged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("o_orderpriority").cast("bigint").alias("n_with_priority"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
    )


@register(
    "s7_compaction",
    oracle="""
    SELECT count(*)                      AS n_rows,
           round(sum(l_quantity), 4)     AS total_qty
    FROM lineitem
    WHERE l_returnflag = 'A'
    """,
    doc="S7: small-file compaction — the returned-lines slice written as "
    "64 fragment files (the many-small-files failure mode of incremental "
    "ingestion), then compacted with a repartition-rewrite to 4 files and "
    "read back. File count IS the shuffle width at rewrite; the builder "
    "asserts the layout change, the oracle checks the data survived.",
    tags=("pipeline", "sink"),
)
def compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "A")
    base = scratch_dir("compaction_")
    frag, compact = os.path.join(base, "frag"), os.path.join(base, "compact")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    n_frag = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)
    n_compact = len([f for f in os.listdir(compact) if f.endswith(".parquet")])
    assert n_frag == 64 and n_compact == 4, (n_frag, n_compact)
    back = spark.read.parquet(compact)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("total_qty"),
    )


@register(
    "s8_dynamic_partition_pruning",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
           CAST(count(*) AS BIGINT)      AS n_rows,
           round(sum(l_extendedprice), 4) AS total_price
    FROM lineitem
    WHERE year(l_shipdate) IN (1996, 1997)
    GROUP BY ship_year
    ORDER BY ship_year
    """,
    doc="S8: dynamic partition pruning — the fact snapshot written "
    "partitioned by ship year, joined to a dimension whose filter "
    "(non-partition attribute) only resolves at runtime; Spark reuses the "
    "broadcast to prune fact PARTITIONS before scanning them "
    "(dynamicpruningexpression in the scan's PartitionFilters — asserted "
    "in tests/test_plans.py). THE mechanism that makes star-schema "
    "date-range queries touch 2 of 2000 partitions at 100 TB.",
    tags=("pipeline", "source", "scale"),
)
def dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    base = scratch_dir("dpp_")
    li.write.mode("overwrite").partitionBy("ship_year").parquet(base)
    fact = spark.read.parquet(base)
    dim = spark.createDataFrame(
        [(y, "keep" if y in (1996, 1997) else "drop") for y in range(1995, 2002)],
        "y int, tag string",
    ).filter(F.col("tag") == "keep")
    return (
        fact.join(F.broadcast(dim), fact.ship_year == dim.y)
        .groupBy("ship_year")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 4).alias("total_price"),
        )
    )


def merge_apply(base: DataFrame, changes: DataFrame, key: str) -> DataFrame:
    """Upsert/delete application: MERGE INTO semantics as one full outer join.

    ``changes`` rows carry ``op`` ∈ {upsert, delete}. Result = base rows
    untouched by changes + upserted rows; deletes drop. One shuffle on the
    key (exchange-free when base and changes are bucketed on it, j9); at
    scale this is the copy-on-write MERGE a lakehouse table format runs,
    expressed directly.
    """
    b = base.select(F.col(key).alias("k"), F.struct(*base.columns).alias("b_row"))
    c = changes.select(
        F.col(key).alias("k"), "op", F.struct(*[c for c in changes.columns if c != "op"]).alias("c_row")
    )
    j = b.join(c, "k", "full")
    kept = j.filter(
        (F.col("op").isNull())                # untouched base row
        | (F.col("op") == "upsert")           # insert or update
    )
    return kept.select(
        F.when(F.col("op") == "upsert", F.col("c_row")).otherwise(F.col("b_row")).alias("row")
    ).select("row.*")


@register(
    "r17_merge_apply",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 10 <> 0
    ),
    changes AS (
      -- deletes: every 7th key; upserts: every 5th key (status rewritten),
      -- including keys NOT in base (inserts)
      SELECT o_orderkey, 'delete' AS op, NULL AS o_orderstatus,
             CAST(NULL AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, 'upsert' AS op, 'U' AS o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
    ),
    merged AS (
      SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
             CASE WHEN c.op = 'upsert' THEN c.o_orderstatus
                  ELSE b.o_orderstatus END AS o_orderstatus,
             CASE WHEN c.op = 'upsert' THEN c.o_totalprice
                  ELSE b.o_totalprice END AS o_totalprice
      FROM base b FULL JOIN changes c ON b.o_orderkey = c.o_orderkey
      WHERE c.op IS NULL OR c.op = 'upsert'
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)      AS n_rows,
           round(sum(o_totalprice), 4)   AS total_price
    FROM merged
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus NULLS FIRST
    """,
    doc="R17: MERGE/upsert application — the incremental successor to the "
    "reference's full drop-and-restore (src/bak_unload.ps1:92-103): a "
    "change set (upserts incl. inserts, deletes) applied to the base "
    "snapshot in ONE full outer join on the business key. "
    "Copy-on-write MERGE semantics without a table format; bucketing "
    "both sides (j9) makes it exchange-free at 100 TB.",
    tags=("pipeline", "reference-fidelity"),
)
def merge_apply_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    deletes = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("delete").alias("op"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    upserts = o.filter(
        (F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 7 != 0)
    ).select(
        "o_orderkey",
        F.lit("upsert").alias("op"),
        F.lit("U").alias("o_orderstatus"),
        "o_totalprice",
    )
    changes = deletes.unionByName(upserts).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "op"
    )
    merged = merge_apply(base, changes, "o_orderkey")
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )


@register(
    "r18_scd2_history",
    oracle="""
    WITH old AS (
      SELECT o_orderkey AS k, o_orderstatus AS v FROM orders
      WHERE o_orderkey % 10 <> 0
    ),
    new AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS v
      FROM orders WHERE o_orderkey % 10 <> 1
    ),
    j AS (SELECT coalesce(o.k, n.k) AS k, o.v AS v_old, n.v AS v_new,
                 o.k IS NOT NULL AS in_old, n.k IS NOT NULL AS in_new
          FROM old o FULL JOIN new n ON o.k = n.k),
    hist AS (
      -- closed-out rows (value replaced or key deleted in gen 2)
      SELECT k, v_old AS v, 1 AS valid_from, 2 AS valid_to, FALSE AS is_current
      FROM j WHERE in_old AND (NOT in_new OR v_old <> v_new)
      UNION ALL
      -- still-current rows carried from gen 1
      SELECT k, v_old, 1, NULL, TRUE FROM j WHERE in_old AND in_new AND v_old = v_new
      UNION ALL
      -- rows opened in gen 2 (insert or new value)
      SELECT k, v_new, 2, NULL, TRUE FROM j WHERE in_new AND (NOT in_old OR v_old <> v_new)
    )
    SELECT v AS status, valid_from, valid_to, is_current,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM hist
    GROUP BY status, valid_from, valid_to, is_current
    ORDER BY status, valid_from, valid_to NULLS FIRST, is_current
    """,
    doc="R18: SCD Type-2 history — two snapshot generations (the "
    "reference's daily full replaces) folded into dimension history rows "
    "with validity intervals: changed/deleted values close out "
    "(valid_to = gen 2), new/changed values open as current. One full "
    "outer join on the business key + a per-row fan-out (array+explode, "
    "no extra shuffle); the standard warehouse answer to 'what did this "
    "row say last month?'. Bucketed generations (j9) make the join "
    "exchange-free at scale.",
    tags=("pipeline", "reference-fidelity"),
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("v_old")
    )
    new = o.filter(F.col("o_orderkey") % 10 != 1).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 7 == 0, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("v_new"),
    )
    j = old.join(new, "k", "full").select(
        "k", "v_old", "v_new",
        F.col("v_old").isNotNull().alias("in_old"),
        F.col("v_new").isNotNull().alias("in_new"),
    )
    # Each key emits 1-2 history rows: build them as an array of structs
    # and explode — per-row fan-out, no union of three re-scans.
    row = lambda v, vf, vt, cur: F.struct(  # noqa: E731
        v.alias("v"), F.lit(vf).alias("valid_from"),
        (F.lit(vt).cast("int")).alias("valid_to"), F.lit(cur).alias("is_current"),
    )
    changed = F.col("in_old") & F.col("in_new") & (F.col("v_old") != F.col("v_new"))
    hist = j.select(
        F.explode(
            F.concat(
                # closed-out gen-1 row
                F.when(
                    F.col("in_old") & (~F.col("in_new") | changed),
                    F.array(row(F.col("v_old"), 1, 2, False)),
                ).otherwise(F.array()),
                # carried-forward current row
                F.when(
                    F.col("in_old") & F.col("in_new") & (F.col("v_old") == F.col("v_new")),
                    F.array(row(F.col("v_old"), 1, None, True)),
                ).otherwise(F.array()),
                # opened gen-2 row
                F.when(
                    F.col("in_new") & (~F.col("in_old") | changed),
                    F.array(row(F.col("v_new"), 2, None, True)),
                ).otherwise(F.array()),
            )
        ).alias("h")
    )
    return (
        hist.select("h.*")
        .groupBy(F.col("v").alias("status"), "valid_from", "valid_to", "is_current")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )


@register(
    "s9_sorted_layout",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)     AS n_rows,
           round(sum(l_quantity), 4)    AS total_qty,
           round(avg(l_discount), 6)    AS avg_discount
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-06-01'
      AND l_shipdate <  DATE '1997-08-01'
    """,
    doc="S9: sort-clustered layout — the snapshot rewritten "
    "sortWithinPartitions(l_shipdate) before the sink (LOCAL sort: no "
    "exchange, each task orders its own output), so every parquet "
    "row group covers a narrow shipdate range and the reader's min/max "
    "statistics skip row groups wholly outside the queried window — the "
    "single-column form of Z-ordering, and the cheapest data-skipping "
    "win a 100 TB date-filtered fact table can buy. The read-back "
    "carries the pushed range filter; the oracle checks the data "
    "survived the rewrite.",
    tags=("pipeline", "sink", "scale"),
)
def sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    base = scratch_dir("sorted_layout_")
    li.sortWithinPartitions("l_shipdate").write.mode("overwrite").parquet(base)
    back = spark.read.parquet(base).filter(
        (F.col("l_shipdate") >= "1997-06-01") & (F.col("l_shipdate") < "1997-08-01")
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("total_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_discount"),
    )


@register(
    "dq2_volume_anomaly",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM orders GROUP BY d
    ),
    scored AS (
      SELECT d, cnt,
             (cnt - avg(cnt) OVER ()) / stddev_samp(cnt) OVER () AS z
      FROM daily
    )
    SELECT CAST(count(*) AS BIGINT)                      AS n_days,
           CAST(sum(CASE WHEN abs(z) > 2 THEN 1 ELSE 0 END) AS BIGINT)
                                                         AS n_anomalous,
           round(max(z), 4)                              AS max_z,
           round(min(z), 4)                              AS min_z
    FROM scored
    """,
    doc="DQ2: ingest-volume anomaly gate — daily row counts z-scored "
    "against the full history; |z|>2 days are the 'snapshot looks wrong, "
    "hold the swap' signal the reference's blind daily restore lacks. "
    "The global window runs over the PRE-AGGREGATED daily relation "
    "(days-sized, trivially one task) — never over raw rows; the raw "
    "scan is one map-side-partial count per day.",
    tags=("pipeline", "quality"),
)
def volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    w = Window.partitionBy()
    scored = daily.select(
        "d",
        "cnt",
        ((F.col("cnt") - F.avg("cnt").over(w)) / F.stddev_samp("cnt").over(w)).alias(
            "z"
        ),
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum((F.abs(F.col("z")) > 2).cast("int")).cast("bigint").alias("n_anomalous"),
        F.round(F.max("z"), 4).alias("max_z"),
        F.round(F.min("z"), 4).alias("min_z"),
    )


@register(
    "r19_scd2_multi_generation",
    oracle="""
    WITH gens AS (
      SELECT 1 AS gen, o_orderkey AS k, o_orderstatus AS v FROM orders
      UNION ALL
      SELECT 2, o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
      FROM orders
      UNION ALL
      SELECT 3, o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN 'Y'
                  WHEN o_orderkey % 7 = 0 THEN 'X'
                  ELSE o_orderstatus END
      FROM orders
    ),
    chg AS (
      SELECT k, gen, v,
             CASE WHEN lag(v) OVER w IS NULL OR v <> lag(v) OVER w
                  THEN 1 ELSE 0 END AS is_chg
      FROM gens WINDOW w AS (PARTITION BY k ORDER BY gen)
    ),
    pts AS (SELECT k, v, gen AS valid_from FROM chg WHERE is_chg = 1),
    hist AS (
      SELECT k, v, valid_from,
             lead(valid_from) OVER (PARTITION BY k ORDER BY valid_from)
               AS valid_to
      FROM pts
    )
    SELECT v AS status, valid_from, valid_to,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM hist
    GROUP BY status, valid_from, valid_to
    ORDER BY status, valid_from, valid_to NULLS FIRST
    """,
    doc="R19: SCD2 over N snapshot generations — the general form of r18: "
    "all generations unioned with a gen column, change points detected "
    "with ONE lag window per key, validity intervals closed with lead. "
    "ONE shuffle on the business key regardless of generation count "
    "(r18's pairwise-join form costs a join per consecutive pair). "
    "Assumes keys present in every generation (delete/re-insert gaps "
    "handled by r18's 2-gen form); 3 deterministic generations derived "
    "from orders.",
    tags=("pipeline", "reference-fidelity"),
)
def scd2_multi_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderstatus"
    )
    g1 = o.select(F.lit(1).alias("gen"), "k", F.col("o_orderstatus").alias("v"))
    g2 = o.select(
        F.lit(2).alias("gen"),
        "k",
        F.when(F.col("k") % 7 == 0, "X").otherwise(F.col("o_orderstatus")).alias("v"),
    )
    g3 = o.select(
        F.lit(3).alias("gen"),
        "k",
        F.when(F.col("k") % 3 == 0, "Y")
        .when(F.col("k") % 7 == 0, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("v"),
    )
    gens = g1.unionByName(g2).unionByName(g3)
    w = Window.partitionBy("k").orderBy("gen")
    chg = gens.withColumn(
        "is_chg",
        (F.lag("v").over(w).isNull() | (F.col("v") != F.lag("v").over(w))).cast("int"),
    )
    pts = chg.filter(F.col("is_chg") == 1).select(
        "k", "v", F.col("gen").alias("valid_from")
    )
    w2 = Window.partitionBy("k").orderBy("valid_from")
    hist = pts.withColumn("valid_to", F.lead("valid_from").over(w2))
    return (
        hist.groupBy(F.col("v").alias("status"), "valid_from", "valid_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )


def _zorder_oracle() -> str:
    terms = []
    for b in range(8):
        terms.append(f"((((o_custkey % 256) >> {b}) & 1) << {2 * b + 1})")
        terms.append(f"((((dayofyear(o_orderdate) % 256) >> {b}) & 1) << {2 * b})")
    z = " | ".join(terms)
    return f"""
    SELECT CAST(({z}) // 4096 AS BIGINT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_custkey % 256) AS BIGINT) AS min_cust,
           CAST(max(o_custkey % 256) AS BIGINT) AS max_cust,
           CAST(min(dayofyear(o_orderdate) % 256) AS BIGINT) AS min_doy,
           CAST(max(dayofyear(o_orderdate) % 256) AS BIGINT) AS max_doy
    FROM orders
    GROUP BY file_id ORDER BY file_id
    """


@register(
    "s10_zorder_layout",
    oracle=_zorder_oracle(),
    doc="S10: Z-order (Morton-curve) multi-dimensional clustering — s9's "
    "data-skipping idea extended to TWO filter columns: interleave the "
    "low 8 bits of customer and day-of-year, range-partition by the "
    "Z-value, and every target file covers a bounded TILE in BOTH "
    "dimensions (the per-file min/max the query proves), so either a "
    "customer predicate or a date predicate alone prunes ~sqrt-fraction "
    "of files — single-column sort clustering prunes only its own "
    "column. Pure bitwise codegen'd expressions (f12's primitives), "
    "identical arithmetic mirrored in the oracle; at 100 TB this is "
    "repartitionByRange(z) before the sink.",
    tags=("pipeline", "sink", "scale"),
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = F.col("o_custkey") % 256
    y = F.dayofyear("o_orderdate").cast("bigint") % 256
    z = None
    for b in range(8):
        xb = F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        yb = F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b)
        piece = xb.bitwiseOR(yb)
        z = piece if z is None else z.bitwiseOR(piece)
    return (
        o.select(
            (z / 4096).cast("bigint").alias("file_id"),
            x.alias("xc"),
            y.alias("yd"),
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("xc").cast("bigint").alias("min_cust"),
            F.max("xc").cast("bigint").alias("max_cust"),
            F.min("yd").cast("bigint").alias("min_doy"),
            F.max("yd").cast("bigint").alias("max_doy"),
        )
    )


@register(
    "s11_write_audit_publish",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)   AS n_rows,
           round(sum(l_quantity), 4)  AS total_qty
    FROM lineitem
    WHERE l_quantity > 0
    """,
    doc="S11: write-audit-publish — the atomic form of the reference's "
    "non-atomic DROP-then-RESTORE swap (src/bak_unload.ps1:92-103, "
    "where readers see NO database mid-load): write the snapshot to a "
    "STAGING path, run the dq gate against what was actually written "
    "(not the input — serialization bugs surface here), and only then "
    "publish with one atomic directory rename; a failed audit leaves "
    "the previous snapshot untouched. The gate is a one-row driver "
    "action — same cardinality as the reference's state-file check. On "
    "object stores the rename becomes a manifest/metadata pointer swap "
    "(the mechanism table formats like Iceberg/Delta standardize).",
    tags=("pipeline", "sink", "reference-fidelity"),
)
def write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)

    def write(staging: str) -> None:
        li.write.mode("overwrite").parquet(staging)
        q = F.col("l_quantity")
        audit = spark.read.parquet(staging).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(q.isNull() | (q <= 0), 1).otherwise(0)).alias(
                "violations"
            ),
        ).collect()[0]
        if audit["violations"] != 0 or audit["n_rows"] == 0:
            raise ValueError(
                f"audit failed: {audit['violations']} violations over "
                f"{audit['n_rows']} staged rows — snapshot NOT published"
            )

    base = scratch_dir("wap_")
    published = publish(os.path.join(base, "published"), write)

    return spark.read.parquet(published).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("total_qty"),
    )


@register(
    "dq3_column_profile",
    oracle="""
    SELECT 'o_custkey' AS col,
           CAST(count(*) - count(o_custkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_custkey) AS BIGINT)   AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR)             AS min_val,
           CAST(max(o_custkey) AS VARCHAR)             AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           printf('%.2f', round(min(o_totalprice), 2)),
           printf('%.2f', round(max(o_totalprice), 2))
    FROM orders
    ORDER BY col
    """,
    doc="DQ3: column profiler — per-column null count, distinct "
    "cardinality, min/max in long (column, metric) form: the snapshot "
    "'describe' a load-time gate diffs against yesterday's profile to "
    "catch schema-preserving corruption (all-null columns, cardinality "
    "collapse, range blowout) the reference's blind RESTORE never sees. "
    "ONE scan computes every column's aggregates (Spark fuses the "
    "per-column aggs into a single pass before the tiny union shapes "
    "the report); values stringified per-type so the long format is "
    "schema-stable however many columns profile.",
    tags=("pipeline", "quality"),
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def prof(col: str, min_expr, max_expr) -> DataFrame:
        return o.agg(
            (F.count(F.lit(1)) - F.count(col)).cast("bigint").alias("n_nulls"),
            F.count_distinct(F.col(col)).cast("bigint").alias("n_distinct"),
            min_expr.alias("min_val"),
            max_expr.alias("max_val"),
        ).select(F.lit(col).alias("col"), "n_nulls", "n_distinct", "min_val", "max_val")

    parts = [
        prof(
            "o_custkey",
            F.min("o_custkey").cast("string"),
            F.max("o_custkey").cast("string"),
        ),
        prof("o_orderstatus", F.min("o_orderstatus"), F.max("o_orderstatus")),
        prof(
            "o_totalprice",
            F.trim(F.to_char(F.round(F.min("o_totalprice"), 2).cast("decimal(18,2)"), F.lit("999999990.00"))),
            F.trim(F.to_char(F.round(F.max("o_totalprice"), 2).cast("decimal(18,2)"), F.lit("999999990.00"))),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "dq4_observed_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)                    AS n_rows,
           CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                AS BIGINT)                             AS n_nonpositive,
           round(sum(o_totalprice), 2)                 AS total,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders
    """,
    doc="DQ4: observe() metrics — invariant counters collected DURING a "
    "pass (Spark Observation API: accumulator-backed aggregates attached "
    "to the plan), not by a second scan: at 100 TB the difference "
    "between monitoring and doubling the read bill. The builder drives "
    "one action over the observed frame, then surfaces the collected "
    "metrics as the result row; streaming queries expose the same via "
    "StreamingQueryListener per micro-batch.",
    tags=("pipeline", "quality"),
)
def observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("dq4")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("o_totalprice") <= 0).cast("bigint")).alias("n_nonpositive"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        # DISTINCT aggregates are disallowed in observed metrics
        # (accumulators must merge associatively); HLL is the
        # permitted form and is exact at this tiny cardinality.
        F.approx_count_distinct("o_orderstatus").alias("n_statuses"),
    )
    observed.write.mode("overwrite").format("noop").save()  # one real pass
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_nonpositive"], m["total"], m["n_statuses"])],
        "n_rows long, n_nonpositive long, total double, n_statuses long",
    )


@register(
    "dq5_referential_integrity",
    oracle="""
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        AS n_line_orphans,
      (SELECT CAST(count(*) AS BIGINT) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        AS n_order_orphans,
      (SELECT CAST(count(*) AS BIGINT) FROM (
         SELECT o_custkey + 1000000 AS bad_key FROM orders WHERE o_orderkey % 97 = 0) b
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = b.bad_key))
        AS n_injected_orphans
    """,
    doc="DQ5: referential-integrity gate — FK orphan counts as broadcast "
    "anti-joins (lineitem->orders, orders->customer: both 0 on a healthy "
    "snapshot), plus an INJECTED violation (shifted keys) proving the "
    "gate actually fires. The pre-swap check for the reference's "
    "fact/dim restore: a snapshot whose fact rows reference missing "
    "dimension keys loads 'successfully' and corrupts every downstream "
    "join silently. Anti-join = the reference's own state-check pattern "
    "(src/bak_unload.ps1:57-65) pointed at integrity.",
    tags=("pipeline", "quality"),
)
def referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def orphans(child: DataFrame, key, parent: DataFrame, pkey) -> DataFrame:
        return child.join(
            F.broadcast(parent.select(pkey)), child[key] == parent[pkey], "left_anti"
        ).agg(F.count(F.lit(1)).alias("n"))

    a = orphans(li.select("l_orderkey"), "l_orderkey", o, "o_orderkey").select(
        F.col("n").alias("n_line_orphans")
    )
    b = orphans(o.select("o_custkey"), "o_custkey", c, "c_custkey").select(
        F.col("n").alias("n_order_orphans")
    )
    injected = o.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_custkey") + 1_000_000).alias("bad_key")
    )
    d = orphans(injected, "bad_key", c, "c_custkey").select(
        F.col("n").alias("n_injected_orphans")
    )
    return a.crossJoin(b).crossJoin(d)


@register(
    "r20_scd2_asof_lookup",
    oracle="""
    WITH dim AS (
      SELECT c_custkey AS k, round(c_acctbal, 2) AS bal,
             TIMESTAMP '1995-01-01' AS valid_from,
             CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '1996-07-01' END AS valid_to,
             1 AS version
      FROM customer
      UNION ALL
      SELECT c_custkey, round(c_acctbal + 100.0, 2),
             TIMESTAMP '1996-07-01', NULL, 2
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT d.version,
           CAST(count(*) AS BIGINT)  AS n_orders,
           round(sum(d.bal), 2)      AS total_bal
    FROM orders o JOIN dim d
      ON o.o_custkey = d.k
     AND o.o_orderdate >= d.valid_from
     AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
    GROUP BY d.version ORDER BY d.version
    """,
    doc="R20: SCD2 as-of lookup — facts joined to the versioned dimension "
    "r18 builds: equi on the business key with the validity window as a "
    "RESIDUAL predicate, so Catalyst plans a hash join (never a "
    "nested-loop) and each fact row lands on exactly one version — "
    "'which balance was true when this order was placed', the "
    "point-in-time join every backfill and late-arriving-fact pipeline "
    "needs. At scale both sides bucket on the key (j9) and the residual "
    "evaluates in place; a dimension with many versions per key adds "
    "j11's bucket-by-validity-range trick on top.",
    tags=("pipeline", "reference-fidelity", "joins"),
)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    v1 = c.select(
        F.col("c_custkey").alias("k"),
        F.round("c_acctbal", 2).alias("bal"),
        F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
        F.when(
            F.col("c_custkey") % 3 == 0, F.lit("1996-07-01").cast("timestamp")
        ).alias("valid_to"),
        F.lit(1).alias("version"),
    )
    v2 = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("k"),
        F.round(F.col("c_acctbal") + 100.0, 2).alias("bal"),
        F.lit("1996-07-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(2).alias("version"),
    )
    dim = v1.unionByName(v2)
    o = load_table(spark, sf_dir, "orders")
    joined = o.join(
        F.broadcast(dim),
        (o["o_custkey"] == dim["k"])
        & (o["o_orderdate"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (o["o_orderdate"] < dim["valid_to"])),
    )
    return (
        joined.groupBy("version")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("bal"), 2).alias("total_bal"),
        )
    )


def _commit_log_record(log_dir: str, ver: int, path: str) -> None:
    """Commit version ``ver`` of a log-structured table: the atomic
    append of one log record (table formats make this a conditional PUT
    / atomic rename on object stores)."""
    import json

    os.makedirs(log_dir, exist_ok=True)
    tmp = os.path.join(log_dir, f".{ver}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump({"version": ver, "path": path}, fh)
    os.rename(tmp, os.path.join(log_dir, f"{ver:020d}.json"))


@register(
    "s14_time_travel",
    oracle="""
    SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 4) AS total
    FROM orders WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 2 AS version, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.1
                          ELSE o_totalprice END), 4) AS total
    FROM orders
    ORDER BY version
    """,
    doc="S14: commit-log versioned table + time travel — the table-format "
    "mechanics s11's doc points at (Iceberg/Delta reduced to their "
    "essence): each write lands in an immutable versioned data dir and "
    "appends one JSON commit record to a _log directory; READERS never "
    "list data files — they read the log (spark.read.json over the "
    "manifest-sized log dir), resolve either the max version (latest) "
    "or any pinned historical version (AS OF), and scan exactly that "
    "version's files. Old versions stay readable after new commits "
    "(snapshot isolation for free), and the two driver actions here "
    "are log-sized, same cardinality class as s11's audit row — the "
    "data path stays fully distributed. The v2 commit rewrites prices "
    "for a deterministic key slice, so version divergence is load-"
    "bearing in the checked values.",
    tags=("pipeline", "sink", "source"),
)
def time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("s14_")
    log_dir = os.path.join(base, "_log")
    o = load_table(spark, sf_dir, "orders")
    versions = {
        1: o.filter(F.col("o_orderkey") % 3 != 0),
        2: o.withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 1.1
            ).otherwise(F.col("o_totalprice")),
        ),
    }
    for ver, df in versions.items():
        path = os.path.join(base, f"v{ver}")
        df.write.mode("overwrite").parquet(path)
        _commit_log_record(log_dir, ver, path)

    log = spark.read.json(log_dir)
    latest_ver = log.agg(F.max("version")).collect()[0][0]

    def snapshot(version: int) -> DataFrame:
        path = (
            log.filter(F.col("version") == version).select("path").collect()
        )[0][0]
        return spark.read.parquet(path)

    summaries = [
        snapshot(v).agg(
            F.lit(v).cast("int").alias("version"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
        for v in (1, int(latest_ver))
    ]
    return summaries[0].unionByName(summaries[1])


@register(
    "r21_incremental_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)    AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="R21: incremental aggregate maintenance (IVM) — the step after "
    "r16's snapshot diff: the NEW aggregate is computed from the STORED "
    "old aggregate plus group-grain deltas derived from the row-level "
    "changes, never by re-aggregating the unchanged fact mass. Deltas "
    "come from a keyed full-outer join of the two snapshots restricted "
    "to CHANGED rows (insert: +1/+price; delete: -1/-price; update: "
    "0/price_new-price_old), aggregated to the group grain and "
    "full-outer-merged onto the old aggregate (new groups appear, "
    "emptied groups drop via the n>0 filter). At 100 TB with a CDC "
    "changelog the diff stage is free and the whole refresh costs "
    "O(|changes| + |groups|); with full-replace snapshots (the "
    "reference's world) the diff still reads both snapshots but the "
    "expensive wide aggregation only ever touches the delta. The "
    "maintained result is checked against the direct aggregate of the "
    "new snapshot — equality IS the IVM correctness property.",
    tags=("pipeline", "reference-fidelity", "aggregates"),
)
def incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # Old snapshot, derived deterministically: missing the %11 keys
    # (inserts in new) and carrying pre-update prices for the %7 keys.
    new = o.select("o_orderkey", "o_orderpriority", "o_totalprice")
    # In production `old` IS a stored snapshot read once; the derived
    # stand-in is materialized so its two consumers (the stored
    # aggregate + the diff) don't re-scan the fact.
    from mric_bak_etl_spark.tables import materialize

    old = materialize(
        o.filter(F.col("o_orderkey") % 11 != 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") / 1.05
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        )
    )

    # The stored aggregate of the old snapshot (in production this is a
    # table, not recomputed here).
    old_agg = old.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("o_totalprice").alias("total"),
    )

    # Row-level diff -> changed rows only -> group-grain deltas.
    lo = old.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("grp_old"),
        F.col("o_totalprice").alias("p_old"),
    )
    ln = new.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("grp_new"),
        F.col("o_totalprice").alias("p_new"),
    )
    changed = lo.join(ln, "k", "full").filter(
        ~F.col("p_old").eqNullSafe(F.col("p_new"))
        | ~F.col("grp_old").eqNullSafe(F.col("grp_new"))
    )
    # A group-moving update contributes a delete to grp_old and an
    # insert to grp_new; express every change as +/- contributions.
    minus = changed.filter(F.col("grp_old").isNotNull()).select(
        F.col("grp_old").alias("o_orderpriority"),
        F.lit(-1).cast("bigint").alias("dn"),
        (-F.col("p_old")).alias("dtotal"),
    )
    plus = changed.filter(F.col("grp_new").isNotNull()).select(
        F.col("grp_new").alias("o_orderpriority"),
        F.lit(1).cast("bigint").alias("dn"),
        F.col("p_new").alias("dtotal"),
    )
    delta = (
        minus.unionByName(plus)
        .groupBy("o_orderpriority")
        .agg(F.sum("dn").alias("dn"), F.sum("dtotal").alias("dtotal"))
    )

    merged = old_agg.join(delta, "o_orderpriority", "full").select(
        "o_orderpriority",
        (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
        .cast("bigint")
        .alias("n"),
        (
            F.coalesce(F.col("total"), F.lit(0.0))
            + F.coalesce(F.col("dtotal"), F.lit(0.0))
        ).alias("total"),
    )
    # Rounded to 2 decimals (not the house 4): the maintained total is
    # algebraically equal to the direct sum but built from DIFFERENT
    # terms (old/1.05 + back-added deltas), so FP cancellation noise is
    # ~1e-6 on 1e8-scale totals — a 4-decimal boundary would be one
    # fixture regeneration away from a flake; 2 decimals leaves 3
    # orders of margin.
    return (
        merged.filter(F.col("n") > 0)
        .select(
            "o_orderpriority", "n", F.round("total", 2).alias("total")
        )
    )


@register(
    "dq6_schema_drift",
    oracle="""
    WITH v1_cols(col, dtype) AS (VALUES
      ('o_orderkey', 'bigint'), ('o_custkey', 'bigint'),
      ('o_orderstatus', 'string'), ('o_totalprice', 'double'),
      ('o_orderdate', 'timestamp'), ('o_orderpriority', 'string')
    ),
    v2_cols(col, dtype) AS (VALUES
      ('o_orderkey', 'bigint'), ('o_custkey', 'bigint'),
      ('o_totalprice', 'double'), ('o_orderdate', 'timestamp'),
      ('o_orderpriority', 'string'), ('load_channel', 'string')
    )
    SELECT coalesce(a.col, b.col) AS col,
           CASE WHEN b.col IS NULL THEN 'removed'
                WHEN a.col IS NULL THEN 'added'
                WHEN a.dtype <> b.dtype THEN 'retyped'
                ELSE 'unchanged' END AS drift
    FROM v1_cols a FULL JOIN v2_cols b ON a.col = b.col
    WHERE NOT (a.col IS NOT NULL AND b.col IS NOT NULL AND a.dtype = b.dtype)
    ORDER BY col
    """,
    doc="DQ6: schema-drift gate — the check a snapshot load runs BEFORE "
    "s6's mergeSchema read papers over a change: the incoming "
    "generation's schema (read from the parquet FOOTER — no data scan) "
    "full-outer-compared to the registered contract, each divergence "
    "classified added/removed/retyped. The reference loads whatever "
    "schema the .bak carries, silently (src/bak_unload.ps1:90-103); "
    "drift detection is what turns that into a governed evolution: "
    "'added' is usually safe (s6/u5 handle it), 'removed'/'retyped' "
    "break downstream readers and should hold the swap like dq1's "
    "row-level gate. Fixture writes two generations with a dropped "
    "column, an added column, and the rest unchanged; the schema "
    "comparison itself is metadata-only — O(columns), free at any "
    "data scale.",
    tags=("pipeline", "quality"),
)
def schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = scratch_dir("dq6_")
    v1 = os.path.join(base, "v1")
    v2 = os.path.join(base, "v2")
    o.write.mode("overwrite").parquet(v1)
    (
        o.drop("o_orderstatus")
        .withColumn("load_channel", F.lit("azcopy"))
        .write.mode("overwrite")
        .parquet(v2)
    )

    def schema_rows(path: str):
        # Footer-only: spark.read.parquet resolves the schema without
        # scanning row groups.
        schema = spark.read.parquet(path).schema
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    a = spark.createDataFrame(schema_rows(v1), "col string, dtype string")
    b = spark.createDataFrame(schema_rows(v2), "col string, dtype string")
    aa, bb = a.alias("a"), b.alias("b")
    j = aa.join(bb, F.col("a.col") == F.col("b.col"), "full")
    drift = j.select(
        F.coalesce(F.col("a.col"), F.col("b.col")).alias("col"),
        F.when(F.col("b.col").isNull(), "removed")
        .when(F.col("a.col").isNull(), "added")
        .when(F.col("a.dtype") != F.col("b.dtype"), "retyped")
        .otherwise("unchanged")
        .alias("drift"),
    )
    return drift.filter(F.col("drift") != "unchanged")


@register(
    "dq7_psi_drift",
    oracle="""
    WITH old AS (
      SELECT CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 0.9
                  ELSE o_totalprice END AS p
      FROM orders WHERE o_orderkey % 11 <> 0
    ),
    new AS (SELECT o_totalprice AS p FROM orders),
    bounds AS (
      SELECT min(p) AS lo, max(p) AS hi
      FROM (SELECT p FROM old UNION ALL SELECT p FROM new)
    ),
    b_old AS (
      SELECT least(CAST(floor((p - lo) / ((hi - lo) / 10)) AS INT), 9) AS b
      FROM old, bounds
    ),
    b_new AS (
      SELECT least(CAST(floor((p - lo) / ((hi - lo) / 10)) AS INT), 9) AS b
      FROM new, bounds
    ),
    spine AS (SELECT unnest(range(0, 10)) AS b),
    c_old AS (SELECT b, count(*) AS c FROM b_old GROUP BY b),
    c_new AS (SELECT b, count(*) AS c FROM b_new GROUP BY b),
    per_bucket AS (
      SELECT spine.b,
             (coalesce(c_old.c, 0) + 1.0)
               / ((SELECT count(*) FROM old) + 10.0) AS p,
             (coalesce(c_new.c, 0) + 1.0)
               / ((SELECT count(*) FROM new) + 10.0) AS q
      FROM spine
      LEFT JOIN c_old ON c_old.b = spine.b
      LEFT JOIN c_new ON c_new.b = spine.b
    )
    SELECT round(sum((q - p) * ln(q / p)), 6) AS psi,
           CAST(count(*) AS BIGINT)           AS n_buckets
    FROM per_bucket
    """,
    doc="DQ7: population-stability-index drift gate — the numeric-"
    "distribution complement of dq2's volume z-score and l22's token "
    "JS divergence: the price distribution of the incoming snapshot "
    "vs the previous generation, bucketed into 10 equal-width bins "
    "over the COMBINED range (one broadcast min/max — bins must be "
    "shared or the comparison is meaningless), Laplace +1 smoothing "
    "so emptied/new buckets contribute finitely, PSI = Σ(q-p)·ln(q/p). "
    "The classic gates: PSI < 0.1 stable, 0.1-0.25 investigate, "
    "> 0.25 hold the swap. Planted drift (10% price cut on a key "
    "slice plus missing rows) makes the value load-bearing. ONE "
    "conditional-explode scan emits both generations; total cost is "
    "two fact passes (bounds + buckets — the a17 histogram minimum), "
    "generation totals derive from the bucket counts, and nothing "
    "data-sized crosses the driver.",
    tags=("pipeline", "quality"),
)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # ONE fact scan emits both generations: each order contributes a
    # 'new' row always and an 'old' row when it exists in the previous
    # snapshot (conditional explode) — the old/new/bounds/counts split
    # as separate frames costs 8 scans of the fact; this shape costs 2
    # (the bounds pass + the bucket pass, the a17 histogram minimum).
    tagged = o.select(
        F.explode(
            F.array_compact(
                F.array(
                    F.struct(
                        F.lit("new").alias("gen"),
                        F.col("o_totalprice").alias("p"),
                    ),
                    F.when(
                        F.col("o_orderkey") % 11 != 0,
                        F.struct(
                            F.lit("old").alias("gen"),
                            F.when(
                                F.col("o_orderkey") % 3 == 0,
                                F.col("o_totalprice") * 0.9,
                            )
                            .otherwise(F.col("o_totalprice"))
                            .alias("p"),
                        ),
                    ),
                )
            )
        ).alias("r")
    ).select("r.gen", "r.p")
    bounds = tagged.agg(F.min("p").alias("lo"), F.max("p").alias("hi"))

    counts = (
        tagged.crossJoin(F.broadcast(bounds))
        .groupBy(
            "gen",
            F.least(
                F.floor(
                    (F.col("p") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10)
                ).cast("int"),
                F.lit(9),
            ).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from mric_bak_etl_spark.tables import materialize

    # Generation totals derive FROM the bucket counts — no extra scan;
    # the 10-row bucket table is materialized so its two consumers
    # (totals + the spine join) don't re-run the bucket pass.
    wide = counts.groupBy("b").agg(
        F.sum(F.when(F.col("gen") == "old", F.col("c")).otherwise(0)).alias("c_old"),
        F.sum(F.when(F.col("gen") == "new", F.col("c")).otherwise(0)).alias("c_new"),
    )
    wide = materialize(wide)
    totals = wide.agg(
        F.sum("c_old").alias("n_old"), F.sum("c_new").alias("n_new")
    )
    spine = spark.range(10).select(F.col("id").cast("int").alias("b"))
    per_bucket = (
        spine.join(wide, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            ((F.coalesce(F.col("c_old"), F.lit(0)) + 1.0) / (F.col("n_old") + 10.0)).alias("p"),
            ((F.coalesce(F.col("c_new"), F.lit(0)) + 1.0) / (F.col("n_new") + 10.0)).alias("q"),
        )
    )
    return per_bucket.agg(
        F.round(F.sum((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))), 6).alias("psi"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
    )


@register(
    "r22_late_arriving_facts",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN c_custkey % 5 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT)          AS n_first_pass,
           CAST(sum(CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END)
                AS BIGINT)          AS n_repaired,
           round(sum(o_totalprice), 4) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="R22: late-arriving facts — the ingestion race the reference's "
    "daily full-refresh never has to face but every incremental "
    "pipeline does: fact rows land BEFORE their dimension row exists "
    "(here: a dim snapshot missing every 5th customer stands in for "
    "the late dimension). Pass 1 left-joins facts to the available "
    "dim; hits flow to the enriched output, misses PARK in a pending "
    "table with nothing dropped and nothing blocked. When the next "
    "dim generation arrives, the repair pass joins ONLY the "
    "pending-sized table (not the fact history) against the new dim "
    "and appends the resolved rows. enriched + repaired must equal "
    "the full join exactly — the oracle computes that full join and "
    "classifies each row by which pass served it, so a dropped or "
    "double-counted pending row breaks the value hash. At 100 TB the "
    "pending table is duplication-of-lateness-sized (typically <<1% "
    "of facts), the repair join broadcasts or prunes to pending keys, "
    "and the fact history is never rescanned — the same "
    "park-and-repair shape table formats implement as MERGE on a "
    "quarantine partition.",
    tags=("pipeline", "quality", "incremental"),
)
def late_arriving_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    # Dim generation 1: every 5th customer hasn't arrived yet.
    dim_v1 = c.filter(F.col("c_custkey") % 5 != 0)
    first = o.join(
        F.broadcast(dim_v1), o["o_custkey"] == dim_v1["c_custkey"], "left"
    )
    enriched = first.filter(F.col("c_mktsegment").isNotNull()).select(
        "c_mktsegment", "o_totalprice", F.lit(1).alias("first_pass")
    )
    pending = first.filter(F.col("c_mktsegment").isNull()).select(
        "o_custkey", "o_totalprice"
    )

    # Dim generation 2 (complete) repairs ONLY the pending rows — and
    # PENDING is the broadcast side: it is lateness-sized (<<1% of
    # facts), while the full dimension may not be broadcastable at
    # scale. Broadcasting pending turns the repair into a map-side pass
    # over the dim with no fact-table shuffle at all.
    resolved = F.broadcast(pending).join(
        c, pending["o_custkey"] == c["c_custkey"]
    ).select("c_mktsegment", "o_totalprice", F.lit(0).alias("first_pass"))

    return (
        enriched.unionByName(resolved)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("first_pass").cast("bigint").alias("n_first_pass"),
            (F.count(F.lit(1)) - F.sum("first_pass"))
            .cast("bigint")
            .alias("n_repaired"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


@register(
    "dq8_fact_summary_reconciliation",
    oracle="""
    WITH ls AS (
      SELECT l_orderkey,
             sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS s
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN ls.s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing_lines,
           CAST(sum(CASE WHEN ls.s IS NOT NULL
                         AND abs(o_totalprice - ls.s) / o_totalprice < 0.01
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_reconciled_1pct,
           round(avg(CASE WHEN ls.s IS NOT NULL
                          THEN abs(o_totalprice - ls.s) / o_totalprice
                     END), 4) AS avg_rel_error
    FROM orders o LEFT JOIN ls ON ls.l_orderkey = o.o_orderkey
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="DQ8: fact-to-summary reconciliation — the cross-TABLE "
    "consistency gate dq5's row-level FK check cannot see: each "
    "order's stored total is recomputed from its line items "
    "(extendedprice x (1-discount) x (1+tax)) and the per-status "
    "report counts headers with no lines, headers reconciling within "
    "1%, and the mean relative discrepancy. On this synthetic fixture "
    "the books deliberately do NOT balance (~2% reconcile), which is "
    "the point — the gate measures and localizes drift rather than "
    "asserting zero. One lineitem pass pre-aggregates to order grain "
    "BEFORE the join, so the join is header-sized on both sides and "
    "co-partitions on the order key at 100 TB; the fact table is "
    "never joined raw.",
    tags=("pipeline", "quality"),
)
def fact_summary_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    ls = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).alias("s")
        )
    )
    j = o.join(ls, o["o_orderkey"] == ls["l_orderkey"], "left")
    rel = F.abs(F.col("o_totalprice") - F.col("s")) / F.col("o_totalprice")
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.when(F.col("s").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_missing_lines"),
            F.sum(
                F.when(F.col("s").isNotNull() & (rel < 0.01), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_reconciled_1pct"),
            F.round(
                F.avg(F.when(F.col("s").isNotNull(), rel)), 4
            ).alias("avg_rel_error"),
        )
    )


@register(
    "dq9_pk_uniqueness",
    oracle="""
    SELECT * FROM (
      SELECT 'orders' AS table_name,
             CAST(count(*) AS BIGINT)                    AS n_rows,
             CAST(count(DISTINCT o_orderkey) AS BIGINT)  AS n_distinct_keys,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
               AS n_excess_rows
      FROM orders
      UNION ALL
      SELECT 'customer',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT c_custkey) AS BIGINT),
             CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
      FROM customer
      UNION ALL
      SELECT 'lineitem',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT l_orderkey * 1000 + l_linenumber)
                  AS BIGINT),
             CAST(count(*) - count(DISTINCT l_orderkey * 1000 + l_linenumber)
                  AS BIGINT)
      FROM lineitem
    )
    ORDER BY table_name
    """,
    doc="DQ9: primary-key uniqueness gate — the third leg of the "
    "integrity triad (dq5 FK orphans, dq8 cross-table reconciliation): "
    "per table, row count vs distinct declared-key count; any excess "
    "is silent fan-out waiting to double every downstream join. On "
    "THIS fixture the gate earns its keep immediately: "
    "(l_orderkey, l_linenumber) is NOT unique (a documented fixture "
    "quirk every window ORDER BY in the repo works around with full "
    "tiebreak keys), and the lineitem row reports the real duplicate "
    "mass instead of asserting it away. The composite key packs into "
    "one expression (line numbers < 1000) so count(DISTINCT) stays a "
    "single-column aggregate — at scale, count-distinct over a "
    "packed long beats a two-column exact distinct by the width of "
    "the shuffle row. One scan per table, map-side partial aggs.",
    tags=("pipeline", "quality"),
)
def pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(df: DataFrame, name: str, key) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count_distinct(key).cast("bigint").alias("n_distinct_keys"),
            (F.count(F.lit(1)) - F.count_distinct(key))
            .cast("bigint")
            .alias("n_excess_rows"),
        )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        audit(o, "orders", F.col("o_orderkey"))
        .unionByName(audit(c, "customer", F.col("c_custkey")))
        .unionByName(
            audit(
                li,
                "lineitem",
                F.col("l_orderkey") * 1000 + F.col("l_linenumber"),
            )
        )
    )


@register(
    "s18_version_vacuum",
    oracle="""
    SELECT 2 AS version,
           CAST(count(*) AS BIGINT)      AS n_rows,
           round(sum(o_totalprice), 4)   AS total,
           2 AS n_live_versions,
           1 AS n_vacuumed
    FROM orders WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 3,
           CAST(count(*) AS BIGINT),
           round(sum(CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 1.05
                          ELSE o_totalprice END), 4),
           2, 1
    FROM orders WHERE o_orderkey % 3 <> 0
    ORDER BY version
    """,
    doc="S18: vacuum / retention for the s14 commit-log versioned table "
    "— the lifecycle step that keeps time travel from meaning "
    "infinite storage: versions older than the retention horizon are "
    "dropped by FIRST removing their commit records from the log "
    "(readers resolve versions through the log, so they lose the "
    "pointer before any file disappears — the inverse of t10's "
    "write-then-commit ordering, and the same reader-safety argument) "
    "and THEN deleting the orphaned data dirs. After vacuuming v1 of "
    "three commits, the log lists exactly the retained versions, the "
    "v1 directory is physically gone (asserted, not assumed), and "
    "both retained versions still read and aggregate correctly — "
    "which is what the oracle checks, alongside the live/vacuumed "
    "counts. At scale the data-dir delete is the slow, interruptible "
    "part; because the log commit happened first, a crash mid-delete "
    "leaves only unreferenced garbage (re-vacuumable), never a "
    "referenced-but-deleted version.",
    tags=("pipeline", "sink"),
)
def version_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import shutil

    base = scratch_dir("s18_")
    log_dir = os.path.join(base, "_log")
    o = load_table(spark, sf_dir, "orders")
    versions = {
        1: o,
        2: o.filter(F.col("o_orderkey") % 3 != 0),
        3: o.filter(F.col("o_orderkey") % 3 != 0).withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 4 == 0, F.col("o_totalprice") * 1.05
            ).otherwise(F.col("o_totalprice")),
        ),
    }
    for ver, df in versions.items():
        path = os.path.join(base, f"v{ver}")
        df.write.mode("overwrite").parquet(path)
        _commit_log_record(log_dir, ver, path)

    # Vacuum: retain the last 2 versions. Log records go FIRST (readers
    # lose the pointer before files vanish), data dirs second.
    retain_from = 2
    vacuumed = []
    for fn in sorted(os.listdir(log_dir)):
        if fn.endswith(".json") and int(fn[:-5]) < retain_from:
            with open(os.path.join(log_dir, fn)) as fh:
                vacuumed.append(json.load(fh)["path"])
            os.remove(os.path.join(log_dir, fn))
    for path in vacuumed:
        shutil.rmtree(path)

    log = spark.read.json(log_dir)
    live = [
        (r["version"], r["path"]) for r in log.orderBy("version").collect()
    ]
    assert [v for v, _ in live] == [2, 3], live
    assert all(not os.path.exists(p) for p in vacuumed), "vacuum left files"

    summaries = [
        spark.read.parquet(path).agg(
            F.lit(int(ver)).cast("int").alias("version"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
            F.lit(len(live)).cast("int").alias("n_live_versions"),
            F.lit(len(vacuumed)).cast("int").alias("n_vacuumed"),
        )
        for ver, path in live
    ]
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionByName(s)
    return out


@register(
    "dq10_source_freshness",
    oracle="""
    WITH horizon AS (SELECT max(ts) AS now_ts FROM events),
    per_type AS (
      SELECT event_type, max(ts) AS last_ts, count(*) AS n_events
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_events AS BIGINT) AS n_events,
           -- floor(elapsed/60), matching Spark's epoch arithmetic:
           -- DuckDB's datediff('minute', ...) counts minute-BOUNDARY
           -- crossings, which is off by one for mid-minute timestamps.
           CAST(floor(epoch(now_ts - last_ts) / 60) AS BIGINT)
             AS minutes_stale,
           CAST(floor(epoch(now_ts - last_ts) / 60) > 360 AS BOOLEAN)
             AS sla_breached
    FROM per_type, horizon
    ORDER BY event_type
    """,
    doc="DQ10: per-stream freshness gate — the staleness check the "
    "reference performs implicitly by running daily and trusting the "
    "newest filename (src/bak_unload.ps1:44-52), made explicit and "
    "per-stream: each event type's last-seen timestamp against the "
    "corpus horizon, with a 6-hour SLA flag. A breached stream means "
    "an upstream producer died while everything else kept flowing — "
    "invisible to volume gates (dq2 alerts on daily totals; a stream "
    "silent for hours inside a busy day passes volume) and the "
    "FIRST check an on-call runs. The horizon stands in for wall "
    "clock so the fixture stays deterministic; production substitutes "
    "current_timestamp. One scan, map-side max/count partials, "
    "stream-cardinality output.",
    tags=("pipeline", "quality"),
)
def source_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    per_type = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    horizon = ev.agg(F.max("ts").alias("now_ts"))
    stale_min = (
        (F.unix_timestamp("now_ts") - F.unix_timestamp("last_ts")) / 60
    ).cast("bigint")
    return (
        per_type.crossJoin(F.broadcast(horizon))
        .select(
            "event_type",
            "n_events",
            stale_min.alias("minutes_stale"),
            (stale_min > 360).alias("sla_breached"),
        )
    )


# dq11: Benford first-significant-digit drift audit. Expected shares
# log10(1 + 1/d) are computed ONCE in Python and embedded verbatim in
# both engines' SQL (the l2f/a26 portable-constant recipe — libm log10
# is not guaranteed identically rounded across engines, repr'd doubles
# are), so every derived double is the same IEEE arithmetic over the
# same inputs on both sides. The first digit comes from the CENTS
# bigint rendered as a string — integer-to-string is engine-stable,
# unlike float/decimal rendering.
# The CAST AS DOUBLE matters: bare decimal literals of mixed scale
# unify to engine-specific DECIMAL types in a CASE; forcing DOUBLE
# pins both the arithmetic and the output column to IEEE doubles.
_DQ11_E = {
    1: "0.30103", 2: "0.176091", 3: "0.124939", 4: "0.09691",
    5: "0.079181", 6: "0.066947", 7: "0.057992", 8: "0.051153",
    9: "0.045757",
}
_DQ11_EXPECTED = (
    "CAST(CASE digit "
    + " ".join(f"WHEN {d} THEN {_DQ11_E[d]}" for d in range(1, 9))
    + f" ELSE {_DQ11_E[9]} END AS DOUBLE)"
)
# Pearson chi-square contribution per digit, written as bare *, -, /
# so no libm function enters the cross-engine path. nd/td are the
# double-cast digit count and grand total.
_DQ11_CHI2 = (
    f"((nd - td * ({_DQ11_EXPECTED})) * (nd - td * ({_DQ11_EXPECTED})))"
    f" / (td * ({_DQ11_EXPECTED}))"
)
_DQ11_CRIT = "3.841458820694124"  # chi-square 95th percentile, 1 dof
# The aggregate statistic: mild drift spread thinly across all nine
# digits can stay below every per-digit 1-dof threshold while the
# distribution as a whole is significantly non-Benford, so the audit
# also emits the full 8-dof Pearson statistic as a digit-0 row. The
# total is ONE fixed-order formula string over the pivoted per-digit
# double counts (c1..c9) — never a double `sum()` over rows, whose
# accumulation order is engine- and partition-dependent.
_DQ11_CHI2_TOTAL = " + ".join(
    f"((c{d} - td * CAST({_DQ11_E[d]} AS DOUBLE))"
    f" * (c{d} - td * CAST({_DQ11_E[d]} AS DOUBLE)))"
    f" / (td * CAST({_DQ11_E[d]} AS DOUBLE))"
    for d in range(1, 10)
)
_DQ11_CRIT8 = "15.507313055865453"  # chi-square 95th percentile, 8 dof
_DQ11_TOTAL_ROW = {
    "digit": "CAST(0 AS INT)",
    "n_orders": "CAST(total AS BIGINT)",
    "share": "CAST(NULL AS DOUBLE)",
    "expected_share": "CAST(NULL AS DOUBLE)",
    "chi2_term": f"round({_DQ11_CHI2_TOTAL}, 6)",
    "digit_drift": f"({_DQ11_CHI2_TOTAL}) >= {_DQ11_CRIT8}",
}


_DQ11_PIV = ", ".join(
    f"CAST(sum(CASE WHEN digit = {d} THEN n ELSE 0 END) AS BIGINT) AS b{d}"
    for d in range(1, 10)
)
_DQ11_TOTAL_EXPR = " + ".join(f"b{d}" for d in range(1, 10))
_DQ11_PD = (
    f"CAST({_DQ11_TOTAL_EXPR} AS BIGINT) AS total, "
    + ", ".join(f"CAST(b{d} AS DOUBLE) AS c{d}" for d in range(1, 10))
    + f", CAST({_DQ11_TOTAL_EXPR} AS DOUBLE) AS td"
)
_DQ11_TOTAL_SELECT = ",\n           ".join(
    f"{e} AS {n}" for n, e in _DQ11_TOTAL_ROW.items()
)


@register(
    "dq11_benford_drift",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                 AS STRING), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    agg AS (SELECT digit, count(*) AS n FROM digits GROUP BY digit),
    piv AS (SELECT {_DQ11_PIV} FROM agg),
    pd AS (SELECT {_DQ11_PD} FROM piv),
    d AS (
      SELECT digit, n, CAST(n AS DOUBLE) AS nd, pd.td AS td
      FROM agg, pd
    )
    SELECT digit,
           CAST(n AS BIGINT)             AS n_orders,
           round(nd / td, 6)             AS share,
           {_DQ11_EXPECTED}              AS expected_share,
           round({_DQ11_CHI2}, 6)        AS chi2_term,
           {_DQ11_CHI2} >= {_DQ11_CRIT}  AS digit_drift
    FROM d
    UNION ALL
    SELECT {_DQ11_TOTAL_SELECT}
    FROM pd
    ORDER BY digit
    """,
    doc="DQ11: Benford's-law first-significant-digit audit on order "
    "totals — the classic fabricated-data / broken-upstream detector "
    "for financial measures: a feed that starts emitting constants, "
    "truncated values, or synthetic fill shifts the leading-digit "
    "distribution long before volume or freshness gates notice. Per "
    "digit 1-9: observed count and share, the Benford expectation "
    "log10(1+1/d), the Pearson chi-square contribution, and a per-digit "
    "drift flag at the 95% critical value; a digit-0 row carries the "
    "aggregate 8-dof Pearson statistic against its own 95% critical "
    "value (15.507...), catching mild drift spread thinly across all "
    "nine digits that stays below every per-digit threshold. The total "
    "is one fixed-order formula over the pivoted per-digit counts — "
    "never a double sum() over rows, whose accumulation order is "
    "engine-dependent. Exact-integer core (cents "
    "via the s19 canonicalization; digit from the bigint's string "
    "rendering, which is engine-stable), expected shares embedded as "
    "repr'd Python constants (libm log10 is not identically rounded "
    "across engines), all derived doubles one shared formula string — "
    "full value oracle despite the statistics. At 100 TB: one "
    "map-side-combined count by 9 keys, a 9-row broadcast of the "
    "total, zero row-proportional exchange; TPC-H uniform prices are "
    "deliberately non-Benford, so the fixture exercises the DETECT "
    "path (several digits flag) deterministically.",
    tags=("pipeline", "quality"),
)
def benford_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    digits = orders.select(
        F.expr(
            "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
            " AS STRING), 1, 1) AS INT)"
        ).alias("digit")
    )
    agg = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    piv = agg.agg(
        *[
            F.expr(
                f"CAST(sum(CASE WHEN digit = {d} THEN n ELSE 0 END)"
                f" AS BIGINT)"
            ).alias(f"b{d}")
            for d in range(1, 10)
        ]
    )
    pd_row = piv.select(
        F.expr(f"CAST({_DQ11_TOTAL_EXPR} AS BIGINT)").alias("total"),
        *[
            F.expr(f"CAST(b{d} AS DOUBLE)").alias(f"c{d}")
            for d in range(1, 10)
        ],
        F.expr(f"CAST({_DQ11_TOTAL_EXPR} AS DOUBLE)").alias("td"),
    )
    d = agg.crossJoin(F.broadcast(pd_row.select("total", "td"))).select(
        "digit",
        "n",
        F.col("n").cast("double").alias("nd"),
        "td",
    )
    per_digit = d.select(
        "digit",
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(F.col("nd") / F.col("td"), 6).alias("share"),
        F.expr(_DQ11_EXPECTED).alias("expected_share"),
        F.round(F.expr(_DQ11_CHI2), 6).alias("chi2_term"),
        F.expr(f"{_DQ11_CHI2} >= {_DQ11_CRIT}").alias("digit_drift"),
    )
    overall = pd_row.select(
        *[F.expr(e).alias(n) for n, e in _DQ11_TOTAL_ROW.items()]
    )
    return per_digit.unionByName(overall)


# s19: anti-entropy checksum audit between two replicas of a table.
# The reference's pipeline produces a daily full snapshot on one system
# and loads it into another (src/bak_unload.ps1:90-103) with no check
# that the two sides still agree; this is the audit that scales: each
# side folds every row into a per-bucket (count, XOR-of-row-hash)
# pair — order-independent, merge-by-xor, one map-side aggregate —
# and only the buckets are exchanged and compared. The row hash is
# the PORTABLE md5-prefix bigint (the l2f/a3b hash family: md5 of a
# canonical row string, first 12 hex nibbles parsed with instr — no
# engine-private hash), so a Spark cluster can audit a snapshot
# checksummed by DuckDB, SQL Server, or any SQL engine.
_S19_BUCKETS = 64
_S19_DEL_MOD = 997  # replica is missing these keys (lost rows)
_S19_UPD_MOD = 1499  # replica drifted on these keys (changed values)


def _s19_canon(price_expr: str) -> str:
    # Numeric fields enter the canonical string as exact integers
    # (cents), never as float-to-string renderings, which differ
    # across engines.
    return (
        "concat_ws('|', CAST(o_orderkey AS STRING), "
        f"CAST(CAST(round(({price_expr}) * 100) AS BIGINT) AS STRING), "
        "o_orderstatus, o_orderpriority, "
        "CAST(year(o_orderdate) AS STRING))"
    )


_S19_REPL_PRICE = (
    f"CASE WHEN o_orderkey % {_S19_UPD_MOD} = 0 "
    "THEN o_totalprice + 1.0 ELSE o_totalprice END"
)
# First 12 hex nibbles of md5(canon) as a 48-bit bigint. The oracle
# carries the engine-NEUTRAL rendering (12 instr terms — any SQL
# engine can run it; the explicit BIGINT cast matters in Spark ANSI
# mode, where small weight literals parse as INT and nibble*INT would
# overflow 32 bits); the Spark side uses its native base-16 conv(),
# which parses the same prefix to the same integer at half the wall
# (0.68 s -> 0.43 s at sf0.1, checksums verified identical) — exact
# integer equality, not float tolerance, licenses the two forms.
_S19_HV = " + ".join(
    f"CAST(instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1"
    f" AS BIGINT) * {16 ** (11 - i)}"
    for i in range(12)
)
_S19_HV_SPARK = "CAST(conv(substring(h, 1, 12), 16, 10) AS BIGINT)"
# Second checksum: SUM of the row hashes folded mod 2^61-1 (a Mersenne
# prime), alongside the XOR. XOR alone cancels identical
# even-multiplicity divergences within a bucket; the (xor, sum) pair
# only misses a divergence whose multiset delta cancels in BOTH folds
# simultaneously. The sum accumulates in DECIMAL(38,0) — hv < 2^48, so
# BIGINT would overflow past ~2^15 rows per bucket, while 38 digits
# carry ~3e23 rows of headroom per bucket (any table, any scale); the
# final mod + CAST lands the exchanged value back in BIGINT. One shared
# string, evaluated by both engines — exact integer equality end to end.
_S19_SUM = (
    "CAST(sum(CAST(hv AS DECIMAL(38,0))) % 2305843009213693951 AS BIGINT)"
)


def _s19_side(canon: str, where: str) -> str:
    return f"""(
      SELECT bucket, count(*) AS n, bit_xor(hv) AS x, {_S19_SUM} AS s
      FROM (
        SELECT o_orderkey % {_S19_BUCKETS} AS bucket, {_S19_HV} AS hv
        FROM (SELECT o_orderkey, md5({canon}) AS h FROM orders{where})
      )
      GROUP BY bucket
    )"""


_S19_ORACLE = f"""
    WITH p AS {_s19_side(_s19_canon("o_totalprice"), "")},
    r AS {_s19_side(
        _s19_canon(_S19_REPL_PRICE),
        f" WHERE o_orderkey % {_S19_DEL_MOD} <> 0",
    )}
    SELECT coalesce(p.bucket, r.bucket) AS bucket,
           CAST(coalesce(p.n, 0) AS BIGINT) AS n_primary,
           CAST(coalesce(r.n, 0) AS BIGINT) AS n_replica,
           CAST(coalesce(p.x, 0) AS BIGINT) AS checksum_primary,
           CAST(coalesce(r.x, 0) AS BIGINT) AS checksum_replica,
           CAST(coalesce(p.s, 0) AS BIGINT) AS hashsum_primary,
           CAST(coalesce(r.s, 0) AS BIGINT) AS hashsum_replica,
           CASE WHEN coalesce(p.n, 0) <> coalesce(r.n, 0)
                THEN 'row_count_drift'
                ELSE 'content_drift' END AS status
    FROM p FULL JOIN r ON p.bucket = r.bucket
    WHERE p.n IS DISTINCT FROM r.n OR p.x IS DISTINCT FROM r.x
       OR p.s IS DISTINCT FROM r.s
    ORDER BY bucket
    """


@register(
    "s19_replica_checksum_audit",
    oracle=_S19_ORACLE,
    doc="S19: merkle-style anti-entropy audit — locate where two "
    "replicas of a table diverge by exchanging per-bucket checksums "
    "instead of rows. Each side computes, in ONE map-side aggregate, "
    "(count, bit_xor, mod-2^61-1 sum of a portable row hash) per key "
    "bucket; buckets "
    "whose triples disagree are reported with a drift class "
    "(row_count_drift vs content_drift). The fixture plants both "
    "divergence shapes deterministically: the replica is missing "
    "every 997th order and carries a +$1 price drift on every 1499th. "
    "Row hash = first 48 bits of md5 over a canonical row string "
    "(numerics as exact cents, never float rendering) — the l2f/a3b "
    "engine-neutral hash family, so either side of the audit can be "
    "computed by ANY SQL engine and compared byte-for-byte; XOR makes "
    "the fold order-independent and incrementally maintainable "
    "(applying a row delta re-xors one value). At 100 TB: the scan "
    "is embarrassingly parallel with partial aggregation, the "
    "exchange is #buckets rows (KBs for any table), and repair "
    "re-reads ONLY the diverging buckets — the audit never moves the "
    "table. Twin of r16 (row-level diff): r16 answers WHAT changed, "
    "s19 answers WHERE, 6 orders of magnitude cheaper. The xor fold "
    "alone cancels identical even-multiplicity divergences within a "
    "bucket; the second, additive fold (sum of hashes mod 2^61-1) "
    "closes that blind spot for one extra agg expression — a miss now "
    "needs a multiset delta that cancels in xor AND sums to 0 mod a "
    "Mersenne prime simultaneously. Both folds stay order-independent "
    "and incrementally maintainable (a row delta re-xors one value "
    "and adds one signed residue).",
    tags=("lifecycle",),
)
def replica_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    primary = orders.select(
        "o_orderkey", F.expr(f"md5({_s19_canon('o_totalprice')})").alias("h")
    )
    replica = orders.filter(
        F.expr(f"o_orderkey % {_S19_DEL_MOD} <> 0")
    ).select(
        "o_orderkey",
        F.expr(f"md5({_s19_canon(_S19_REPL_PRICE)})").alias("h"),
    )

    def side(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.expr(f"o_orderkey % {_S19_BUCKETS}").alias("bucket"),
                F.expr(_S19_HV_SPARK).alias("hv"),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(hv)").alias("x"),
                F.expr(_S19_SUM).alias("s"),
            )
        )

    p = side(primary).alias("p")
    r = side(replica).alias("r")
    joined = p.join(r, F.col("p.bucket") == F.col("r.bucket"), "full_outer")
    return (
        joined.filter(
            ~F.col("p.n").eqNullSafe(F.col("r.n"))
            | ~F.col("p.x").eqNullSafe(F.col("r.x"))
            | ~F.col("p.s").eqNullSafe(F.col("r.s"))
        )
        .select(
            F.coalesce("p.bucket", "r.bucket").alias("bucket"),
            F.coalesce("p.n", F.lit(0)).cast("bigint").alias("n_primary"),
            F.coalesce("r.n", F.lit(0)).cast("bigint").alias("n_replica"),
            F.coalesce("p.x", F.lit(0))
            .cast("bigint")
            .alias("checksum_primary"),
            F.coalesce("r.x", F.lit(0))
            .cast("bigint")
            .alias("checksum_replica"),
            F.coalesce("p.s", F.lit(0))
            .cast("bigint")
            .alias("hashsum_primary"),
            F.coalesce("r.s", F.lit(0))
            .cast("bigint")
            .alias("hashsum_replica"),
            F.when(
                F.coalesce("p.n", F.lit(0)) != F.coalesce("r.n", F.lit(0)),
                F.lit("row_count_drift"),
            )
            .otherwise(F.lit("content_drift"))
            .alias("status"),
        )
    )


_S20_DIVERGED = f"""(
      SELECT coalesce(p.bucket, r.bucket) AS bucket
      FROM {{p}} p FULL JOIN {{r}} r ON p.bucket = r.bucket
      WHERE p.n IS DISTINCT FROM r.n OR p.x IS DISTINCT FROM r.x
         OR p.s IS DISTINCT FROM r.s
    )"""


@register(
    "s20_bucket_scoped_repair",
    oracle=f"""
    WITH prim AS (
      SELECT o_orderkey,
             o_orderkey % {_S19_BUCKETS} AS bucket,
             md5({_s19_canon("o_totalprice")}) AS h
      FROM orders
    ),
    repl AS (
      SELECT o_orderkey,
             o_orderkey % {_S19_BUCKETS} AS bucket,
             md5({_s19_canon(_S19_REPL_PRICE)}) AS h
      FROM orders WHERE o_orderkey % {_S19_DEL_MOD} <> 0
    ),
    pagg AS (SELECT bucket, count(*) AS n, bit_xor(hv) AS x,
                    {_S19_SUM} AS s
             FROM (SELECT bucket, {_S19_HV} AS hv FROM prim)
             GROUP BY bucket),
    ragg AS (SELECT bucket, count(*) AS n, bit_xor(hv) AS x,
                    {_S19_SUM} AS s
             FROM (SELECT bucket, {_S19_HV} AS hv FROM repl)
             GROUP BY bucket),
    diverged AS {_S20_DIVERGED.format(p="pagg", r="ragg")}
    SELECT coalesce(p.o_orderkey, r.o_orderkey) AS o_orderkey,
           coalesce(p.bucket, r.bucket) AS bucket,
           CASE WHEN r.o_orderkey IS NULL THEN 'missing_in_replica'
                WHEN p.o_orderkey IS NULL THEN 'missing_in_primary'
                ELSE 'value_drift' END AS status
    FROM (SELECT prim.* FROM prim
          JOIN diverged ON prim.bucket = diverged.bucket) p
    FULL JOIN (SELECT repl.* FROM repl
               JOIN diverged ON repl.bucket = diverged.bucket) r
      ON p.o_orderkey = r.o_orderkey
    WHERE p.o_orderkey IS NULL OR r.o_orderkey IS NULL OR p.h <> r.h
    ORDER BY o_orderkey
    """,
    doc="S20: bucket-scoped repair — the row-level drill-down s19's "
    "audit points at: re-read ONLY the buckets whose checksums "
    "disagreed, full-outer-join the two sides on the key within that "
    "slice, and emit each divergent row with its repair class "
    "(missing_in_replica / missing_in_primary / value_drift). The "
    "two-phase economics are the point at 100 TB: phase 1 (s19) "
    "exchanges #buckets checksum rows; phase 2 scans only the flagged "
    "buckets — with replicas PARTITIONED by the audit bucket (the s4 "
    "layout) the re-read is partition-pruned to the damage, so repair "
    "cost tracks the divergence volume, not the table. The diverged "
    "bucket list is joined as a broadcast semi-filter (cluster-side, "
    "never collected), and the row join shuffles only flagged-bucket "
    "rows. r16 is the full-table row diff; s19+s20 is the same answer "
    "at checksum prices when divergence is sparse — which is what "
    "anti-entropy assumes.",
    tags=("lifecycle",),
)
def bucket_scoped_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def rows(price_expr: str, where: str | None) -> DataFrame:
        df = orders.filter(F.expr(where)) if where else orders
        return df.select(
            "o_orderkey",
            F.expr(f"o_orderkey % {_S19_BUCKETS}").alias("bucket"),
            F.expr(f"md5({_s19_canon(price_expr)})").alias("h"),
        )

    prim = rows("o_totalprice", None)
    repl = rows(_S19_REPL_PRICE, f"o_orderkey % {_S19_DEL_MOD} <> 0")

    def agg(df: DataFrame) -> DataFrame:
        return (
            df.select("bucket", F.expr(_S19_HV_SPARK).alias("hv"))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(hv)").alias("x"),
                F.expr(_S19_SUM).alias("s"),
            )
        )

    from mric_bak_etl_spark.tables import materialize

    p, r = agg(prim).alias("p"), agg(repl).alias("r")
    # materialize (localCheckpoint) the <= _S19_BUCKETS-row bucket list:
    # it feeds TWO broadcast semi-filters, and without pinning each
    # broadcast re-executes the whole audit lineage (observed: 6 orders
    # scans in the plan instead of 4 — the l32 edge-list lesson).
    diverged = materialize(
        p.join(r, F.col("p.bucket") == F.col("r.bucket"), "full_outer")
        .filter(
            ~F.col("p.n").eqNullSafe(F.col("r.n"))
            | ~F.col("p.x").eqNullSafe(F.col("r.x"))
            | ~F.col("p.s").eqNullSafe(F.col("r.s"))
        )
        .select(F.coalesce("p.bucket", "r.bucket").alias("bucket"))
    )
    # The bucket list is at most _S19_BUCKETS rows: broadcast semi-join
    # it into BOTH sides so only flagged-bucket rows reach the row join.
    pf = prim.join(F.broadcast(diverged), "bucket", "left_semi").alias("pf")
    rf = repl.join(F.broadcast(diverged), "bucket", "left_semi").alias("rf")
    joined = pf.join(
        rf, F.col("pf.o_orderkey") == F.col("rf.o_orderkey"), "full_outer"
    )
    return (
        joined.filter(
            F.col("pf.o_orderkey").isNull()
            | F.col("rf.o_orderkey").isNull()
            | (F.col("pf.h") != F.col("rf.h"))
        )
        .select(
            F.coalesce("pf.o_orderkey", "rf.o_orderkey").alias("o_orderkey"),
            F.coalesce("pf.bucket", "rf.bucket").alias("bucket"),
            F.when(
                F.col("rf.o_orderkey").isNull(), F.lit("missing_in_replica")
            )
            .when(F.col("pf.o_orderkey").isNull(), F.lit("missing_in_primary"))
            .otherwise(F.lit("value_drift"))
            .alias("status"),
        )
    )
