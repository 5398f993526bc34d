"""Sort / limit operators (SURVEY.md §2B O1-O2).

Reference lineage: the reference sorts the blob listing descending and takes
the top entry — "latest = lexicographic max" (`src/bak_unload.ps1:44-52`).
O2 generalizes that to top-k.

Scale notes (100 TB): a global ``orderBy`` is a range-partitioned exchange
(sampled boundaries) + per-partition sort — the only correct distributed
total sort, but still a full shuffle; reserve it for final output. Top-k
(``orderBy().limit(k)``) compiles to TakeOrderedAndProject: each partition
keeps a k-row heap and only k·partitions rows ever move — no global sort at
any scale. That asymmetry is why the latest-pick in the real pipeline uses
max/limit, never a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.tables import load_table, materialize, sized_parallelism


@register(
    "o1_multikey_sort",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL ELSE o_orderpriority END
             AS priority_or_null
    FROM orders
    ORDER BY o_orderstatus DESC,
             priority_or_null ASC NULLS LAST,
             o_totalprice ASC,
             o_orderkey ASC
    """,
    doc="O1: multi-key sort, mixed asc/desc with explicit NULLS LAST — a "
    "range-partitioned total sort (sampled boundaries; no single-node "
    "bottleneck). nullif-derived column exercises null ordering.",
    tags=("sort",),
)
def multikey_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "priority_or_null", F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM"))
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "priority_or_null")
        .orderBy(
            F.col("o_orderstatus").desc(),
            F.col("priority_or_null").asc_nulls_last(),
            F.col("o_totalprice").asc(),
            F.col("o_orderkey").asc(),
        )
    )


@register(
    "o2_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
    doc="O2: top-k — TakeOrderedAndProject (per-partition k-heaps, k·P rows "
    "shuffled), the reference's top-1 latest-pick generalized. o_orderkey "
    "tiebreak keeps the row set deterministic for the oracle hash.",
    tags=("sort", "reference-fidelity"),
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


@register(
    "o3_range_partitioned_sort",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)  AS n_rows,
           round(sum(o_totalprice), 4) AS total_price,
           min(o_orderdate)          AS first_date,
           max(o_orderdate)          AS last_date
    FROM orders
    """,
    doc="O3: distributed total order — repartitionByRange(o_orderdate) + "
    "sortWithinPartitions: partition k holds only keys below partition "
    "k+1 and each is locally sorted, so the GLOBAL order exists across "
    "files without any single-node sort — how a 100 TB sorted snapshot "
    "is actually written (orderBy on unbounded output would also range-"
    "partition, but making the two steps explicit keeps the sort fused "
    "with the sink and AQE-coalescible). The oracle checks content "
    "survival; the sortedness-across-partitions property is asserted "
    "structurally in the plan suite.",
    tags=("sort", "scale"),
)
def range_partitioned_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    laid_out = o.repartitionByRange(8, "o_orderdate").sortWithinPartitions(
        "o_orderdate", "o_orderkey"
    )
    return laid_out.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


@register(
    "o4_limit_offset",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    ORDER BY o_orderdate, o_orderkey
    LIMIT 20 OFFSET 40
    """,
    doc="O4: keyset-stable pagination — ORDER BY <total order> LIMIT k "
    "OFFSET m. Spark plans CollectLimit(m+k) then drops m: cost grows "
    "with page DEPTH, which is why deep pagination at 100 TB uses "
    "keyset predicates (WHERE key > last_seen ORDER BY key LIMIT k — "
    "sargable, constant cost) — this operator exists for the shallow-"
    "page API face. The unique (date, key) sort makes every page "
    "deterministic, offset included.",
    tags=("sort",),
)
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .offset(40)
        .limit(20)
    )


def global_row_number(df: DataFrame, n: int, *keys: str) -> DataFrame:
    """``df`` plus ``rn``, its 1-based position in ``keys`` order, with
    no single-partition window: range-partition into ``n`` partitions,
    number rows locally, add each partition's prefix offset. ``keys``
    must be a total order, so the numbering does not depend on where
    the sampled range boundaries land."""
    # Pin the partitioning ONCE: the offsets branch and the ranking
    # branch must observe the SAME range boundaries — re-executing the
    # range exchange per consumer re-samples boundaries independently
    # (and AQE may re-coalesce), silently misaligning offsets with
    # local ranks. materialize (localCheckpoint; persist on a cluster)
    # freezes pid for both consumers.
    parts = materialize(
        df.repartitionByRange(n, *keys).withColumn("pid", F.spark_partition_id())
    )
    counts = parts.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    # Offsets: cumulative counts over the partition-count-sized table —
    # the single-task window here ranges over ~dozens of rows (one per
    # partition), never over data.
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    w_local = Window.partitionBy("pid").orderBy(*keys)
    return (
        parts.withColumn("local_rn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "pid")
        .withColumn("rn", (F.col("local_rn") + F.col("off")).cast("bigint"))
        .drop("pid", "local_rn", "off")
    )


@register(
    "o5_distributed_row_number",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    )
    SELECT CAST(rn AS BIGINT) AS rn, o_orderkey, o_totalprice
    FROM ranked WHERE rn % 97 = 0 ORDER BY rn
    """,
    doc="O5: GLOBAL row numbering without the single-partition window — "
    "row_number() OVER (ORDER BY ...) with no PARTITION BY funnels "
    "100 TB through ONE task (the canonical window anti-pattern); the "
    "distributed form is: range-partition on the sort key, number "
    "rows LOCALLY per partition, and add each partition's prefix "
    "offset (cumulative count of earlier partitions). The offsets "
    "table has one row PER PARTITION — cluster-sized, not data-sized "
    "— so its tiny ordering window and broadcast back are free; and "
    "because the sort key is a total order, the global numbering is "
    "INVARIANT to where the range boundaries land, which is what "
    "makes the result deterministic under sampled partitioning. "
    "Every-97th-row projection keeps the checked output small while "
    "pinning ranks across the whole range.",
    tags=("sort", "scale"),
)
def distributed_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    n = sized_parallelism(sf_dir, "orders")
    ranked = global_row_number(o, n, "o_orderdate", "o_orderkey")
    return ranked.select("rn", "o_orderkey", "o_totalprice").filter(
        F.col("rn") % 97 == 0
    )


@register(
    "o6_keyset_pagination",
    oracle="""
    SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
           o_totalprice
    FROM orders
    ORDER BY o_orderdate, o_orderkey
    LIMIT 50 OFFSET 100
    """,
    doc="O6: keyset (seek) pagination — the scale-safe page fetch: "
    "OFFSET n must produce and discard n rows on every request "
    "(page 10,000 of a 100 TB result re-sorts and skips half a "
    "million rows), while the keyset form remembers the last row of "
    "the previous page and fetches WHERE (date, key) > "
    "(last_date, last_key) ORDER BY ... LIMIT page — a pushed-down "
    "range predicate plus a top-k, O(page) per request at any depth "
    "(TakeOrderedAndProject over a pruned scan). The boundary tuple "
    "is the ONLY state and it lives with the caller, not the engine — "
    "which is also why the sort key must be a TOTAL order (the "
    "o_orderkey tiebreak): a non-unique keyset silently skips or "
    "repeats rows at page boundaries. The oracle fetches the same "
    "page via OFFSET — equality proves the seek predicate lands on "
    "exactly the OFFSET semantics it replaces.",
    tags=("sort", "scale"),
)
def keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    # The caller's cursor: last row of page 2 (rows 1-100). Fetched once
    # here to make the entry self-contained; a real API carries it in
    # the page token. One tiny top-k job, not a full sort.
    boundary = (
        o.orderBy("o_orderdate", "o_orderkey")
        .limit(100)
        .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(1)
        .collect()[0]
    )
    bd, bk = boundary["o_orderdate"], boundary["o_orderkey"]
    page = (
        o.filter(
            (F.col("o_orderdate") > F.lit(bd))
            | (
                (F.col("o_orderdate") == F.lit(bd))
                & (F.col("o_orderkey") > F.lit(bk))
            )
        )
        .orderBy("o_orderdate", "o_orderkey")
        .limit(50)
    )
    return page.select(
        "o_orderkey",
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
        "o_totalprice",
    )
