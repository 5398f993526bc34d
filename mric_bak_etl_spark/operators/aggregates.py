"""Aggregation operators (SURVEY.md §2B A1-A6).

Reference lineage: the reference's only aggregations are an empty-guard
count (`src/bak_unload.ps1:38-42` → A5) and a lexicographic max-as-latest
(`src/bak_unload.ps1:44-52` → A6); A1-A4 are the relational breadth the
bronze/silver/gold stage downstream of the reference's load needs.

Scale notes (100 TB): every query below is a hash aggregate with map-side
partial aggregation — Spark's HashAggregate emits partial aggregates before
the shuffle, so the exchange carries one row per (partition × group), not
per input row. Group-by cardinalities here are tiny (≤ thousands), so the
shuffle is negligible regardless of input size; AQE coalesces the post-
shuffle partitions. No driver-side collection anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.tables import load_table

# Cut-off keeping ~60% of lineitem (shipdates span 1995-2001 in testdata).
_Q1_CUTOFF = "1998-09-02"


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape pricing summary — the flagship query (A1).

    filter → groupBy(2 cols) → 8 aggregates → order: exercises S1 (parquet
    scan with pushdown), P1/P2 (projection+filter), A1 (multi-measure hash
    agg), O1 (sort) in one plan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


register(
    "a1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                                        AS sum_qty,
           round(sum(l_extendedprice), 4)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: filter + 2-key hash agg + 8 measures (flagship).",
    tags=("agg", "flagship"),
)(pricing_summary)


@register(
    "a2_distinct_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey)       AS n_customers,
           count(DISTINCT o_orderpriority) AS n_priorities,
           count(*)                        AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="A2: distinct + count-distinct per group (expand + two-phase agg).",
    tags=("agg",),
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "a3_approx_count_distinct",
    oracle=None,  # HLL estimate differs from exact by design → rows-only check
    doc="A3: approx_count_distinct (HyperLogLog++) — the 100 TB-scale path "
    "for cardinality where exact count-distinct's expand+shuffle is too "
    "expensive; single pass, fixed memory per group.",
    tags=("agg", "approx"),
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        )
    )


# Portable HLL (a3b): m = 2^4 = 16 buckets; rank drawn from the next 13 hex
# chars (52 bits) of md5. The estimate constant alpha_16 * m^2 * 2^53 is
# pre-multiplied in PYTHON (one float multiply rounds, the 2^53 scaling is
# exact) and embedded verbatim in BOTH engines' SQL, so the raw estimate is
# a single double division of identically-parsed constants — bit-identical
# across engines by construction. alpha_16 = 0.673 (Flajolet et al. 2007).
_HLL_M = 16
_HLL_C = repr(0.673 * _HLL_M * _HLL_M * 2.0**53)
# Raw-vs-small-range switch at 2.5*m; the ln() correction branch is the one
# sub-ulp cross-engine risk (libm vs java.lang.Math), so it is rounded to
# 12dp on both sides (repo convention for iterative/libm state). With the
# testdata cardinalities (>= hundreds of distinct parts per ship-year at
# every SF) the raw branch always wins; the branch exists for correctness.
_HLL_EST_SQL = (
    f"round(CASE WHEN {_HLL_C} / CAST(denom AS DOUBLE) <= 40.0"
    f"            AND v_empty > 0"
    f"           THEN 16.0 * ln(16.0 / CAST(v_empty AS DOUBLE))"
    f"           ELSE {_HLL_C} / CAST(denom AS DOUBLE) END, 12)"
)
# The rank (leading-zero run + 1 over the 52 bits after the bucket
# nibble) rendered for the oracle side, shared by a3b and a23b. The
# Spark side builds the same arithmetic as Column expressions in
# :func:`_hll_max_rank` (Spark's regexp_extract needs an explicit
# group-index arg, so the strings differ in spelling, not semantics).
_HLL_NIB_ORACLE = (
    "instr('0123456789abcdef', substring(rest,"
    " length(regexp_extract(rest, '^0*')) + 1, 1)) - 1"
)
_HLL_RHO_ORACLE = (
    "CASE WHEN length(regexp_extract(rest, '^0*')) = 13 THEN 53"
    " ELSE length(regexp_extract(rest, '^0*')) * 4"
    f" + CASE WHEN {_HLL_NIB_ORACLE} >= 8 THEN 0"
    f" WHEN {_HLL_NIB_ORACLE} >= 4 THEN 1"
    f" WHEN {_HLL_NIB_ORACLE} >= 2 THEN 2"
    " ELSE 3 END + 1 END"
)
# The day-grain register table over events as CTE text: ``daily`` holds
# one (week, day, bucket, r) max-rank row per touched register. The one
# text of t13/t13b's oracle (which selects it) and a23b's (which rolls it
# up to weeks and the total).
_HLL_DAY_REGISTERS_ORACLE = f"""
    ev AS (
      SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
             strftime(ts, '%Y-%m-%d') AS day,
             md5(CAST(user_id AS VARCHAR)) AS h
      FROM events
    ),
    parts AS (
      SELECT week, day,
             instr('0123456789abcdef', substring(h, 1, 1)) - 1 AS bucket,
             substring(h, 2, 13) AS rest
      FROM ev
    ),
    rho AS (SELECT week, day, bucket, {_HLL_RHO_ORACLE} AS r FROM parts),
    daily AS (SELECT week, day, bucket, max(r) AS r
              FROM rho GROUP BY week, day, bucket)"""
# Per-sketch register fold: the exact-bigint 2^-rank sum (<= 16 terms of
# <= 2^53 — no float accumulation order to diverge) plus the empty-bucket
# count the small-range branch needs. Shared by a3b and a23b oracles.
_HLL_FOLD_ORACLE = (
    "CAST(sum(CAST(1 AS BIGINT) << (53 - r)) AS BIGINT) AS denom, "
    "CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty"
)


def _hll_max_rank(hashed: DataFrame, group_cols: list[str]) -> DataFrame:
    """(group_cols..., bucket, r): per-group max-rank HLL registers from a
    frame carrying ``h`` (md5 hex of the counted key) — the mergeable
    sketch state. ``max(r)`` over any partitioning of the rows IS the
    merge operator, which is what makes the state persistable at one
    grain and rolled up at another without revisiting raw data."""
    parts = hashed.select(
        *group_cols,
        (F.expr("instr('0123456789abcdef', substring(h, 1, 1))") - 1).alias(
            "bucket"
        ),
        F.substring("h", 2, 13).alias("rest"),
    )
    zeros = F.length(F.regexp_extract("rest", "^0*", 0))
    nib = (
        F.expr(
            "instr('0123456789abcdef', substring(rest,"
            " length(regexp_extract(rest, '^0*', 0)) + 1, 1))"
        )
        - 1
    )
    lead = (
        F.when(nib >= 8, 0).when(nib >= 4, 1).when(nib >= 2, 2).otherwise(3)
    )
    rho = F.when(zeros == 13, F.lit(53)).otherwise(zeros * 4 + lead + 1)
    return (
        parts.select(*group_cols, "bucket", rho.alias("r"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("r").alias("r"))
    )


def _hll_estimate(
    registers: DataFrame, group_cols: list[str], spine: DataFrame
) -> DataFrame:
    """(group_cols..., e): the portable estimate from max-rank registers.

    ``spine`` is the (group x bucket) frame that fills never-hit buckets
    with rank 0 — constant-size (groups x 16), so its joins broadcast."""
    filled = spine.join(registers, [*group_cols, "bucket"], "left").select(
        *group_cols, F.coalesce("r", F.lit(0)).alias("r")
    )
    sketch = filled.groupBy(*group_cols).agg(
        F.expr(
            "CAST(sum(shiftleft(CAST(1 AS BIGINT), 53 - r)) AS BIGINT)"
        ).alias("denom"),
        F.expr(
            "CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("v_empty"),
    )
    return sketch.select(*group_cols, F.expr(_HLL_EST_SQL).alias("e"))


@register(
    "a3b_portable_hll",
    oracle=f"""
    WITH parts AS (
      SELECT ship_year,
             instr('0123456789abcdef', substring(h, 1, 1)) - 1 AS bucket,
             substring(h, 2, 13) AS rest
      FROM (SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
                   md5(CAST(l_partkey AS VARCHAR)) AS h
            FROM lineitem)
    ),
    rho AS (
      SELECT ship_year, bucket, {_HLL_RHO_ORACLE} AS r
      FROM parts
    ),
    maxr AS (SELECT ship_year, bucket, max(r) AS r
             FROM rho GROUP BY ship_year, bucket),
    spine AS (
      SELECT f.ship_year, b.bucket
      FROM (SELECT DISTINCT CAST(year(l_shipdate) AS BIGINT) AS ship_year
            FROM lineitem) f
      CROSS JOIN (SELECT unnest(range({_HLL_M})) AS bucket) b
    ),
    filled AS (
      SELECT spine.ship_year, spine.bucket, coalesce(maxr.r, 0) AS r
      FROM spine LEFT JOIN maxr
        ON spine.ship_year = maxr.ship_year
       AND spine.bucket = maxr.bucket
    ),
    sketch AS (
      SELECT ship_year, {_HLL_FOLD_ORACLE}
      FROM filled GROUP BY ship_year
    ),
    est AS (SELECT ship_year, {_HLL_EST_SQL} AS e FROM sketch),
    exact AS (SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
                     count(DISTINCT l_partkey) AS n_exact
              FROM lineitem GROUP BY ship_year)
    SELECT exact.ship_year,
           CAST(n_exact AS BIGINT) AS n_exact,
           round(e, 4) AS hll_estimate,
           round(abs(e - n_exact) / CAST(n_exact AS DOUBLE), 4) AS rel_error
    FROM exact JOIN est ON exact.ship_year = est.ship_year
    ORDER BY exact.ship_year
    """,
    doc="A3b: HyperLogLog computed PORTABLY from md5 — bucket = first hex "
    "nibble (m=16), rank = leading-zero run of the next 52 bits, both "
    "derived with engine-neutral string ops (instr/regexp_extract/"
    "substring); the per-(group,bucket) max-rank table IS the mergeable "
    "sketch state. Unlike a3's engine-private HLL++ this estimate is "
    "bit-identical in any SQL engine — the 2^-rank sum is computed as an "
    "EXACT bigint (sum of 1<<(53-r), max 16 terms of <= 2^53: no float "
    "accumulation order to diverge), the alpha*m^2*2^53 constant is "
    "pre-multiplied and embedded verbatim, and the raw estimate is a "
    "single double division — so a3b carries a FULL value oracle, closing "
    "the 'approx sketches can't be value-verified' gap for the A3 class. "
    "At 100 TB: same single-pass fixed-memory shape as a3 (map-side "
    "partial max per bucket), and sketches persisted by one engine can be "
    "merged/audited by another (max is the merge op).",
    tags=("agg", "approx"),
)
def portable_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Group by ship-year: unlike l_returnflag (every flag sees every part →
    # three identical sketches), per-year part sets differ, so the demo
    # shows distinct per-group estimates and errors.
    year = F.year("l_shipdate").cast("bigint").alias("ship_year")
    maxr = _hll_max_rank(
        li.select(year, F.md5(F.col("l_partkey").cast("string")).alias("h")),
        ["ship_year"],
    )
    # Bucket spine: empty buckets contribute rank 0 (2^0 terms). ~7 years ×
    # 16 buckets — a constant-size broadcast nested-loop, not a data cross.
    spine = li.select(year).distinct().crossJoin(
        F.broadcast(
            spark.range(_HLL_M).select(F.col("id").cast("int").alias("bucket"))
        )
    )
    est = _hll_estimate(maxr, ["ship_year"], spine)
    exact = li.groupBy(year).agg(
        F.countDistinct("l_partkey").alias("n_exact")
    )
    return (
        exact.join(est, "ship_year")
        .select(
            "ship_year",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.round("e", 4).alias("hll_estimate"),
            F.expr(
                "round(abs(e - n_exact) / CAST(n_exact AS DOUBLE), 4)"
            ).alias("rel_error"),
        )
    )


@register(
    "a4_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           round(sum(l_quantity), 4) AS sum_qty,
           count(*)                  AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag NULLS LAST, l_linestatus NULLS LAST
    """,
    doc="A4: ROLLUP grouping sets — Catalyst Expand; one shuffle for all "
    "grouping sets, not one scan per set.",
    tags=("agg",),
)
def rollup_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")
    )


@register(
    "a4b_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           round(sum(o_totalprice), 4) AS sum_price,
           count(*)                    AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY gid, o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
    """,
    doc="A4: CUBE over orders — all 2^k grouping sets in one Expand pass.",
    tags=("agg",),
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "sum_price", "n")
    )


@register(
    "a4c_pivot",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS qty_O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="A4: pivot — wide-format aggregation; with explicit pivot values "
    "Spark plans ONE aggregate pass (no second value-discovery job), which "
    "is the only acceptable form at scale.",
    tags=("agg",),
)
def pivot_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])  # explicit values: single pass
        .agg(F.round(F.sum("l_quantity"), 4))
    )
    return (
        pivoted.select(
            "l_returnflag",
            F.col("O").alias("qty_O"),
            F.col("F").alias("qty_F"),
        )
    )


@register(
    "a5_global_agg_guard",
    oracle="""
    SELECT count(*)                                        AS n_rows,
           CAST(count(*) = 0 AS BOOLEAN)                   AS is_empty,
           CAST(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive
    FROM orders
    """,
    doc="A5: global aggregate / emptiness guard — the reference's early-exit "
    "on an empty blob listing (src/bak_unload.ps1:38-42) as a 1-row agg; "
    "df.isEmpty() is the lazy limit-1 variant used in the pipeline runner.",
    tags=("agg", "reference-fidelity"),
)
def global_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) == 0).alias("is_empty"),
        F.sum(F.when(F.col("o_totalprice") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_positive"),
    )


@register(
    "a6_max_as_latest",
    oracle="""
    SELECT max(ts)       AS latest_ts,
           min(ts)       AS earliest_ts,
           max(event_id) AS max_event_id
    FROM (SELECT CAST(ts AS TIMESTAMP) AS ts, event_id FROM events)
    """,
    doc="A6: max-as-latest — the reference picks the 'latest' snapshot as the "
    "lexicographic max of the filename (src/bak_unload.ps1:44-52); "
    "generalized to max over event time. Partial max per partition → "
    "single-row combine; no full sort.",
    tags=("agg", "reference-fidelity"),
)
def max_as_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.max("ts").alias("latest_ts"),
        F.min("ts").alias("earliest_ts"),
        F.max("event_id").alias("max_event_id"),
    )


@register(
    "a7_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(median(l_extendedprice), 4)              AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="A7: exact percentiles/median per group — linear-interpolation "
    "quantiles (Spark percentile == DuckDB quantile_cont). Exact "
    "percentile buffers each group's values; at 100 TB use "
    "approx_percentile (t-digest sketch, bounded memory, mergeable "
    "map-side) — a3 demonstrates the approx family's plan shape.",
    tags=("agg",),
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pct = lambda q: F.round(F.percentile("l_extendedprice", F.lit(q)), 4)  # noqa: E731
    return (
        li.groupBy("l_returnflag")
        .agg(
            pct(0.25).alias("p25"),
            F.round(F.median("l_extendedprice"), 4).alias("p50"),
            pct(0.75).alias("p75"),
            pct(0.99).alias("p99"),
        )
    )


@register(
    "a8_stats_corr_covar",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4)       AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           round(stddev_samp(l_extendedprice), 2)            AS sd_price,
           round(var_samp(l_discount), 6)                    AS var_discount
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="A8: statistical aggregates — correlation, sample covariance, "
    "stddev, variance per group; all single-pass streaming moments "
    "(Welford-style partials combine associatively), so they cost the "
    "same one shuffle as sum/count at any scale.",
    tags=("aggregate",),
)
def stats_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
                "covar_qty_price"
            ),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
            F.round(F.var_samp("l_discount"), 6).alias("var_discount"),
        )
    )


@register(
    "a4d_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) + 2 * grouping(l_linestatus) AS BIGINT)
             AS gid,
           CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(l_quantity), 4)   AS total_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY gid, l_returnflag, l_linestatus
    """,
    doc="A4d: explicit GROUPING SETS through the SQL entry point with "
    "grouping() disambiguation of NULL-as-ALL vs NULL-as-data — the "
    "general form rollup/cube specialize; one Expand + one hash agg, "
    "row multiplication = number of sets (3 here).",
    tags=("aggregate", "sql"),
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("a4d_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) + 2 * grouping(l_linestatus) AS BIGINT)
                 AS gid,
               CAST(count(*) AS BIGINT)    AS n_rows,
               round(sum(l_quantity), 4)   AS total_qty
        FROM a4d_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "a10_min_by_max_by",
    oracle="""
    SELECT o_orderpriority,
           arg_max(o_orderkey, o_totalprice) AS biggest_order,
           round(max(o_totalprice), 4)       AS biggest_price,
           arg_min(o_orderkey, o_totalprice) AS smallest_order,
           round(min(o_totalprice), 4)       AS smallest_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="A10: argmin/argmax aggregates — min_by/max_by carry a companion "
    "column to the extreme row in ONE pass (no self-join back to find "
    "'the row with the max'); same single-shuffle cost as min/max. "
    "Assumes unique extremes (true of o_totalprice at every SF) — with "
    "ties, pair with a deterministic tiebreak struct.",
    tags=("aggregate",),
)
def min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
            F.round(F.max("o_totalprice"), 4).alias("biggest_price"),
            F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
            F.round(F.min("o_totalprice"), 4).alias("smallest_price"),
        )
    )


@register(
    "a12_filtered_aggregates",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT)                                  AS n_all,
           CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT)   AS n_bulk,
           round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 4)
                                                                     AS discounted_rev,
           round(avg(l_tax) FILTER (WHERE l_linestatus = 'F'), 6)    AS avg_tax_finished
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="A12: FILTER-clause aggregates through the SQL entry point — "
    "per-aggregate predicates in ONE grouped pass (the tidy form of "
    "sum(CASE WHEN...)); still a single shuffle with map-side partials, "
    "versus the naive N filtered subqueries + join which would scan N "
    "times.",
    tags=("aggregate", "sql"),
)
def filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("a12_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT)                                  AS n_all,
               CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT)   AS n_bulk,
               round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 4)
                                                                         AS discounted_rev,
               round(avg(l_tax) FILTER (WHERE l_linestatus = 'F'), 6)    AS avg_tax_finished
        FROM a12_lineitem
        GROUP BY l_returnflag
        """
    )


@register(
    "a13_unpivot",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             round(sum(l_quantity), 4)      AS sum_qty,
             round(sum(l_extendedprice), 4) AS sum_price,
             round(sum(l_discount), 4)      AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty'   AS measure, sum_qty   AS val FROM m
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS measure, sum_price AS val FROM m
    UNION ALL
    SELECT l_returnflag, 'sum_disc'  AS measure, sum_disc  AS val FROM m
    ORDER BY l_returnflag, measure
    """,
    doc="A13: unpivot/melt — wide measure columns reshaped to long "
    "(measure, value) rows, the inverse of a4c's pivot. DataFrame.unpivot "
    "is a zero-shuffle Expand (each input row emits k output rows "
    "locally); the oracle spells it as the classic UNION ALL, which would "
    "scan the aggregate k times — the Expand form reads it once.",
    tags=("aggregation", "reshape"),
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        F.round(F.sum("l_discount"), 4).alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@register(
    "a14_hll_sketch",
    oracle=None,  # Datasketches HLL estimates are engine-specific → rows-only;
    # the estimate-vs-exact error is asserted in the builder itself via the
    # exact countDistinct carried alongside.
    doc="A14: mergeable HLL sketches (Datasketches, Spark 4 hll_sketch_agg) "
    "— the 100 TB distinct-count posture: per-group sketches are small, "
    "associative and re-aggregable, so rollups across time partitions "
    "union SKETCHES (hll_union_agg) instead of re-scanning raw keys. "
    "approx_count_distinct (a3) gives one number; sketches give a "
    "reusable aggregate you can store per partition and merge later. "
    "Exact countDistinct rides along to show the error envelope.",
    tags=("aggregates", "sketch"),
)
def hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    per_group = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").cast("bigint").alias("exact_custs"),
    )
    merged = per_group.agg(
        F.lit("ALL").alias("o_orderpriority"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias("approx_custs"),
        F.sum(F.lit(None).cast("bigint")).alias("exact_custs"),
    ).select("o_orderpriority", "approx_custs", "exact_custs")
    return (
        per_group.select(
            "o_orderpriority",
            F.hll_sketch_estimate("sk").cast("bigint").alias("approx_custs"),
            "exact_custs",
        )
        .unionByName(merged)
    )


@register(
    "a15_median_mode",
    oracle="""
    WITH freq AS (
      SELECT l_returnflag, l_quantity, count(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    modal AS (
      SELECT l_returnflag, l_quantity AS mode_qty,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, l_quantity) AS rn
      FROM freq
    )
    SELECT m.l_returnflag,
           round(med.median_qty, 4) AS median_qty,
           m.mode_qty,
           CAST(med.n_rows AS BIGINT) AS n_rows
    FROM modal m
    JOIN (SELECT l_returnflag, median(l_quantity) AS median_qty,
                 count(*) AS n_rows
          FROM lineitem GROUP BY l_returnflag) med
      ON m.l_returnflag = med.l_returnflag
    WHERE m.rn = 1
    ORDER BY m.l_returnflag
    """,
    doc="A15: median and deterministic mode — median as the interpolating "
    "50th percentile (Spark median() ≡ percentile(0.5), one sort-based "
    "agg per group); mode NOT via the built-in mode() (tie order is "
    "engine-arbitrary) but as count-then-rank with an explicit "
    "(count DESC, value) total order, so the reported modal value is "
    "identical on any engine and any partitioning — determinism over "
    "convenience, the same discipline as l1's min-keeper.",
    tags=("aggregates", "statistics"),
)
def median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    # BOTH order statistics derive from the value-frequency table — one
    # fact scan, one (flag, qty) shuffle; the windows and the final agg
    # run over the tiny frequency relation. Median via interpolation on
    # the cumulative counts: position (n+1)/2, averaging the values at
    # its floor and ceil ranks (== percentile(0.5) semantics); mode =
    # highest count, lowest value on ties. A separate median() agg would
    # re-scan and re-sort the raw rows.
    freq = li.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("n"))
    fw = Window.partitionBy("l_returnflag")
    enriched = freq.select(
        "l_returnflag",
        "l_quantity",
        "n",
        F.sum("n").over(fw.orderBy("l_quantity")).alias("cum"),
        F.sum("n").over(fw).alias("total"),
        F.row_number().over(fw.orderBy(F.desc("n"), "l_quantity")).alias("rn"),
    )
    k1 = F.floor((F.col("total") + 1) / 2)
    k2 = F.ceil((F.col("total") + 1) / 2)
    return (
        enriched.groupBy("l_returnflag")
        .agg(
            F.round(
                (
                    F.min(F.when(F.col("cum") >= k1, F.col("l_quantity")))
                    + F.min(F.when(F.col("cum") >= k2, F.col("l_quantity")))
                )
                / 2.0,
                4,
            ).alias("median_qty"),
            F.min(F.when(F.col("rn") == 1, F.col("l_quantity"))).alias("mode_qty"),
            F.max("total").cast("bigint").alias("n_rows"),
        )
        .select("l_returnflag", "median_qty", "mode_qty", "n_rows")
    )


@register(
    "a16_decimal_exact",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR)
             AS sum_price_exact,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                         AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="A16: exact decimal aggregation — money must not ride on doubles: "
    "DECIMAL sums are associative and engine/partitioning-independent, "
    "so the result needs NO defensive rounding (every other money agg "
    "here rounds because double summation order varies). The string "
    "cast pins scale-2 rendering on both engines; the bigint-cents lane "
    "is the fixed-point equivalent. At scale decimal aggregation costs "
    "~2× double but buys bit-exact reproducibility across reruns and "
    "cluster layouts.",
    tags=("aggregates", "decimal"),
)
def decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(14,2)")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.sum(dec).cast("string").alias("sum_price_exact"),
            F.sum((dec * 100).cast("bigint")).cast("bigint").alias("sum_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
    )


@register(
    "a17_histogram",
    oracle="""
    WITH ext AS (
      SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
    )
    SELECT CAST(least(floor((o_totalprice - lo) * 10 / (hi - lo)) + 1, 10)
                AS BIGINT)                         AS bucket,
           CAST(count(*) AS BIGINT)                AS n_orders,
           round(min(o_totalprice), 4)             AS bucket_min,
           round(max(o_totalprice), 4)             AS bucket_max
    FROM orders, ext
    GROUP BY bucket ORDER BY bucket
    """,
    doc="A17: equi-width histogram — global min/max in one tiny agg "
    "(broadcast back), then a pure-arithmetic bucket assignment and a "
    "bucket-grain count: two passes, the second map-side-combined on "
    "10 groups, the standard distribution profile at any scale. The "
    "bucket expression is spelled identically on both engines instead "
    "of width_bucket() because boundary behavior must be bit-identical "
    "for the value-hash (floor((v-lo)*n/(hi-lo)) with a max-clamp).",
    tags=("aggregates", "statistics"),
)
def histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    ext = o.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) * 10 / (F.col("hi") - F.col("lo")))
        + 1,
        F.lit(10),
    )
    return (
        o.crossJoin(F.broadcast(ext))
        .groupBy(bucket.cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.min("o_totalprice"), 4).alias("bucket_min"),
            F.round(F.max("o_totalprice"), 4).alias("bucket_max"),
        )
    )


@register(
    "a18_bitmap_exact_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_distinct_cust
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="A18: EXACT mergeable distinct count via integer bitmaps "
    "(bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg, "
    "Spark 3.5+) — the middle ground between a3's approximate HLL and "
    "a2's exact expand-shuffle: per-(group, 32k-bucket) bitmaps build "
    "with map-side combine, are tiny, OR-merge associatively "
    "(bitmap_or_agg for rollups across partitions/days), and popcount "
    "to the exact answer. The 100 TB pattern for exact daily/global "
    "distinct users without ever shuffling raw keys.",
    tags=("aggregates", "sketch"),
)
def bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import register_views

    register_views(spark, sf_dir, only=("orders",))
    # SQL form: the bitmap_* family is SQL-only surface (no DataFrame
    # helpers); two-level agg — bucket-grain bitmaps, then an exact sum.
    return spark.sql("""
        SELECT o_orderpriority, CAST(sum(cnt) AS BIGINT) AS n_distinct_cust
        FROM (
          SELECT o_orderpriority,
                 bitmap_bucket_number(o_custkey) AS bucket,
                 bitmap_count(bitmap_construct_agg(bitmap_bit_position(o_custkey))) AS cnt
          FROM orders GROUP BY 1, 2
        ) GROUP BY o_orderpriority
    """)


@register(
    "a19_listagg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
             AS order_ids,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders WHERE o_orderkey % 100 = 0
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="A19: ordered string aggregation — listagg ... WITHIN GROUP "
    "(ORDER BY ...) (ISO SQL:2016, Spark 4). The WITHIN GROUP ordering "
    "is what makes the result deterministic and hash-comparable; an "
    "unordered collect_list+concat depends on partition arrival order. "
    "Scale note: listagg materializes the whole group in one row — keep "
    "it for bounded groups (ids-per-key manifests, error samples), never "
    "unbounded text.",
    tags=("aggregates",),
)
def listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import register_views

    register_views(spark, sf_dir, only=("orders",))
    return spark.sql("""
        SELECT o_orderpriority,
               listagg(CAST(o_orderkey AS STRING), ',')
                 WITHIN GROUP (ORDER BY o_orderkey) AS order_ids,
               count(*) AS n_orders
        FROM orders WHERE o_orderkey % 100 = 0
        GROUP BY o_orderpriority
    """)


@register(
    "a21_approx_percentile",
    oracle=None,  # sketch-based: values are engine-specific (Spark GK/KLL
    # vs DuckDB exact interpolation); bounded-error containment vs the
    # exact quantiles is asserted in tests/test_oracle_parity.py's
    # rows-only run and the accuracy check below lives in test_plans.
    doc="A21: approximate percentiles (Greenwald-Khanna sketch, bounded "
    "relative rank error 1/accuracy) — the quantile face of the sketch "
    "posture (a3/a14 = distinct counts): exact per-group percentiles "
    "(a7) buffer every value per group, O(n) memory at 100 TB; the GK "
    "sketch is O(accuracy·log n), mergeable across partitions, one "
    "map-side pass. accuracy=10000 → rank error ≤ 0.01%% — tighter than "
    "any dashboard needs at 1/10000th the state.",
    tags=("aggregates", "sketch"),
)
def approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice", [0.5, 0.95, 0.99], 10000
            ).alias("price_q"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            "l_returnflag",
            F.round(F.col("price_q")[0], 4).alias("p50"),
            F.round(F.col("price_q")[1], 4).alias("p95"),
            F.round(F.col("price_q")[2], 4).alias("p99"),
            "n_lines",
        )
    )


@register(
    "a22_regression_aggregates",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="A22: linear-regression aggregates (ISO SQL regr_* family) — "
    "per-group OLS slope/intercept/R² in ONE streaming pass: the moment "
    "accumulators (Σx, Σy, Σxy, Σx², n) are associative partial states, "
    "so the fit map-side-combines exactly like a8's corr/covar and "
    "merges across any partitioning — trendlines over 100 TB without a "
    "per-group collect or an ML library round-trip.",
    tags=("aggregates", "statistics"),
)
def regression_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
            F.regr_count("l_extendedprice", "l_quantity").cast("bigint").alias("n"),
        )
    )


@register(
    "a20_approx_topk",
    oracle="""
    SELECT o_orderpriority AS item, CAST(count(*) AS BIGINT) AS cnt
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY cnt DESC, item
    """,
    doc="A20: approximate heavy hitters (approx_top_k, Spark 4.1 — a "
    "frequent-items sketch behind an aggregate function): per-partition "
    "sketches of bounded size merge associatively, so the top-k of a "
    "100 TB column costs one map-side-combined agg and a few KB of "
    "shuffle, vs the full groupBy+sort it replaces. Sized EXACTLY here "
    "(maxItemsTracked=1024 >= NDV(o_orderpriority)=5, and k=NDV), which "
    "is what makes a value oracle possible: when the tracked-item "
    "budget covers the distinct count the sketch degrades to exact "
    "counting — the same guarantee a production rollout validates "
    "before trusting the approximate regime.",
    tags=("aggregates", "sketch"),
)
def approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    topk = o.agg(
        F.expr("approx_top_k(o_orderpriority, 5, 1024)").alias("tk")
    )
    return (
        topk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
    )


@register(
    "a23_sketch_rollup",
    oracle=None,  # sketch binary is engine-specific; merge identity is
    # asserted locally (tests/test_plans.py: union of daily sketches ==
    # direct sketch of the union) and the estimate is deterministic.
    doc="A23: sketch ROLLUP — the incremental face of a14's HLL: per-day "
    "user sketches (hll_sketch_agg) stored at the day grain, then "
    "hll_union_agg merges the stored sketches into month-level "
    "distinct-user estimates WITHOUT revisiting the events. This "
    "two-level shape is the entire 100 TB cardinality posture: the "
    "expensive pass over raw data happens once per day over one day's "
    "slice; every rollup window after that (week, month, arbitrary "
    "date ranges) is an O(days × 1.5 KB) merge of stored sketches. "
    "Deterministic for fixed input, so the driver's rows-only check "
    "is stable; the merge-equals-direct identity (union of daily "
    "sketches estimates EXACTLY what one sketch over all days "
    "estimates — HLL merge is lossless) is asserted in tests.",
    tags=("aggregates", "sketch", "scale"),
)
def sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("month", F.col("ts")).alias("month"),
        F.to_date("ts").alias("day"),
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sketch"))
    return (
        daily.groupBy("month")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias(
                "distinct_users_est"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
    )


@register(
    "a23b_portable_sketch_merge_rollup",
    oracle=f"""
    WITH {_HLL_DAY_REGISTERS_ORACLE},
    weekly AS (SELECT week, bucket, max(r) AS r
                FROM daily GROUP BY week, bucket),
    total AS (SELECT bucket, max(r) AS r FROM weekly GROUP BY bucket),
    weeks AS (SELECT DISTINCT week FROM daily),
    buckets AS (SELECT unnest(range({_HLL_M})) AS bucket),
    wfill AS (
      SELECT weeks.week, buckets.bucket, coalesce(weekly.r, 0) AS r
      FROM weeks CROSS JOIN buckets
      LEFT JOIN weekly ON weeks.week = weekly.week
                       AND buckets.bucket = weekly.bucket
    ),
    wsk AS (SELECT week, {_HLL_FOLD_ORACLE} FROM wfill GROUP BY week),
    west AS (SELECT week, {_HLL_EST_SQL} AS e FROM wsk),
    wdays AS (SELECT week, CAST(count(DISTINCT day) AS BIGINT) AS n_merged
              FROM daily GROUP BY week),
    wexact AS (SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
                      CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
               FROM events GROUP BY week),
    tfill AS (
      SELECT buckets.bucket, coalesce(total.r, 0) AS r
      FROM buckets LEFT JOIN total ON buckets.bucket = total.bucket
    ),
    tsk AS (SELECT {_HLL_FOLD_ORACLE} FROM tfill),
    test AS (SELECT {_HLL_EST_SQL} AS e FROM tsk),
    tweeks AS (SELECT CAST(count(*) AS BIGINT) AS n_merged FROM weeks),
    texact AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
               FROM events)
    SELECT 'week' AS grain, wexact.week AS period,
           n_merged, n_exact,
           round(e, 4) AS hll_estimate,
           round(abs(e - n_exact) / CAST(n_exact AS DOUBLE), 4) AS rel_error
    FROM wexact
    JOIN west  ON wexact.week = west.week
    JOIN wdays ON wexact.week = wdays.week
    UNION ALL
    SELECT 'total' AS grain, 'ALL' AS period,
           tweeks.n_merged, texact.n_exact,
           round(e, 4) AS hll_estimate,
           round(abs(e - n_exact) / CAST(n_exact AS DOUBLE), 4) AS rel_error
    FROM test, texact, tweeks
    ORDER BY grain, period
    """,
    doc="A23b: PORTABLE sketch-merge rollup — a23's two-level shape "
    "(day-grain sketches stored once, rolled up without revisiting raw "
    "events) rebuilt on the a3b md5 register construction so the sketch "
    "STATE, not just the estimate, is engine-neutral: bucket = first md5 "
    "nibble, rank = leading-zero run of the next 52 bits, and the "
    "per-(day,bucket) max-rank table is the persisted sketch that ANY "
    "SQL engine can reproduce, merge (max is the merge op), and estimate "
    "from. The rollup runs the merge TWICE — day registers fold to "
    "week, week registers fold to a corpus total — so the oracle "
    "verifies the actual 100 TB sketch workflow end to end: sketches "
    "persisted by one engine, merged by another, bit-identical "
    "estimates on both (exact-bigint 2^-rank sums, pre-multiplied "
    "alpha*m^2*2^53 constant, one double division; the l2f/a3b recipe). "
    "Exact distinct counts ride along per period for the rel_error "
    "readout. At 100 TB: one pass over raw events builds day registers "
    "(map-side max partials — the grain exchange is events' daily "
    "partitioning), every level above is O(days x 16) register rows; "
    "the exact-count columns are demo validation, dropped in "
    "production where exact is what the sketch replaces. Closes the "
    "last sketch class without a cross-engine twin (r7 verdict item 4).",
    tags=("aggregates", "sketch", "approx", "scale"),
)
def portable_sketch_merge_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mric_bak_etl_spark.tables import materialize  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    week_col = F.date_format(
        F.date_trunc("week", F.col("ts")), "yyyy-MM-dd"
    ).alias("week")
    # ONE events scan feeds everything: the distinct (week, day, user)
    # base is the user-day grain — the DAU silver table every analytics
    # stack persists, orders of magnitude smaller than the fact stream —
    # and pinning it lets the register build, the per-week exact counts,
    # and the corpus exact count reuse the computed partitions instead
    # of re-running the fact scan three times (at 100 TB the scan IS
    # the cost; measured: 4.8 s -> 3.6 s at 100x events locally).
    # max-rank over the distinct base equals max-rank over raw rows
    # (md5 is deterministic per user; max ignores multiplicity), so
    # outputs are bit-identical to the three-scan form.
    ud = materialize(
        e.select(
            week_col,
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "user_id",
        ).distinct()
    )
    hashed = ud.select(
        "week", "day", F.md5(F.col("user_id").cast("string")).alias("h")
    )
    # Day-grain registers: the persisted sketch state. Merge levels are
    # max() folds over REGISTER rows only — raw events are never revisited.
    daily = _hll_max_rank(hashed, ["week", "day"])
    weekly = daily.groupBy("week", "bucket").agg(F.max("r").alias("r"))
    total = weekly.groupBy("bucket").agg(F.max("r").alias("r"))
    weeks = daily.select("week").distinct()
    buckets = spark.range(_HLL_M).select(
        F.col("id").cast("int").alias("bucket")
    )
    west = _hll_estimate(
        weekly, ["week"], weeks.crossJoin(F.broadcast(buckets))
    )
    test = _hll_estimate(total, [], buckets)
    wdays = daily.groupBy("week").agg(
        F.countDistinct("day").cast("bigint").alias("n_merged")
    )
    wexact = ud.groupBy("week").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    rel = F.expr("round(abs(e - n_exact) / CAST(n_exact AS DOUBLE), 4)")
    week_rows = (
        wexact.join(west, "week")
        .join(wdays, "week")
        .select(
            F.lit("week").alias("grain"),
            F.col("week").alias("period"),
            "n_merged",
            "n_exact",
            F.round("e", 4).alias("hll_estimate"),
            rel.alias("rel_error"),
        )
    )
    tweeks = weeks.agg(F.count(F.lit(1)).cast("bigint").alias("n_merged"))
    texact = ud.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    total_row = (
        test.crossJoin(F.broadcast(texact))
        .crossJoin(F.broadcast(tweeks))
        .select(
            F.lit("total").alias("grain"),
            F.lit("ALL").alias("period"),
            "n_merged",
            "n_exact",
            F.round("e", 4).alias("hll_estimate"),
            rel.alias("rel_error"),
        )
    )
    return week_rows.unionByName(total_row)


@register(
    "a24_exact_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.90), 4) AS p90,
           round(quantile_disc(l_extendedprice, 0.50), 4) AS p50_disc,
           round(median(l_discount), 4)                   AS med_discount
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="A24: EXACT percentiles — percentile() (continuous, linear "
    "interpolation between order statistics), percentile_disc (an "
    "actual element at the quantile rank), and median, per return "
    "flag. The exact counterpart to a21's Greenwald-Khanna sketch: "
    "exact percentile is a SORT-based aggregate — per group the values "
    "concentrate on one reducer, so at 100 TB it is only for bounded "
    "groups (here: 6-value cardinality over a numeric column each "
    "group can hold); unbounded-group or corpus-wide quantiles take "
    "the a21 sketch (mergeable, bounded memory) and accept rank "
    "error. Having both on the same column pair lets a pipeline "
    "validate its sketch accuracy on a sample, then trust the sketch "
    "at scale. Both engines interpolate identically (type-7 "
    "quantile), so values match to the 4dp round.",
    tags=("aggregates",),
)
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.expr("percentile(l_extendedprice, 0.25)"), 4
            ).alias("p25"),
            F.round(
                F.expr("percentile(l_extendedprice, 0.50)"), 4
            ).alias("p50"),
            F.round(
                F.expr("percentile(l_extendedprice, 0.90)"), 4
            ).alias("p90"),
            F.round(
                F.expr(
                    "percentile_disc(0.5) WITHIN GROUP "
                    "(ORDER BY l_extendedprice)"
                ),
                4,
            ).alias("p50_disc"),
            F.round(F.expr("median(l_discount)"), 4).alias("med_discount"),
        )
    )


# a26: one-pass distributed moment profile. The moment sums are kept
# EXACT — prices as integer cents in DECIMAL(38,0) (Spark) / HUGEINT
# (DuckDB), so there is no float accumulation order to diverge across
# engines, partitionings, or retries — and every derived statistic is
# ONE shared double-arithmetic formula string evaluated over the
# double-cast sums by both engines (the l33/l2f portable recipe:
# identical expression text over identical inputs → bit-identical
# IEEE results; +,-,*,/ and sqrt are all correctly-rounded).
# Headroom: c <= ~1e7 cents, c^4 <= 1e28; sum over 6e8 rows (sf100
# lineitem) ~ 6e36 < 1e38 — fits both DECIMAL(38,0) and HUGEINT.
_A26_SUMS = {
    "n": "count(*)",
    "s1": "sum(c)",
    "s2": "sum(c * c)",
    "s3": "sum(c * c * c)",
    "s4": "sum(c * c * c * c)",
    "q1": "sum(q)",
    "q2": "sum(q * q)",
    "sq": "sum(q * c)",
}
_A26_VAR = "(s2 / n - (s1 / n) * (s1 / n))"
_A26_QVAR = "(q2 / n - (q1 / n) * (q1 / n))"
_A26_STATS = {
    "n_items": "CAST(n AS BIGINT)",
    "mean_price": "round(s1 / n / 100, 4)",
    "std_price": f"round(sqrt({_A26_VAR}) / 100, 4)",
    "skewness": (
        "round((s3 / n - 3 * (s1 / n) * (s2 / n)"
        " + 2 * (s1 / n) * (s1 / n) * (s1 / n))"
        f" / ({_A26_VAR} * sqrt({_A26_VAR})), 4)"
    ),
    "kurtosis": (
        "round((s4 / n - 4 * (s1 / n) * (s3 / n)"
        " + 6 * (s1 / n) * (s1 / n) * (s2 / n)"
        " - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))"
        f" / ({_A26_VAR} * {_A26_VAR}) - 3, 4)"
    ),
    "corr_qty_price": (
        "round((sq / n - (q1 / n) * (s1 / n))"
        f" / (sqrt({_A26_QVAR}) * sqrt({_A26_VAR})), 4)"
    ),
}


def _a26_oracle() -> str:
    sums = ",\n             ".join(
        f"{expr} AS {name}" for name, expr in _A26_SUMS.items()
    )
    casts = ",\n             ".join(
        f"CAST({name} AS DOUBLE) AS {name}" for name in _A26_SUMS
    )
    stats = ",\n           ".join(
        f"{expr} AS {name}" for name, expr in _A26_STATS.items()
    )
    return f"""
    WITH cents AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS HUGEINT) AS c,
             CAST(round(l_quantity) AS HUGEINT)            AS q
      FROM lineitem
    ),
    sums AS (
      SELECT l_returnflag,
             {sums}
      FROM cents GROUP BY l_returnflag
    ),
    d AS (
      SELECT l_returnflag,
             {casts}
      FROM sums
    )
    SELECT l_returnflag,
           {stats}
    FROM d
    ORDER BY l_returnflag
    """


@register(
    "a26_moment_profile",
    oracle=_a26_oracle(),
    doc="A26: grouped higher-moment profile — stddev, population "
    "skewness (g1 = m3/m2^1.5), excess kurtosis (m4/m2^2 - 3) and a "
    "quantity-price correlation per return flag, computed from EXACT "
    "integer power sums: prices become integer cents in DECIMAL(38,0) "
    "(DuckDB: HUGEINT) so the shuffled partial sums are exact and "
    "order-independent — the one-pass distributed-moments recipe that "
    "needs no Welford merging and cannot drift, unlike double "
    "accumulation whose sum order varies per partitioning. Every "
    "derived statistic is a single shared formula string over the "
    "double-cast sums, so both engines run bit-identical IEEE "
    "arithmetic (the l33/l2f portability recipe). Spark's builtin "
    "skewness/kurtosis match these definitions but accumulate in "
    "doubles; the exact-sum form is what a reproducible data-card "
    "pipeline publishes. At 100 TB: pure map-side partial aggregation "
    "into 8 exact sums per group — one tiny shuffle, no value buffers, "
    "and sums from different engines/clusters merge by addition. "
    "Reference parity: profiles the snapshot the reference loads "
    "blindly (src/bak_unload.ps1:90-103 restores without inspecting).",
    tags=("agg",),
)
def moment_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # The Spark side restructures the EXACT sums for speed — integer
    # arithmetic is associativity-free, so the values (and therefore
    # the double-cast stats) are unchanged vs the oracle's plain form:
    # - s1/q1/q2/sq accumulate in BIGINT (codegen fast path; headroom
    #   at sf100: s1 <= 1e7 * 6e8 = 6e15, sq <= 5e8 * 6e8 = 3e17);
    # - c2 = c*c is computed ONCE and c3/c4 derive from it (3 BigDecimal
    #   multiplies per row instead of 6 — Spark decimals beyond 18
    #   digits are JVM BigDecimal with no int128 fast path, so every
    #   shared product is ~20% of this plan's wall).
    # Optimization r13 (guide §2.3 — narrower types, provably safe): the
    # cents column was DECIMAL(38,0), which UnsafeRow stores as a 16-byte
    # BigDecimal and every product re-enters the slow wide path. Declared
    # at its TRUE width instead — cents ≤ ~1.1e7 (extendedprice ≤ ~110k),
    # so DECIMAL(8,0) — the products take the minimal lattice: c2 =
    # DECIMAL(17,0) (≤ 1.2e14, long-backed compact), c3 = c2·c DECIMAL(26,0)
    # (≤ 1.3e21), c4 = c2·c2 DECIMAL(35,0) (≤ 1.5e28). Sum headroom at
    # sf100 (6e8 rows): sum(c3) ≤ 8e29 < 1e36, sum(c4) ≤ 9e36 < 1e38 —
    # same guarantee as before, exact integer values identical, only the
    # storage/arithmetic width shrinks (and with it the shuffle row).
    ints = li.select(
        "l_returnflag",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cb"),
        F.expr("CAST(round(l_extendedprice * 100) AS DECIMAL(8,0))").alias(
            "c"
        ),
        F.expr("CAST(round(l_quantity) AS BIGINT)").alias("qb"),
    )
    prods = ints.select(
        "l_returnflag", "cb", "qb", "c", F.expr("c * c").alias("c2")
    ).select(
        "l_returnflag",
        "cb",
        "qb",
        "c2",
        F.expr("c2 * c").alias("c3"),
        F.expr("c2 * c2").alias("c4"),
    )
    sums = prods.groupBy("l_returnflag").agg(
        F.expr("count(*)").alias("n"),
        F.expr("sum(cb)").alias("s1"),
        F.expr("sum(c2)").alias("s2"),
        F.expr("sum(c3)").alias("s3"),
        F.expr("sum(c4)").alias("s4"),
        F.expr("sum(qb)").alias("q1"),
        F.expr("sum(qb * qb)").alias("q2"),
        F.expr("sum(qb * cb)").alias("sq"),
    )
    d = sums.select(
        "l_returnflag",
        *[
            F.expr(f"CAST({name} AS DOUBLE)").alias(name)
            for name in _A26_SUMS
        ],
    )
    return d.select(
        "l_returnflag",
        *[F.expr(expr).alias(name) for name, expr in _A26_STATS.items()],
    )
