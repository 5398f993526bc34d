"""Window-function operators (SURVEY.md §2B W1-W3).

Scale notes (100 TB): every window below partitions by a key before ordering
— a per-key shuffle + in-partition sort, which scales as long as no single
key's rows overflow an executor (our keys: customer ~10s of orders, user
~100s of events, returnflag is the widest at ~1/3 of lineitem — for a
genuinely hot key at 100 TB, pre-aggregate or split the frame by a salt
then merge). An ORDER BY without PARTITION BY would pull everything into
one task — never used here. Frames are rows-based and bounded except the
running total, which Spark evaluates incrementally (no O(n²) re-scan).

Every ORDER BY carries a unique tiebreak column so rank/lag/frame results
are deterministic for the value-hash oracle (SURVEY §7 risk #4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.tables import load_table


@register(
    "w1_ranking",
    oracle="""
    SELECT *
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER w AS BIGINT) AS rn,
             CAST(rank()       OVER w AS BIGINT) AS rnk,
             CAST(dense_rank() OVER w AS BIGINT) AS drnk,
             CAST(ntile(4)     OVER w AS BIGINT) AS quartile
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    )
    WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
    doc="W1: row_number/rank/dense_rank/ntile per customer — the canonical "
    "top-N-per-group; one shuffle on o_custkey shared by all four "
    "functions (same window spec → one sort).",
    tags=("window",),
)
def ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "w2_lag_lead",
    oracle="""
    SELECT event_id, user_id, ts, value,
           lag(value)  OVER w                        AS prev_value,
           lead(value) OVER w                        AS next_value,
           first_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                                                     AS first_value_in_user,
           round(value - coalesce(lag(value) OVER w, value), 4) AS delta
    FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ORDER BY user_id, ts, event_id
    """,
    doc="W2: lag/lead/first_value per user over event time — per-key "
    "sessionized analytics; the unbounded first_value frame is evaluated "
    "in the same single sort pass.",
    tags=("window",),
)
def lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.lag("value").over(w).alias("prev_value"),
            F.lead("value").over(w).alias("next_value"),
            F.first("value").over(wfull).alias("first_value_in_user"),
            F.round(
                F.col("value") - F.coalesce(F.lag("value").over(w), F.col("value")), 4
            ).alias("delta"),
        )
    )


@register(
    "w3_frames",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_shipdate,
           round(sum(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_qty,
           round(avg(l_extendedprice) OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4)
             AS moving_avg_price
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag, year(l_shipdate)
                 ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey,
                          l_suppkey)
    ORDER BY l_returnflag, l_shipdate, l_orderkey, l_linenumber
    """,
    doc="W3: frame specs — running total (unbounded preceding) and 4-row "
    "moving average, per (returnflag, ship-year); incremental frame "
    "evaluation, one sort per partition key. The composite key is the "
    "hot-window-key mitigation: returnflag alone has 3 values, so 1/3 of "
    "the table would sort in ONE task at any scale — restarting the frame "
    "on a natural sub-key (year) is how running totals stay parallel at "
    "100 TB. No global output sort: that would range-partition the full "
    "result for presentation only (o1 demonstrates global sort).",
    tags=("window",),
)
def frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data; the
    # window ORDER BY must be a total order or ROWS-frame results are
    # tie-order-dependent. The FULL 5-column key (shipdate, orderkey,
    # linenumber, partkey, suppkey) is unique at sf0.001/sf0.01/sf0.1 —
    # the 4 columns without shipdate are NOT (duplicate at sf0.001), so
    # l_shipdate is load-bearing, not presentational. Guarded by
    # tests/test_plans.py::test_w3_sort_key_is_total_order so regenerated
    # fixtures fail loudly instead of going tie-order-nondeterministic.
    w = Window.partitionBy("l_returnflag", F.year("l_shipdate")).orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
    )
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_shipdate",
            F.round(
                F.sum("l_quantity").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
            ).alias("running_qty"),
            F.round(
                F.avg("l_extendedprice").over(w.rowsBetween(-3, 0)), 4
            ).alias("moving_avg_price"),
        )
    )


@register(
    "w4_range_interval_frame",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(count(*) OVER w AS BIGINT)     AS n_last_hour,
           round(sum(value) OVER w, 4)         AS value_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ts, event_id
    """,
    doc="W4: RANGE frame over event time — per-user trailing-1-hour count "
    "and sum, the time-based frame ROWS can't express (frame membership "
    "follows the ORDER BY VALUE, so ties and gaps behave correctly; "
    "rows with equal ts share a frame). Same one-sort-per-partition "
    "execution as w3; the interval bound is evaluated against the sort "
    "key, no extra pass.",
    tags=("window", "streaming"),
)
def range_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.operators.subqueries import register_views

    register_views(spark, sf_dir, only=("events",))
    # SQL form: the DataFrame API spells interval ranges awkwardly
    # (rangeBetween takes longs); windowed interval frames are exactly
    # what the SQL entry point is for.
    return spark.sql(
        """
        SELECT event_id, user_id, ts,
               CAST(count(*) OVER w AS BIGINT)     AS n_last_hour,
               round(sum(value) OVER w, 4)         AS value_last_hour
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """
    )


@register(
    "w5_forward_fill",
    oracle="""
    WITH sparse AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id, user_id, ts, v,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
    FROM sparse
    ORDER BY user_id, ts, event_id
    """,
    doc="W5: forward fill (last-observation-carried-forward) — "
    "last_value IGNORE NULLS over an unbounded-preceding frame per user: "
    "the gap-filling primitive for sparse sensor/metric streams and the "
    "carry-forward inside the as-of join (j6). One sort per user "
    "partition, incremental frame evaluation; leading nulls stay null "
    "(nothing observed yet) on both engines.",
    tags=("window",),
)
def forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sparse = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 3 == 0, None).otherwise(F.col("value")).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return sparse.select(
        "event_id",
        "user_id",
        "ts",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
    )


@register(
    "w6_distribution",
    oracle="""
    SELECT c_custkey, c_nationkey,
           floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
           floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cdist,
           nth_value(c_name, 2) OVER (
             PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_poorest
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    ORDER BY c_nationkey, c_custkey
    """,
    doc="W6: distribution window functions — percent_rank / cume_dist "
    "(relative position within the partition) and nth_value with an "
    "explicit unbounded ROWS frame (the default running frame would make "
    "the first row's nth_value NULL). All three share ONE sort+shuffle on "
    "(c_nationkey, c_acctbal, c_custkey); the tiebreak key makes tie "
    "ranks deterministic across engines. Rounding is spelled as "
    "floor(x*1e6 + 0.5)/1e6 — identical IEEE ops both engines — because "
    "k/n hits exact decimal halves (333/640 at sf0.1) where Spark's "
    "BigDecimal HALF_UP and DuckDB's double-path round() disagree.",
    tags=("windows",),
)
def distribution_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_nationkey",
        (F.floor(F.percent_rank().over(w) * 1000000 + 0.5) / 1000000).alias(
            "pct_rank"
        ),
        (F.floor(F.cume_dist().over(w) * 1000000 + 0.5) / 1000000).alias("cdist"),
        F.nth_value("c_name", 2).over(w_full).alias("second_poorest"),
    )


@register(
    "w7_running_distinct",
    oracle="""
    WITH first_touch AS (
      SELECT event_type, user_id,
             min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS first_day
      FROM events GROUP BY event_type, user_id
    ),
    daily_new AS (
      SELECT event_type, first_day AS day, count(*) AS n_new
      FROM first_touch GROUP BY event_type, first_day
    )
    SELECT event_type, day,
           CAST(n_new AS BIGINT) AS n_new_users,
           CAST(sum(n_new) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_distinct_users
    FROM daily_new
    ORDER BY event_type, day
    """,
    doc="W7: running distinct count — COUNT(DISTINCT) OVER is unsupported "
    "in both engines' windows, and the naive per-day re-distinct is "
    "quadratic; the scalable identity is first-touch + running sum: a "
    "user adds to the cumulative distinct count exactly on their first "
    "day. One agg to user grain, one tiny agg to day grain, one window "
    "over days — the events table is never windowed directly, so state "
    "is users-sized then days-sized, never events-sized.",
    tags=("windows", "distinct"),
)
def running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id", "ts")
    first_touch = ev.groupBy("event_type", "user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    daily_new = first_touch.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily_new.select(
        "event_type",
        "day",
        F.col("n_new").cast("bigint").alias("n_new_users"),
        F.sum("n_new").over(w).cast("bigint").alias("cum_distinct_users"),
    )


@register(
    "w8_interpolation",
    oracle="""
    WITH sparse AS (
      SELECT event_id, user_id, ts::TIMESTAMP AS ts,
             epoch_us(ts::TIMESTAMP) AS t_us,
             CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
      FROM events
    ),
    bounded AS (
      SELECT event_id, user_id, v,
             last_value(v IGNORE NULLS) OVER w_prev  AS v_prev,
             last_value(CASE WHEN v IS NOT NULL THEN t_us END IGNORE NULLS)
               OVER w_prev                            AS t_prev,
             first_value(v IGNORE NULLS) OVER w_next AS v_next,
             first_value(CASE WHEN v IS NOT NULL THEN t_us END IGNORE NULLS)
               OVER w_next                            AS t_next,
             t_us
      FROM sparse
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id, v,
           round(CASE
             WHEN v_prev IS NULL THEN v_next
             WHEN v_next IS NULL THEN v_prev
             WHEN t_next = t_prev THEN v_prev
             ELSE v_prev + (v_next - v_prev)
                  * (t_us - t_prev) / (t_next - t_prev)
           END, 4) AS v_interp
    FROM bounded
    ORDER BY user_id, event_id
    """,
    doc="W8: linear gap interpolation — the time-WEIGHTED completion of "
    "w5's LOCF: a missing reading is reconstructed from the previous "
    "and next observed values, weighted by where the gap row sits in "
    "time between them (sensor streams, metric downsampling repair, "
    "financial curve building). Two mirrored frames per user — last "
    "IGNORE NULLS over the preceding rows, first IGNORE NULLS over "
    "the following — carry (value, epoch-µs) pairs; the interpolation "
    "itself is pure row-local arithmetic. Observed rows fall out "
    "unchanged (fraction 0), leading/trailing gaps degrade to "
    "BOCF/LOCF, all-null keys stay null. ONE shuffle on user_id, both "
    "frames evaluated in the same sorted pass — the second frame "
    "direction costs a window re-scan, not a second exchange.",
    tags=("window",),
)
def interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sparse = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.when(F.col("event_id") % 3 == 0, None).otherwise(F.col("value")).alias("v"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    t_known = F.when(F.col("v").isNotNull(), F.col("t_us"))
    bounded = sparse.select(
        "event_id",
        "user_id",
        "v",
        "t_us",
        F.last("v", ignorenulls=True).over(w_prev).alias("v_prev"),
        F.last(t_known, ignorenulls=True).over(w_prev).alias("t_prev"),
        F.first("v", ignorenulls=True).over(w_next).alias("v_next"),
        F.first(t_known, ignorenulls=True).over(w_next).alias("t_next"),
    )
    interp = (
        F.when(F.col("v_prev").isNull(), F.col("v_next"))
        .when(F.col("v_next").isNull(), F.col("v_prev"))
        .when(F.col("t_next") == F.col("t_prev"), F.col("v_prev"))
        .otherwise(
            F.col("v_prev")
            + (F.col("v_next") - F.col("v_prev"))
            * (F.col("t_us") - F.col("t_prev"))
            / (F.col("t_next") - F.col("t_prev"))
        )
    )
    return bounded.select(
        "event_id", "user_id", "v", F.round(interp, 4).alias("v_interp")
    )


@register(
    "w9_rolling_regression",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority,
             CAST(o_orderdate AS DATE) AS day,
             sum(o_totalprice)         AS revenue
      FROM orders
      WHERE o_orderdate >= DATE '1997-01-01'
        AND o_orderdate <  DATE '1997-03-01'
      GROUP BY o_orderpriority, day
    ),
    idx AS (
      SELECT o_orderpriority, day, revenue,
             datediff('day', DATE '1997-01-01', day) AS day_idx
      FROM daily
    )
    SELECT o_orderpriority,
           CAST(day AS VARCHAR) AS day,
           round(revenue, 4)    AS revenue,
           round(regr_slope(revenue, day_idx) OVER (
                   PARTITION BY o_orderpriority ORDER BY day_idx
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
                 ), 4)          AS slope_7d,
           CAST(count(*) OVER (
                  PARTITION BY o_orderpriority ORDER BY day_idx
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
                ) AS BIGINT)    AS n_days_in_frame
    FROM idx
    ORDER BY o_orderpriority, day
    """,
    doc="W9: rolling regression — regr_slope as a FRAMED window "
    "aggregate: the 7-day rolling revenue trend per priority class, "
    "the windowed form of a22's whole-table regression aggregates and "
    "the standard trend-detection primitive (a sustained negative "
    "slope is dq2's volume alert with direction and magnitude). The "
    "statistical aggregate rides the same incremental frame machinery "
    "as sum/avg — one shuffle on the partition key, daily grain "
    "pre-aggregated first so frames slide over days, never raw "
    "orders. Frame width rides ROWS (6 PRECEDING), so early days "
    "regress over shorter windows — n_days_in_frame makes that "
    "visible instead of silently mixing window widths.",
    tags=("windows",),
)
def rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-03-01")
    )
    daily = o.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    idx = daily.withColumn(
        "day_idx", F.datediff("day", F.lit("1997-01-01").cast("date"))
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day_idx")
        .rowsBetween(-6, 0)
    )
    return (
        idx.select(
            "o_orderpriority",
            F.col("day").cast("string").alias("day"),
            F.round("revenue", 4).alias("revenue"),
            F.round(
                F.expr("regr_slope(revenue, day_idx)").over(w), 4
            ).alias("slope_7d"),
            F.count(F.lit(1)).over(w).cast("bigint").alias(
                "n_days_in_frame"
            ),
        )
    )


@register(
    "w10_distributed_running_total",
    oracle="""
    WITH rt AS (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_shipdate,
             sum(l_quantity) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey,
                        l_suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS rq
      FROM lineitem
    )
    SELECT l_returnflag, l_orderkey, l_linenumber, l_shipdate,
           round(rq, 4) AS running_qty
    FROM rt WHERE l_orderkey % 97 = 0
    ORDER BY l_returnflag, l_shipdate, l_orderkey, l_linenumber
    """,
    doc="W10: running total over a COARSE key (returnflag: 3 values) "
    "without the hot-window funnel — the scalable form of the boundary "
    "SCALE.md measured on w3 (its returnflag×year key caps sort "
    "parallelism at ~21 tasks; at 100× one task sorts ~3M rows). "
    "o5's two-phase prefix trick applied to a running SUM, with one "
    "refinement o5 cannot use: the split key is a DETERMINISTIC "
    "CALENDAR BUCKET (ship-month) computed from each row, not a "
    "sampled range partition — the order columns start with "
    "l_shipdate, so month-cells concatenate in exactly the global "
    "order, and because every row derives its own cell there is "
    "nothing to pin: no sampling pass, no data-sized materialize (the "
    "first w10 draft paid a full localCheckpoint of the fact table "
    "just to freeze sampled boundaries — measurably SLOWER than w3's "
    "funnel at 100×; the calendar form has exactly w3's single "
    "data-sized exchange). Phase 1: running sums LOCALLY per "
    "(key, month) — ~250 cells, any cluster's parallelism. Phase 2: "
    "per-cell totals → prefix offsets over EARLIER months of the same "
    "key (a window over ~cells rows, never data) → broadcast back and "
    "add. Values are exact: l_quantity is integral, so float "
    "association across the two phases cannot drift. The month grain "
    "is the parallelism dial — day for a 1000-executor cluster, year "
    "for a laptop — changing ONLY the cell count, never the result "
    "(reference parity: src/bak_unload.ps1 has no analytics; this "
    "extends SURVEY §2B W3 to the 1000-executor regime).",
    tags=("window", "scale"),
)
def distributed_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_shipdate",
        "l_partkey", "l_suppkey", "l_quantity",
    )
    order_cols = [
        "l_shipdate", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    ]
    # Deterministic split cell: monotone in the leading order column, so
    # cells tile the per-key order into contiguous runs by construction.
    cells = li.withColumn(
        "mkey", F.year("l_shipdate") * 12 + F.month("l_shipdate")
    )
    # Per-(key, cell) totals -> prefix offsets over EARLIER cells of the
    # same key. One row per cell: the window below orders ~hundreds of
    # rows, never data. The aggregate shares the window's (key, cell)
    # exchange via ReuseExchange.
    cell_totals = cells.groupBy("l_returnflag", "mkey").agg(
        F.sum("l_quantity").alias("cell_qty")
    )
    w_off = (
        Window.partitionBy("l_returnflag")
        .orderBy("mkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = cell_totals.select(
        "l_returnflag",
        "mkey",
        F.coalesce(F.sum("cell_qty").over(w_off), F.lit(0.0)).alias("off"),
    )
    w_local = Window.partitionBy("l_returnflag", "mkey").orderBy(*order_cols)
    return (
        cells.withColumn(
            "local_rq",
            F.sum("l_quantity").over(
                w_local.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .join(F.broadcast(offsets), ["l_returnflag", "mkey"])
        .filter(F.col("l_orderkey") % 97 == 0)
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            "l_shipdate",
            F.round(F.col("local_rq") + F.col("off"), 4).alias("running_qty"),
        )
    )
