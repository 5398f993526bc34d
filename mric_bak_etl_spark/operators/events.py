"""Event-analytics composites over the events stream: conversion funnel,
cohort retention.

These are the bronze→gold queries an event pipeline (the reference's
downstream, `README.md:5`) actually serves. Both are pure relational
compositions — sequenced conditional minima and a distinct-count lattice —
no sessionization state needed (t3 covers session windows).

Scale notes (100 TB of events): every stage below aggregates to the
user grain FIRST (per-user minima / first-event), so the expensive
relations shrink from events-sized to users-sized before any join; the
step tables then broadcast or share the user_id partitioning. Funnel
steps chain K small joins, not one K-way self-join of the raw stream.
Retention's distinct-count shuffles (cohort, week, user) pairs — already
deduped map-side — never raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.tables import load_table, materialize


@register(
    "e1_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(ts) AS t1
      FROM events e JOIN s USING (user_id)
      WHERE event_type = 'click' AND ts >= s.t0
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(ts) AS t2
      FROM events e JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND ts >= c.t1
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM c) AS n_click_after_signup,
           (SELECT count(*) FROM p) AS n_purchase_after_click
    """,
    doc="E1: conversion funnel signup→click→purchase in ONE pass: one "
    "scan, one user-grain shuffle. Per user, the agg collects the "
    "signup minimum plus the (per-user-bounded) click/purchase "
    "timestamp arrays; the ordered-step minima then fall out of array "
    "expressions (min click >= t0, min purchase >= t1) with NULL "
    "propagating 'never reached this step' — no per-step re-scan, no "
    "step-table joins. The naive chained form touches the event stream "
    "once per step (3 full scans at 100 TB) for the same answer.",
    tags=("events", "composite"),
)
def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t0"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "click", F.col("ts")))
        ).alias("clicks"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "purchase", F.col("ts")))
        ).alias("purchases"),
    )
    # t2 needs t1, so derive it in a second projection over the same row.
    stepped = per_user.select(
        "t0",
        F.array_min(F.filter("clicks", lambda x: x >= F.col("t0"))).alias("t1"),
        "purchases",
    ).select(
        "t0",
        "t1",
        F.array_min(F.filter("purchases", lambda x: x >= F.col("t1"))).alias("t2"),
    )
    return stepped.agg(
        F.count("t0").alias("n_signup"),
        F.count("t1").alias("n_click_after_signup"),
        F.count("t2").alias("n_purchase_after_click"),
    )


@register(
    "e2_cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(datediff('day', f.cohort_week,
                           date_trunc('week', e.ts)) // 7 AS BIGINT)
               AS week_offset
      FROM events e JOIN first_seen f USING (user_id)
    )
    SELECT cohort_week, week_offset,
           CAST(count(*) AS BIGINT) AS n_active_users
    FROM activity
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
    doc="E2: cohort retention — users bucketed by first-seen week, "
    "activity counted per (cohort, week-offset). first_seen is a "
    "users-grain aggregate that broadcasts back onto events; the "
    "distinct on (user, cohort, offset) dedupes map-side before the "
    "final count shuffle. The classic retention triangle, two shuffles "
    "end to end.",
    tags=("events", "composite"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    # cohort = first-seen week as a per-user window min: ONE scan and ONE
    # user_id shuffle; the aggregate-then-join-back form scans events
    # twice for the same answer.
    cohort = F.date_trunc(
        "week", F.min("ts").over(Window.partitionBy("user_id"))
    ).alias("cohort_week")
    activity = (
        ev.select(
            "user_id",
            cohort,
            "ts",
        )
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active_users"))
    )


@register(
    "e3_gaps_islands",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             sum(is_new) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
      FROM t
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM s
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    doc="E3: gaps-and-islands sessionization — the manual form of t3's "
    "session_window: a 30-minute-gap flag via lag, then a running sum "
    "turns flags into session ids, then one grouped pass per session. "
    "Both window passes and the final agg share ONE shuffle on user_id "
    "(same partition key, sort reused); event_id tiebreaks equal "
    "timestamps so island boundaries are deterministic.",
    tags=("events", "sessionization"),
)
def gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES"), 1
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("is_new").over(w).cast("bigint"))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@register(
    "e4_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type, next_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )
    SELECT event_type,
           next_type,
           CAST(n AS BIGINT) AS n_trans,
           floor(n * 1.0 / sum(n) OVER (PARTITION BY event_type)
                 * 1000000 + 0.5) / 1000000 AS p_trans
    FROM trans
    ORDER BY event_type, next_type
    """,
    doc="E4: event-transition matrix (first-order Markov chain over the "
    "event stream) — per-user next-event via lead, then a count-and-"
    "normalize into P(next | current). One shuffle on user_id for the "
    "sequence pass; the transition table is event-type² rows, so the "
    "normalizing window is over a tiny relation. event_id tiebreaks "
    "equal timestamps so successor choice is deterministic — the same "
    "total-order discipline every sequence op here uses. The probability "
    "rounds via floor(x*1e6+0.5) (identical IEEE ops both engines): k/n "
    "ratios of integers can land on exact decimal halves where round() "
    "rules diverge (the w6 lesson).",
    tags=("events", "markov"),
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("next_type", F.lead("event_type").over(w))
    trans = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wnorm = Window.partitionBy("event_type")
    return trans.select(
        "event_type",
        "next_type",
        F.col("n").cast("bigint").alias("n_trans"),
        (F.floor(F.col("n") / F.sum("n").over(wnorm) * 1000000 + 0.5) / 1000000)
        .alias("p_trans"),
    )


@register(
    "e5_rfm_segments",
    oracle="""
    WITH mx AS (SELECT max(o_orderdate) AS anchor FROM orders),
    cust AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), (SELECT anchor FROM mx))
               AS recency_days,
             count(*) AS frequency,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey,
             ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r,
             ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
             ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
      FROM cust
    )
    SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY r, f, m ORDER BY r, f, m
    """,
    doc="E5: RFM customer segmentation — recency/frequency/monetary per "
    "customer, quartiled with ntile, counted per (R,F,M) cell. The "
    "customer grain shrinks the fact table before any ranking, so the "
    "global ntile windows run over a customers-sized relation; at 100 TB "
    "the quartile boundaries would come from approx_percentile instead "
    "of a single-partition sort (same cells, no global window). Monetary "
    "is rounded to cents BEFORE ranking and o_custkey tiebreaks, so "
    "quartile assignment is identical across engines despite double "
    "summation-order differences.",
    tags=("events", "segmentation"),
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    # The recency anchor (global max order date) = max of the per-customer
    # maxima, computed as a 1-row aggregate of the customer-grain table
    # and broadcast back via cross join. Both branches fork ABOVE the
    # same groupBy exchange, so ReusedExchange aggregates the fact once;
    # an empty-partition window here would instead funnel every customer
    # row through a single task (OOM risk at 100 TB customer counts).
    grain = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    anchor = grain.agg(F.max("last_order").alias("anchor_date"))
    cust = grain.join(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff(F.col("anchor_date"), F.col("last_order")).alias("recency_days"),
        "frequency",
        "monetary",
    )
    scored = cust.select(
        F.ntile(4)
        .over(Window.orderBy("recency_days", "o_custkey"))
        .alias("r"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("frequency"), "o_custkey"))
        .alias("f"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("monetary"), "o_custkey"))
        .alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


@register(
    "e6_event_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS step2,
             lead(event_type, 2) OVER w AS step3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || step2 || '>' || step3 AS path,
           CAST(count(*) AS BIGINT)                   AS n
    FROM seq WHERE step3 IS NOT NULL
    GROUP BY path ORDER BY n DESC, path ASC LIMIT 10
    """,
    doc="E6: top event paths — per-user ordered 3-step sequences (lead x2 "
    "over one per-user sort), counted corpus-wide: the 'common journeys' "
    "view behind funnel design. ONE shuffle on user_id serves both lead "
    "offsets (same window), then a map-side-combined count on the path "
    "string and a k-heap top-10 (TakeOrderedAndProject — no global "
    "sort). Path cardinality is bounded by |event_types|^3, so the "
    "count agg stays tiny at any corpus scale; the deterministic "
    "(n DESC, path ASC) order makes top-k hash-stable.",
    tags=("events", "window"),
)
def event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    )
    return (
        seq.filter(F.col("step3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "step2", "step3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(10)
    )


@register(
    "e7_interarrival",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts) AS gap_s
      FROM events
    )
    SELECT event_type,
           CAST(count(gap_s) AS BIGINT)              AS n_gaps,
           round(avg(gap_s), 4)                      AS mean_gap_s,
           round(quantile_cont(gap_s, 0.5), 4)       AS p50_gap_s,
           round(quantile_cont(gap_s, 0.95), 4)      AS p95_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    doc="E7: inter-arrival analysis — per-user event gaps (lag over the "
    "user timeline: ONE shuffle on user_id, the same exchange every "
    "per-user window in this family reuses) distributed into per-type "
    "mean/median/p95: the latency-between-actions profile behind "
    "engagement scoring and anomaly baselines (a gap distribution "
    "shifting right IS the early churn signal). Exact quantiles here; "
    "at 100 TB swap percentile() for a21's mergeable GK sketch.",
    tags=("events", "window", "statistics"),
)
def interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.unix_timestamp(F.lag("ts").over(w).cast("timestamp"))
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.round(F.avg("gap_s"), 4).alias("mean_gap_s"),
            F.round(F.percentile("gap_s", 0.5), 4).alias("p50_gap_s"),
            F.round(F.percentile("gap_s", 0.95), 4).alias("p95_gap_s"),
        )
    )


@register(
    "e8_attribution",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts::TIMESTAMP AS pts, value
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT p.event_id, p.value, e.event_type
      FROM purchases p
      JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type <> 'purchase'
       AND e.ts::TIMESTAMP >= p.pts - INTERVAL 1 HOUR
       AND e.ts::TIMESTAMP <  p.pts
    ),
    credited AS (
      SELECT event_type,
             value / (count(*) OVER (PARTITION BY event_id)) AS credit
      FROM touches
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT)  AS n_touches,
           round(sum(credit), 4)     AS credit
    FROM credited
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="E8: multi-touch attribution (linear model) — every purchase's "
    "value split equally across the user's touch events in the "
    "preceding hour, credited to the touch's channel (event_type "
    "stands in for channel). The join is user_id-EQUI with the hour "
    "window as a residual range predicate, so Catalyst plans a hash "
    "join — never a time-only nested loop; the per-purchase touch "
    "count is a window over the already-joined touches (partitioned "
    "by purchase id: bounded fan-in, no global funnel). Purchases "
    "with zero preceding touches drop from the inner join — the "
    "'unattributed' bucket a production report tracks separately. At "
    "100 TB the user_id shuffle is the same exchange every per-user "
    "operator shares, and per-user×hour touch volumes bound the "
    "residual's fan-out.",
    tags=("events", "joins"),
)
def attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.col("value").alias("p_value"),
    )
    t = e.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_type", "ts"
    )
    touches = p.join(
        t,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("ts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("ts") < F.col("pts")),
    )
    w = Window.partitionBy("p_id")
    credited = touches.select(
        "event_type", (F.col("p_value") / F.count(F.lit(1)).over(w)).alias("credit")
    )
    return (
        credited.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(F.sum("credit"), 4).alias("credit"),
        )
    )


# e9: the funnel regex. Event-type initials are distinct by fixture
# construction (click/error/purchase/signup/view -> c/e/p/s/v), so the
# per-user event sequence compresses to one char per event and the
# pattern is a plain regex: signup, any run of click/view, purchase —
# an intervening error (or second signup) breaks the match. The
# character class excludes 'p', so greedy matching is unambiguous and
# Java regex (Spark) and RE2 (DuckDB) count identical non-overlapping
# matches.
E9_PATTERN = "s[cv]*p"


@register(
    "e9_sequence_pattern",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS s
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT)                                AS n_events,
           CAST(len(regexp_extract_all(s, '{E9_PATTERN}')) AS BIGINT)
                                                                    AS n_funnels
    FROM seq
    WHERE regexp_matches(s, '{E9_PATTERN}')
    ORDER BY user_id
    """,
    doc="E9: sequence-pattern matching (complex event processing, the "
    "MATCH_RECOGNIZE / Flink-CEP operator Spark lacks natively) — per "
    "user, count non-overlapping occurrences of signup -> (click|view)* "
    "-> purchase with nothing else intervening. The whole per-user "
    "sequence reduces to a one-char-per-event string inside ONE "
    "aggregation pass (collect_list of (ts,event_id,type) structs, "
    "array_sort = total order since event_id is unique, transform to "
    "initials, concat) and the pattern is a single regexp_count — all "
    "JVM expression work after one user-grain shuffle, no window "
    "self-joins, no Python. At 100 TB the per-user string is bounded "
    "by per-user activity; bot-grade users get segmented first (t3's "
    "session windows are the natural pre-pass) exactly as CEP engines "
    "bound match state with WITHIN clauses. Oracle: DuckDB string_agg "
    "ORDER BY + regexp_extract_all over the identical sequence string.",
    tags=("events", "composite"),
)
def sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    seq = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: F.substring(s["event_type"], 1, 1),
            ),
        ).alias("s")
    )
    return (
        seq.select(
            "user_id",
            F.length("s").cast("bigint").alias("n_events"),
            F.regexp_count("s", F.lit(E9_PATTERN)).cast("bigint").alias(
                "n_funnels"
            ),
        )
        .filter(F.col("n_funnels") >= 1)
    )


# e10: discrete-time survival analysis. Horizon = the corpus' max
# timestamp (the observation cutoff); users whose window ends before
# day k leave the risk set WITHOUT converting — right-censoring, the
# thing a naive "conversion rate by day" gets wrong.
E10_MAX_DAY = 7


@register(
    "e10_time_to_conversion",
    oracle=f"""
    WITH horizon AS (SELECT max(ts) AS h FROM events),
    u AS (
      SELECT user_id, min(ts) FILTER (WHERE event_type = 'signup') AS t0
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT e.user_id, min(e.ts) AS tc
      FROM events e JOIN u ON u.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= u.t0
      GROUP BY e.user_id
    ),
    base AS (
      SELECT u.user_id,
             CAST(datediff('day', u.t0, c.tc) AS BIGINT)      AS conv_day,
             CAST(datediff('day', u.t0, horizon.h) AS BIGINT) AS max_day
      FROM u LEFT JOIN conv c ON c.user_id = u.user_id, horizon
      WHERE u.t0 IS NOT NULL
    ),
    ks AS (SELECT unnest(range(0, {E10_MAX_DAY + 1})) AS k),
    cells AS (
      SELECT k,
             CAST(count(*) AS BIGINT) AS n_at_risk,
             CAST(sum(CASE WHEN conv_day = k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converted
      FROM ks JOIN base
        ON base.max_day >= ks.k
       AND (base.conv_day IS NULL OR base.conv_day >= ks.k)
      GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS day_k, n_at_risk, n_converted,
           round(h, 6) AS hazard,
           -- hazard = 1 (everyone at risk converts) kills survival to an
           -- exact 0 from that day on; ln() must never see it (DuckDB
           -- raises on ln(0), Spark returns NULL — either way wrong).
           CASE WHEN max(CASE WHEN h >= 1 THEN 1 ELSE 0 END)
                     OVER (ORDER BY k) = 1
                THEN 0.0
                ELSE round(exp(coalesce(
                       sum(CASE WHEN h < 1 THEN ln(1 - h) END)
                         OVER (ORDER BY k), 0.0)), 6)
           END AS survival
    FROM (SELECT k, n_at_risk, n_converted,
                 CAST(n_converted AS DOUBLE) / n_at_risk AS h
          FROM cells)
    ORDER BY day_k
    """,
    doc="E10: discrete-time survival / time-to-conversion — the "
    "Kaplan-Meier life table for signup -> purchase: per day k since "
    "signup, the risk set (users still unconverted whose observation "
    "window reaches day k), conversions at k, hazard, and cumulative "
    "survival. Right-censoring is the substance: users whose window "
    "ends (corpus horizon) before day k LEAVE the risk set instead of "
    "counting as non-converters — the error in naive day-k conversion "
    "rates. Shape: one user-grain pass builds (conv_day, max_day); "
    "the k-expansion is a bounded 8x fan-out of the USER table (never "
    "events), aggregated to 8 cells; survival is exp of a running sum "
    "of ln(1-hazard) — the cumulative PRODUCT expressed through the "
    "window frame, since neither engine has a product aggregate. Both "
    "engines compute the identical 8-term float chain; output rounds "
    "to 6dp.",
    tags=("events", "composite"),
)
def time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    # ONE events pass (the e1 lesson: never one scan per step): per user,
    # collect signup minimum, the purchase-ts array, and the user's max
    # ts in a single user-grain aggregate; the first-conversion-at-or-
    # after-signup falls out of an array expression, and the corpus
    # horizon is the max of per-user maxima — a tiny second aggregate
    # over the USER frame, not the event stream.
    users = materialize(
        ev.groupBy("user_id").agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ts"))
            ).alias("t0"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("event_type") == "purchase", F.col("ts"))
                )
            ).alias("purchases"),
            F.max("ts").alias("umax"),
        )
    )
    horizon = users.agg(F.max("umax").alias("h"))
    base = (
        users.filter(F.col("t0").isNotNull())
        .select(
            "t0",
            F.array_min(
                F.filter("purchases", lambda x: x >= F.col("t0"))
            ).alias("tc"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff(F.to_date("tc"), F.to_date("t0"))
            .cast("bigint")
            .alias("conv_day"),
            F.datediff(F.to_date("h"), F.to_date("t0"))
            .cast("bigint")
            .alias("max_day"),
        )
    )
    ks = spark.range(0, E10_MAX_DAY + 1).select(F.col("id").alias("k"))
    cells = (
        base.join(
            F.broadcast(ks),
            (F.col("max_day") >= F.col("k"))
            & (F.col("conv_day").isNull() | (F.col("conv_day") >= F.col("k"))),
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_at_risk"),
            F.sum(F.when(F.col("conv_day") == F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_converted"),
        )
    )
    hz = F.col("n_converted").cast("double") / F.col("n_at_risk")
    w = Window.orderBy("k")
    # hazard = 1 zeroes survival exactly from that day on; ln(1-h) is
    # only ever evaluated for h < 1 (mirrors the oracle's CASE guard —
    # DuckDB raises on ln(0), Spark would NULL-poison the running sum).
    dead = F.max(F.when(hz >= 1, 1).otherwise(0)).over(w)
    log_sum = F.coalesce(
        F.sum(F.when(hz < 1, F.log(1 - hz))).over(w), F.lit(0.0)
    )
    return (
        cells.select(
            F.col("k").cast("bigint").alias("day_k"),
            "n_at_risk",
            "n_converted",
            F.round(hz, 6).alias("hazard"),
            F.when(dead == 1, 0.0)
            .otherwise(F.round(F.exp(log_sum), 6))
            .alias("survival"),
        )
    )


@register(
    "e11_cohort_ltv",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    cohort_sizes AS (
      SELECT cohort_week, count(*) AS n_users
      FROM first_seen GROUP BY cohort_week
    ),
    rev AS (
      SELECT f.cohort_week,
             CAST(datediff('day', f.cohort_week,
                           date_trunc('week', e.ts)) // 7 AS BIGINT)
               AS week_offset,
             sum(e.value) AS revenue
      FROM events e
      JOIN first_seen f USING (user_id)
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT CAST(CAST(r.cohort_week AS DATE) AS VARCHAR) AS cohort_week,
           r.week_offset,
           CAST(s.n_users AS BIGINT)      AS n_users,
           round(r.revenue, 4)            AS week_revenue,
           round(sum(r.revenue) OVER (
                   PARTITION BY r.cohort_week ORDER BY r.week_offset
                 ) / s.n_users, 4)        AS cum_ltv_per_user
    FROM rev r JOIN cohort_sizes s USING (cohort_week)
    ORDER BY cohort_week, week_offset
    """,
    doc="E11: cohort lifetime-value curves — e2's retention lattice with "
    "MONEY on it: per signup cohort and week offset, purchase revenue "
    "and the running LTV per cohort member (the curve a growth team "
    "reads payback periods off). Same scale shape as e2: one user-"
    "grain first-seen aggregate, one purchase-filtered join that "
    "shrinks events to (cohort, offset) cells BEFORE any window, then "
    "a cumulative window over offset within cohort — cells are "
    "cohort x offset sized, so the window state is trivial at any "
    "corpus scale. Cohort week stringifies for the cross-engine "
    "compare (DATE-typed output breaks pandas comparison — repo "
    "convention). Division by cohort size, not active users: LTV "
    "denominators never shrink as users churn.",
    tags=("events", "composite"),
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(
                    F.to_date(F.date_trunc("week", F.col("ts"))),
                    F.to_date("cohort_week"),
                )
                .cast("bigint")
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.sum("value").alias("revenue"))
    )
    w = Window.partitionBy("cohort_week").orderBy("week_offset")
    return (
        rev.join(sizes, "cohort_week")
        .select(
            F.to_date("cohort_week").cast("string").alias("cohort_week"),
            "week_offset",
            F.col("n_users").cast("bigint").alias("n_users"),
            F.round("revenue", 4).alias("week_revenue"),
            F.round(F.sum("revenue").over(w) / F.col("n_users"), 4).alias(
                "cum_ltv_per_user"
            ),
        )
    )


@register(
    "e12_growth_accounting",
    oracle="""
    WITH activity AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ),
    horizon AS (SELECT max(wk) AS max_wk FROM activity),
    seq AS (
      SELECT user_id, wk,
             lag(wk)  OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
      FROM activity
    ),
    status AS (
      SELECT wk,
             CASE WHEN prev_wk IS NULL THEN 'new'
                  WHEN datediff('day', prev_wk, wk) = 7 THEN 'retained'
                  ELSE 'resurrected' END AS cls
      FROM seq
      UNION ALL
      SELECT wk + 7 AS wk, 'churned' AS cls
      FROM seq, horizon
      WHERE (next_wk IS NULL AND wk + 7 <= horizon.max_wk)
         OR (next_wk IS NOT NULL AND datediff('day', wk, next_wk) > 7)
    )
    SELECT CAST(wk AS VARCHAR) AS week,
           CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained,
           CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_resurrected,
           CAST(sum(CASE WHEN cls = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_churned
    FROM status
    GROUP BY wk
    ORDER BY week
    """,
    doc="E12: growth accounting — the weekly new / retained / "
    "resurrected / churned ledger (the growth-team report whose "
    "identity active(w) = new + retained + resurrected and "
    "active(w-1) = retained(w) + churned(w) makes every user-count "
    "claim auditable). One distinct pass to (user, week) grain, one "
    "user-partitioned window pass derives both lag and lead, then "
    "every user-week classifies locally: new (no prior week), "
    "retained (active exactly last week), resurrected (returned "
    "after a gap); churn events materialize in the week AFTER a gap "
    "or final disappearance, clipped to the corpus horizon so the "
    "last observed week doesn't churn everyone. Gap arithmetic uses "
    "day-diffs, not timestamp-interval equality — engines render "
    "week-truncated types differently but agree on date subtraction. "
    "At 100 TB the expensive object is the (user, week) distinct — "
    "events-sized input, user-weeks output — and everything after is "
    "user-weeks-sized.",
    tags=("events", "composite"),
)
def growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk")
    ).distinct()
    horizon = ev.agg(F.max("wk").alias("max_wk"))
    w = Window.partitionBy("user_id").orderBy("wk")
    seq = ev.select(
        "user_id",
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
        F.lead("wk").over(w).alias("next_wk"),
    )
    status = seq.select(
        "wk",
        F.when(F.col("prev_wk").isNull(), "new")
        .when(F.datediff("wk", "prev_wk") == 7, "retained")
        .otherwise("resurrected")
        .alias("cls"),
    )
    churn = (
        seq.crossJoin(F.broadcast(horizon))
        .filter(
            (
                F.col("next_wk").isNull()
                & (F.date_add("wk", 7) <= F.col("max_wk"))
            )
            | (
                F.col("next_wk").isNotNull()
                & (F.datediff("next_wk", "wk") > 7)
            )
        )
        .select(F.date_add("wk", 7).alias("wk"), F.lit("churned").alias("cls"))
    )
    return (
        status.unionByName(churn)
        .groupBy(F.col("wk").cast("string").alias("week"))
        .agg(
            F.sum(F.when(F.col("cls") == "new", 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("cls") == "retained", 1).otherwise(0))
            .cast("bigint")
            .alias("n_retained"),
            F.sum(F.when(F.col("cls") == "resurrected", 1).otherwise(0))
            .cast("bigint")
            .alias("n_resurrected"),
            F.sum(F.when(F.col("cls") == "churned", 1).otherwise(0))
            .cast("bigint")
            .alias("n_churned"),
        )
    )


# e13: deterministic A/B experiment readout. Arm assignment is the
# l15 Knuth multiplicative hash thresholded at half — pure bigint
# arithmetic, so membership is bit-identical across engines (no
# engine-private sample()). All accumulations are EXACT integers
# (event values as cents, conversions as 0/1 counts), and every
# derived statistic is one shared double-formula string evaluated by
# both engines over the double-cast sums (the l33/l2f/a26 portable
# recipe) — so even sqrt-based z-scores carry a full value oracle.
_E13_ARM = "((user_id * 2654435761) % 2147483648) < 1073741824"
_E13_PROP_Z = (
    "(ca / na - cb / nb)"
    " / sqrt(((ca + cb) / (na + nb)) * (1 - (ca + cb) / (na + nb))"
    " * (1 / na + 1 / nb))"
)
# Sample variance (Bessel-corrected, /(n-1)) as Welch's test specifies:
# population second moment times n/(n-1). Both engines evaluate the same
# string over the same double-cast sums, so parity is by construction.
# Arms with a single observation have no sample variance — the guard
# (same shared-string pattern as e14's theta varx guard) yields NULL
# z/significant instead of a division-by-zero Inf/NaN readout.
_E13_VA = (
    "(CASE WHEN na > 1 THEN"
    " (s2a / na - (s1a / na) * (s1a / na)) * (na / (na - 1))"
    " ELSE NULL END)"
)
_E13_VB = (
    "(CASE WHEN nb > 1 THEN"
    " (s2b / nb - (s1b / nb) * (s1b / nb)) * (nb / (nb - 1))"
    " ELSE NULL END)"
)
_E13_WELCH_Z = (
    f"(s1a / na - s1b / nb) / sqrt({_E13_VA} / na + {_E13_VB} / nb)"
)

_E13_USER_SUMS = {
    "na": f"sum(CASE WHEN {_E13_ARM} THEN 1 ELSE 0 END)",
    "nb": f"sum(CASE WHEN {_E13_ARM} THEN 0 ELSE 1 END)",
    "ca": f"sum(CASE WHEN {_E13_ARM} THEN converted ELSE 0 END)",
    "cb": f"sum(CASE WHEN {_E13_ARM} THEN 0 ELSE converted END)",
}
_E13_EVENT_SUMS = {
    "na": f"sum(CASE WHEN {_E13_ARM} THEN 1 ELSE 0 END)",
    "nb": f"sum(CASE WHEN {_E13_ARM} THEN 0 ELSE 1 END)",
    "s1a": f"sum(CASE WHEN {_E13_ARM} THEN vc ELSE 0 END)",
    "s1b": f"sum(CASE WHEN {_E13_ARM} THEN 0 ELSE vc END)",
    "s2a": f"sum(CASE WHEN {_E13_ARM} THEN vc * vc ELSE 0 END)",
    "s2b": f"sum(CASE WHEN {_E13_ARM} THEN 0 ELSE vc * vc END)",
}
_E13_PROP_STATS = {
    "metric": "'purchase_conversion'",
    "n_a": "CAST(na AS BIGINT)",
    "n_b": "CAST(nb AS BIGINT)",
    "mean_a": "round(ca / na, 4)",
    "mean_b": "round(cb / nb, 4)",
    "lift": "round(ca / na - cb / nb, 4)",
    "z_score": f"round({_E13_PROP_Z}, 4)",
    "significant": f"abs({_E13_PROP_Z}) >= 1.96",
}
_E13_VALUE_STATS = {
    "metric": "'avg_event_value'",
    "n_a": "CAST(na AS BIGINT)",
    "n_b": "CAST(nb AS BIGINT)",
    "mean_a": "round(s1a / na / 100, 4)",
    "mean_b": "round(s1b / nb / 100, 4)",
    "lift": "round(s1a / na / 100 - s1b / nb / 100, 4)",
    "z_score": f"round({_E13_WELCH_Z}, 4)",
    "significant": f"abs({_E13_WELCH_Z}) >= 1.96",
}


def _e13_select(stats: dict[str, str]) -> str:
    return ",\n           ".join(f"{e} AS {n}" for n, e in stats.items())


def _e13_casts(sums: dict[str, str]) -> str:
    return ", ".join(f"CAST({n} AS DOUBLE) AS {n}" for n in sums)


def _e13_oracle() -> str:
    user_sums = ",\n             ".join(
        f"{e} AS {n}" for n, e in _E13_USER_SUMS.items()
    )
    event_sums = ",\n             ".join(
        f"{e} AS {n}" for n, e in _E13_EVENT_SUMS.items()
    )
    return f"""
    WITH users AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' AND value >= 95
                      THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    usums AS (
      SELECT {user_sums}
      FROM users
    ),
    ud AS (SELECT {_e13_casts(_E13_USER_SUMS)} FROM usums),
    ev AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    esums AS (
      SELECT {event_sums}
      FROM ev
    ),
    ed AS (SELECT {_e13_casts(_E13_EVENT_SUMS)} FROM esums)
    SELECT {_e13_select(_E13_PROP_STATS)}
    FROM ud
    UNION ALL
    SELECT {_e13_select(_E13_VALUE_STATS)}
    FROM ed
    ORDER BY metric
    """


@register(
    "e13_experiment_ztest",
    oracle=_e13_oracle(),
    doc="E13: A/B experiment readout — users deterministically hashed "
    "into two arms (Knuth multiplicative hash thresholded at half, the "
    "l15 recipe: reproducible across engines and reruns, no "
    "seed-dependent sample()), then a two-proportion z-test on "
    "user-grain HIGH-VALUE purchase conversion (>= $95 — the raw "
    "purchase rate saturates at 1.0 in the fixture, which would make "
    "the pooled z 0/0) and a Welch z-test (Bessel-corrected sample "
    "variance) on event-grain "
    "mean value. Accumulations are exact integers (cents, 0/1 flags); "
    "each statistic is one shared double-formula string both engines "
    "evaluate over the double-cast sums, so the sqrt-based z-scores "
    "and the significance booleans are bit-identical (sqrt is "
    "IEEE-correctly-rounded). At 100 TB: the user-grain pass is one "
    "hash aggregate on user_id, the event-grain pass is a pure "
    "map-side conditional-sum aggregate with a single 1-row exchange — "
    "both arms accumulate in the same pass, nothing is buffered. The "
    "experiment-analytics face of the events family: e8 attributes, "
    "e10 censors, e12 accounts, e13 decides.",
    tags=("events",),
)
def experiment_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 95),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    usums = users.agg(
        *[F.expr(e).alias(n) for n, e in _E13_USER_SUMS.items()]
    )
    ud = usums.select(
        *[F.expr(f"CAST({n} AS DOUBLE)").alias(n) for n in _E13_USER_SUMS]
    )
    esums = ev.select(
        "user_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("vc"),
    ).agg(*[F.expr(e).alias(n) for n, e in _E13_EVENT_SUMS.items()])
    ed = esums.select(
        *[F.expr(f"CAST({n} AS DOUBLE)").alias(n) for n in _E13_EVENT_SUMS]
    )
    prop = ud.select(
        *[F.expr(e).alias(n) for n, e in _E13_PROP_STATS.items()]
    )
    welch = ed.select(
        *[F.expr(e).alias(n) for n, e in _E13_VALUE_STATS.items()]
    )
    return prop.unionByName(welch)


# e14: CUPED variance reduction (Deng et al., "Improving the
# Sensitivity of Online Controlled Experiments by Utilizing
# Pre-Experiment Data", WSDM 2013) on top of e13's deterministic arms.
# The pre-period covariate X is each user's total event value (cents)
# BEFORE the corpus epoch midpoint; the experiment metric Y is the
# total AFTER it. theta = cov(X,Y)/var(X) is estimated POOLED across
# arms (pre-period behavior is independent of assignment by
# construction of the hash), each user's Y is adjusted by
# theta * (X - mean(X)), and the z-test runs on the adjusted means —
# same decision machinery as e13, tighter confidence at the same n.
# Portability is the e13/a26 recipe end to end: user-grain X/Y are
# exact BIGINT cents, corpus second moments accumulate in
# DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), and every derived double
# is a shared formula string layered through named intermediate
# columns (xb, theta, ...) so both engines run bit-identical IEEE
# arithmetic over identical inputs. The epoch-midpoint cutoff is
# floor-exact on both engines (unix_timestamp == floor(epoch); the
# midpoint halving happens in doubles below 2^53).
_E14_SUMS = ("na", "nb", "sxa", "sxb", "sya", "syb",
             "sxxa", "sxxb", "syya", "syyb", "sxya", "sxyb")
# layer m: means over the double-cast arm sums
_E14_M = {
    "xb": "(sxa + sxb) / (na + nb)",
    "yb": "(sya + syb) / (na + nb)",
    "ma": "sya / na",
    "mb": "syb / nb",
    "mxa": "sxa / na",
    "mxb": "sxb / nb",
}
# layer t: pooled population moments -> theta (guarded for the
# degenerate no-pre-period-signal corpus)
_E14_T = {
    "varx": "(sxxa + sxxb) / (na + nb) - xb * xb",
    "covxy": "(sxya + sxyb) / (na + nb) - xb * yb",
}
_E14_THETA = {"theta": "CASE WHEN varx > 0 THEN covxy / varx ELSE 0 END"}
# layer v: Bessel-corrected per-arm (co)variances and adjusted means.
# Single-observation arms have no sample (co)variance — the na/nb > 1
# guards (same shared-string pattern as the theta varx guard) turn the
# degenerate readout into NULL z/significant instead of Inf/NaN.
def _e14_bessel(expr: str, n: str) -> str:
    return f"(CASE WHEN {n} > 1 THEN ({expr}) * ({n} / ({n} - 1)) ELSE NULL END)"


_E14_V = {
    "madj_a": "ma - theta * (mxa - xb)",
    "madj_b": "mb - theta * (mxb - xb)",
    "vya": _e14_bessel("syya / na - ma * ma", "na"),
    "vyb": _e14_bessel("syyb / nb - mb * mb", "nb"),
    "vxa": _e14_bessel("sxxa / na - mxa * mxa", "na"),
    "vxb": _e14_bessel("sxxb / nb - mxb * mxb", "nb"),
    "cva": _e14_bessel("sxya / na - mxa * ma", "na"),
    "cvb": _e14_bessel("sxyb / nb - mxb * mb", "nb"),
}
_E14_W = {
    "vadj_a": "vya - 2 * theta * cva + theta * theta * vxa",
    "vadj_b": "vyb - 2 * theta * cvb + theta * theta * vxb",
}
_E14_Z_UN = "(ma - mb) / sqrt(vya / na + vyb / nb)"
_E14_Z_ADJ = (
    "(madj_a - madj_b) / sqrt(vadj_a / na + vadj_b / nb)"
)
_E14_ROW_UN = {
    "metric": "'avg_user_value'",
    "n_a": "CAST(na AS BIGINT)",
    "n_b": "CAST(nb AS BIGINT)",
    "mean_a": "round(ma / 100, 4)",
    "mean_b": "round(mb / 100, 4)",
    "lift": "round((ma - mb) / 100, 4)",
    "theta": "CAST(0 AS DOUBLE)",
    "z_score": f"round({_E14_Z_UN}, 4)",
    "significant": f"abs({_E14_Z_UN}) >= 1.96",
}
_E14_ROW_ADJ = {
    "metric": "'avg_user_value_cuped'",
    "n_a": "CAST(na AS BIGINT)",
    "n_b": "CAST(nb AS BIGINT)",
    "mean_a": "round(madj_a / 100, 4)",
    "mean_b": "round(madj_b / 100, 4)",
    "lift": "round((madj_a - madj_b) / 100, 4)",
    "theta": "round(theta, 6)",
    "z_score": f"round({_E14_Z_ADJ}, 4)",
    "significant": f"abs({_E14_Z_ADJ}) >= 1.96",
}


def _e14_user_sums(exact: str) -> dict[str, str]:
    # `exact` is the engine's wide integer accumulator type
    # (Spark DECIMAL(38,0), DuckDB HUGEINT): the second moments widen
    # ONE factor of each product so x*x / x*y accumulate exactly past
    # BIGINT headroom. The cast is rendered here, inside the sums, so
    # the signature selects the accumulator the engine actually uses.
    a = _E13_ARM
    xw = f"CAST(x AS {exact})"
    yw = f"CAST(y AS {exact})"
    return {
        "na": f"sum(CASE WHEN {a} THEN 1 ELSE 0 END)",
        "nb": f"sum(CASE WHEN {a} THEN 0 ELSE 1 END)",
        "sxa": f"sum(CASE WHEN {a} THEN x ELSE 0 END)",
        "sxb": f"sum(CASE WHEN {a} THEN 0 ELSE x END)",
        "sya": f"sum(CASE WHEN {a} THEN y ELSE 0 END)",
        "syb": f"sum(CASE WHEN {a} THEN 0 ELSE y END)",
        "sxxa": f"sum(CASE WHEN {a} THEN {xw} * x ELSE 0 END)",
        "sxxb": f"sum(CASE WHEN {a} THEN 0 ELSE {xw} * x END)",
        "syya": f"sum(CASE WHEN {a} THEN {yw} * y ELSE 0 END)",
        "syyb": f"sum(CASE WHEN {a} THEN 0 ELSE {yw} * y END)",
        "sxya": f"sum(CASE WHEN {a} THEN {xw} * y ELSE 0 END)",
        "sxyb": f"sum(CASE WHEN {a} THEN 0 ELSE {xw} * y END)",
    }


def _e14_sel(stats: dict[str, str]) -> str:
    return ",\n           ".join(f"{e} AS {n}" for n, e in stats.items())


def _e14_oracle() -> str:
    sums = ",\n             ".join(
        f"{e} AS {n}" for n, e in _e14_user_sums("HUGEINT").items()
    )
    casts = ", ".join(f"CAST({n} AS DOUBLE) AS {n}" for n in _E14_SUMS)
    return f"""
    WITH cut AS (
      SELECT CAST(floor((floor(epoch(min(ts))) + floor(epoch(max(ts))))
                        / 2.0) AS BIGINT) AS cutoff
      FROM events
    ),
    users AS (
      SELECT user_id,
             sum(CASE WHEN floor(epoch(ts)) < cutoff
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS x,
             sum(CASE WHEN floor(epoch(ts)) >= cutoff
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS y
      FROM events, cut GROUP BY user_id
    ),
    sums AS (SELECT {sums} FROM users),
    d AS (SELECT {casts} FROM sums),
    m AS (SELECT *, {_e14_sel(_E14_M)} FROM d),
    t0 AS (SELECT *, {_e14_sel(_E14_T)} FROM m),
    t AS (SELECT *, {_e14_sel(_E14_THETA)} FROM t0),
    v AS (SELECT *, {_e14_sel(_E14_V)} FROM t),
    w AS (SELECT *, {_e14_sel(_E14_W)} FROM v)
    SELECT {_e14_sel(_E14_ROW_UN)} FROM w
    UNION ALL
    SELECT {_e14_sel(_E14_ROW_ADJ)} FROM w
    ORDER BY metric
    """


@register(
    "e14_cuped_experiment",
    oracle=_e14_oracle(),
    doc="E14: CUPED variance-reduced experiment readout (Deng et al. "
    "2013) — the step every mature experimentation platform runs after "
    "e13's plain z-test: each user's pre-period value (before the "
    "corpus epoch midpoint) is a covariate; theta = cov(X,Y)/var(X) "
    "pooled across arms adjusts the metric to Y - theta*(X - mean(X)), "
    "which strictly shrinks variance by the squared X-Y correlation "
    "while leaving the treatment-effect estimate unbiased (assignment "
    "is independent of pre-period behavior — here by the deterministic "
    "l15 hash). Emits the unadjusted and adjusted readouts side by "
    "side: same lift, tighter z. Exactness recipe end to end: user "
    "X/Y as exact BIGINT cents, corpus second moments in DECIMAL(38,0) "
    "(DuckDB: HUGEINT), every derived double one shared formula string "
    "layered through named columns — full value oracle, sqrt included. "
    "At 100 TB: one hash aggregate to user grain (the exchange the "
    "metric needs anyway), then a single 12-sum map-side fold to ONE "
    "row; theta, the adjustment, and both z-tests are driver-free "
    "scalar arithmetic on that row. The experiment family: e13 "
    "decides, e14 decides with less data.",
    tags=("events",),
)
def cuped_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(
        F.expr(
            "CAST(floor((min(unix_timestamp(ts)) + max(unix_timestamp(ts)))"
            " / 2.0) AS BIGINT)"
        ).alias("cutoff")
    )
    users = (
        ev.crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            F.expr(
                "CASE WHEN unix_timestamp(ts) < cutoff"
                " THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END"
            ).alias("xc"),
            F.expr(
                "CASE WHEN unix_timestamp(ts) >= cutoff"
                " THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END"
            ).alias("yc"),
        )
        .groupBy("user_id")
        .agg(F.expr("sum(xc)").alias("x"), F.expr("sum(yc)").alias("y"))
    )
    sums = users.agg(
        *[
            F.expr(e).alias(n)
            for n, e in _e14_user_sums("DECIMAL(38,0)").items()
        ]
    )
    d = sums.select(
        *[F.expr(f"CAST({n} AS DOUBLE)").alias(n) for n in _E14_SUMS]
    )
    step = d
    for layer in (_E14_M, _E14_T, _E14_THETA, _E14_V, _E14_W):
        step = step.select(
            "*", *[F.expr(e).alias(n) for n, e in layer.items()]
        )
    un = step.select(
        *[F.expr(e).alias(n) for n, e in _E14_ROW_UN.items()]
    )
    adj = step.select(
        *[F.expr(e).alias(n) for n, e in _E14_ROW_ADJ.items()]
    )
    return un.unionByName(adj)


# e15: sample-ratio mismatch (SRM) — the randomization-health gate every
# experimentation platform runs BEFORE reading e13/e14's results: if the
# achieved arm split deviates from the designed 50/50 beyond chance, the
# assignment itself is broken (biased bucketing, logging loss, bot
# filtering applied to one arm) and the readouts are invalid. Chi-square
# on user counts per arm, overall and per activity segment — a
# segment-level SRM with a clean overall is the classic signature of
# segment-correlated assignment bugs. Portability is the dq11 recipe:
# counts are exact integers, the statistic is one shared formula string
# of bare * - / over the double-cast counts, and the 1-dof 95% critical
# value is the same repr'd constant dq11 embeds.
_E15_CHI2 = (
    "((na - (na + nb) / 2) * (na - (na + nb) / 2)) / ((na + nb) / 2)"
    " + ((nb - (na + nb) / 2) * (nb - (na + nb) / 2)) / ((na + nb) / 2)"
)
_E15_CRIT = "3.841458820694124"  # chi-square 95th percentile, 1 dof
_E15_ROW = {
    "segment": "segment",
    "n_users": "CAST(na + nb AS BIGINT)",
    "n_a": "CAST(na AS BIGINT)",
    "n_b": "CAST(nb AS BIGINT)",
    "share_a": "round(CAST(na AS DOUBLE) / (na + nb), 6)",
    "chi2": f"round({_E15_CHI2}, 6)",
    "srm_flag": f"({_E15_CHI2}) >= {_E15_CRIT}",
}
_E15_SEL = ",\n           ".join(f"{e} AS {n}" for n, e in _E15_ROW.items())


def _e15_oracle() -> str:
    return f"""
    WITH seg_users AS (
      SELECT DISTINCT event_type AS segment, user_id FROM events
    ),
    all_users AS (SELECT DISTINCT user_id FROM events),
    counts AS (
      SELECT segment,
             CAST(sum(CASE WHEN {_E13_ARM} THEN 1 ELSE 0 END) AS DOUBLE)
               AS na,
             CAST(sum(CASE WHEN {_E13_ARM} THEN 0 ELSE 1 END) AS DOUBLE)
               AS nb
      FROM seg_users GROUP BY segment
      UNION ALL
      SELECT 'ALL' AS segment,
             CAST(sum(CASE WHEN {_E13_ARM} THEN 1 ELSE 0 END) AS DOUBLE)
               AS na,
             CAST(sum(CASE WHEN {_E13_ARM} THEN 0 ELSE 1 END) AS DOUBLE)
               AS nb
      FROM all_users
    )
    SELECT {_E15_SEL}
    FROM counts
    ORDER BY segment
    """


@register(
    "e15_srm_check",
    oracle=_e15_oracle(),
    doc="E15: sample-ratio-mismatch gate — chi-square on the achieved "
    "arm split vs the designed 50/50, overall and per activity segment "
    "(users who emitted each event type): the validity check run "
    "BEFORE e13/e14's readouts are believed, since a broken assignment "
    "invalidates any downstream statistic, and a per-segment SRM with "
    "a clean overall is the signature of segment-correlated bugs "
    "(one-arm bot filtering, logging loss in one exposure path). "
    "Exact-integer counts, one shared bare-arithmetic formula string, "
    "the dq11 repr'd 1-dof critical value — full value oracle. At "
    "100 TB: one distinct over (event_type, user_id) — the exchange a "
    "segment readout needs anyway — then segment-cardinality "
    "conditional sums; the overall row is a map-side fold over the "
    "distinct-user set. The experiment family: e15 validates the "
    "split, e13 decides, e14 decides with less data.",
    tags=("events",),
)
def srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arm_sums = [
        F.expr(
            f"CAST(sum(CASE WHEN {_E13_ARM} THEN 1 ELSE 0 END) AS DOUBLE)"
        ).alias("na"),
        F.expr(
            f"CAST(sum(CASE WHEN {_E13_ARM} THEN 0 ELSE 1 END) AS DOUBLE)"
        ).alias("nb"),
    ]
    seg = (
        ev.select(F.col("event_type").alias("segment"), "user_id")
        .distinct()
        .groupBy("segment")
        .agg(*arm_sums)
    )
    overall = (
        ev.select("user_id")
        .distinct()
        .agg(*arm_sums)
        .select(F.lit("ALL").alias("segment"), "na", "nb")
    )
    counts = seg.unionByName(overall)
    return counts.select(
        *[F.expr(e).alias(n) for n, e in _E15_ROW.items()]
    )
