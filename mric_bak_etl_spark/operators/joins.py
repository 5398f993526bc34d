"""Join operators (SURVEY.md §2B J1-J7) + a reusable as-of join.

Reference lineage: the reference's only join-shaped operation is the
stateful "already imported?" check (`src/bak_unload.ps1:57-65`) — a left
anti-join of the candidate snapshot against a one-row state table (J4;
used for real in pipeline/state.py). J1-J3, J5-J7 are the relational
breadth for the downstream bronze/silver/gold stage.

Scale notes (100 TB):

- J1/J3: fact⋈fact equi-joins shuffle both sides on the key → sort-merge
  join; AQE converts to broadcast when a side turns out small and splits
  skewed partitions.
- J2: dimension joins (nation: 25 rows, region: 5) must NEVER shuffle the
  fact side — ``F.broadcast`` pins a BroadcastHashJoin.
- J5 (non-equi): always carries an equi component (brand) so Spark can use
  SMJ/SHJ with the range as a post-join condition instead of a cartesian
  product (BroadcastNestedLoopJoin), which would be O(n·m) at scale.
- J6 (as-of): implemented as union + window "last non-null carry-forward",
  one shuffle on (key), no per-row subquery — the standard distributed
  as-of pattern; per-key data volumes bound state.
- J7 (cross): only valid for tiny×tiny; guarded by a row-count product
  check in the builder.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.tables import load_table


@register(
    "j1_inner_equi",
    oracle="""
    SELECT c.c_mktsegment,
           count(*)                     AS n_lines,
           round(sum(o.o_totalprice), 4) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    doc="J1: inner equi-join orders⋈customer (Catalyst picks SMJ/broadcast; "
    "AQE may demote to broadcast at runtime), then aggregate.",
    tags=("join",),
)
def inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


@register(
    "j2_broadcast_dims",
    oracle="""
    SELECT r.r_name,
           count(*)                    AS n_customers,
           round(avg(c.c_acctbal), 4)  AS avg_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
    doc="J2: snowflake dimension join with explicit broadcast() of nation "
    "and region — fact side never shuffles; plan is two chained "
    "BroadcastHashJoins inside one codegen stage.",
    tags=("join", "broadcast"),
)
def broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


@register(
    "j3_left_outer",
    oracle="""
    SELECT c.c_mktsegment,
           count(*)                                  AS n_rows,
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                     AS n_customers_without_orders,
           count(o.o_orderkey)                       AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    doc="J3: left outer join preserving order-less customers; null-aware "
    "counts distinguish preserved vs matched rows.",
    tags=("join",),
)
def left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_customers_without_orders"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


@register(
    "j3b_full_outer",
    oracle="""
    SELECT CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_supplier,
           CAST(sum(CASE WHEN s.s_suppkey  IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_nation,
           CAST(sum(CASE WHEN n.n_nationkey IS NOT NULL AND s.s_suppkey IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT)                                AS both_sides
    FROM supplier s FULL JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
    doc="J3: full outer join supplier⟗nation — rows preserved from both "
    "sides; summarized to side-membership counts.",
    tags=("join",),
)
def full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    j = s.join(n, s.s_nationkey == n.n_nationkey, "full")
    return j.agg(
        F.sum(F.when(F.col("n_nationkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("only_supplier"),
        F.sum(F.when(F.col("s_suppkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("only_nation"),
        F.sum(
            F.when(
                F.col("n_nationkey").isNotNull() & F.col("s_suppkey").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("both_sides"),
    )


@register(
    "j4_left_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    ORDER BY c_custkey
    """,
    doc="J4: left semi join (EXISTS) — customers having a big order; no "
    "duplication of the left side, right side only probed.",
    tags=("join", "reference-fidelity"),
)
def left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
    )


@register(
    "j4b_left_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
    doc="J4: left anti join (NOT EXISTS) — the reference's 'already "
    "imported?' skip (src/bak_unload.ps1:57-65) generalized: rows with no "
    "match in the processed set. Used for real in pipeline/state.py.",
    tags=("join", "reference-fidelity"),
)
def left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


@register(
    "j5_range_theta",
    oracle="""
    SELECT a.p_brand,
           count(*)                               AS n_pairs,
           CAST(sum(b.p_size - a.p_size) AS BIGINT) AS total_size_gap
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size < b.p_size
    GROUP BY a.p_brand
    ORDER BY a.p_brand
    """,
    doc="J5: theta/range join with an equi component (brand) so Spark uses a "
    "hash/SMJ join with the range as a residual predicate — not a nested-"
    "loop cartesian, which would be O(n·m) at 100 TB.",
    tags=("join",),
)
def range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = load_table(spark, sf_dir, "part").select(
        F.col("p_brand"), F.col("p_size").alias("a_size")
    )
    b = load_table(spark, sf_dir, "part").select(
        F.col("p_brand").alias("b_brand"), F.col("p_size").alias("b_size")
    )
    return (
        a.join(b, (a.p_brand == b.b_brand) & (F.col("a_size") < F.col("b_size")))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("b_size") - F.col("a_size")).cast("bigint").alias("total_size_gap"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """Distributed as-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` within the same ``key``.

    Union-and-carry-forward pattern: tag both sides, union, then one window
    per key ordered by time with ``last(..., ignorenulls=True)`` carrying the
    most recent right-side values forward onto left rows. Exactly one shuffle
    on ``key`` — no correlated subquery, no per-row lookup; this is the
    standard scale-out as-of strategy (cf. pandas merge_asof semantics).
    """
    rcols = [f"right_{c}" for c in right_cols]
    lrow_t = "struct<" + ",".join(
        f"{f.name}:{f.dataType.simpleString()}" for f in left.schema.fields
    ) + ">"
    lt = left.select(
        F.col(key).alias("_key"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*left.columns).alias("_lrow"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(rc)
            for c, rc in zip(right_cols, rcols)
        ],
    )
    rt = right.select(
        F.col(key).alias("_key"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(lrow_t).alias("_lrow"),
        *[F.col(c).alias(rc) for c, rc in zip(right_cols, rcols)],
    )
    # Right rows sort before left rows at equal ts (_side 0 < 1) so a right
    # row AT the left timestamp is visible to it (<= semantics, like ASOF).
    w = (
        Window.partitionBy("_key")
        .orderBy(F.col("_ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = lt.unionByName(rt).select(
        "_side",
        "_lrow",
        *[F.last(rc, ignorenulls=True).over(w).alias(rc) for rc in rcols],
    )
    return carried.filter(F.col("_side") == 1).select(F.col("_lrow.*"), *rcols)


@register(
    "j6_asof",
    oracle="""
    WITH purchases AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'purchase'
    ),
    signups AS (
      SELECT user_id, event_id AS signup_event_id, CAST(ts AS TIMESTAMP) AS signup_ts
      FROM events WHERE event_type = 'signup'
    )
    SELECT p.user_id, p.event_id, p.ts,
           s.signup_event_id AS right_event_id,
           s.signup_ts       AS right_ts
    FROM purchases p ASOF LEFT JOIN signups s
      ON p.user_id = s.user_id AND p.ts >= s.signup_ts
    ORDER BY p.event_id
    """,
    doc="J6: as-of join — each purchase matched to the user's most recent "
    "prior (or same-instant) signup; union+window carry-forward, one "
    "shuffle. Oracle uses DuckDB's native ASOF LEFT JOIN.",
    tags=("join", "asof"),
)
def asof_purchases_to_signups(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "event_id", "ts"
    )
    return asof_join(
        purchases, signups, key="user_id", left_ts="ts", right_ts="ts",
        right_cols=["event_id", "ts"],
    )


@register(
    "j7_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    ORDER BY r.r_name, n.n_name
    """,
    doc="J7: explicit cross join — only for tiny×tiny inputs (5×25 here); "
    "at scale a cross join is a design smell, flagged by requiring the "
    "explicit crossJoin() API.",
    tags=("join",),
)
def cross_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


N_SALTS = 8


@register(
    "j8_salted_skew_join",
    oracle="""
    SELECT o_orderpriority,
           count(*)                    AS n_lines,
           round(sum(l_quantity), 4)   AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="J8: skew-salted equi-join, hot-key form — the manual mitigation "
    "when one join key dominates and even AQE skew-splitting can't keep a "
    "partition in memory. A sampled frequency pass identifies hot keys "
    "(few by definition — they collect to a driver list and ride inside "
    "the salt expressions); ONLY those keys are salted: the probe side "
    "gets salt = pmod(hash(row), N), the build side replicates N ways "
    "for hot keys alone, and cold rows carry salt 0 / replicate once — "
    "so ONE unified (key, salt) join serves both paths in a single scan "
    "per side, and the result is IDENTICAL to the plain join (the "
    "oracle is the unsalted SQL). Full-table N-fold replication — the "
    "naive salting recipe — is never paid; with no hot keys this IS the "
    "plain join plus one cheap sampled agg. AQE's skewJoin handles the "
    "common case automatically; this is the explicit form for the "
    "pathological tail (a key too hot for any single executor).",
    tags=("join", "scale"),
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # Hot-key detection on a 1% sample: estimated full count = sample
    # count / rate; hot = estimate above what one task comfortably holds.
    # Production threshold is task capacity (millions of rows); the
    # fixtures are uniform (~7 lines/order), so this low cutoff marks the
    # sampled tail hot purely to keep BOTH paths executing under test.
    rate, threshold = 0.01, 50
    # Hot keys are FEW by definition (that's what makes them hot), so
    # they collect to a driver-side list and ship inside the salt
    # expressions as a broadcast literal — no join, no branch, no second
    # scan of either side. Salt 0 is the cold path: cold probe rows keep
    # salt 0 and the cold build row replicates exactly once, so the
    # unified (key, salt) join IS the plain join for the cold majority
    # and an N-way spread for the hot tail.
    # Cap at the top heaviest keys: "hot" only means anything for the few
    # keys a single task can't hold — an unbounded cutoff over a uniform
    # sample would mark thousands of keys hot and bloat the salt
    # expressions into planner poison (every key salting ≈ the naive
    # full-replication recipe). Deterministic (count DESC, key ASC) order.
    hot_keys = [
        r["l_orderkey"]
        for r in li.sample(fraction=rate, seed=42)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > threshold * rate)
        .orderBy(F.desc("c"), F.asc("l_orderkey"))
        .limit(32)
        .collect()
    ]
    li_hot = F.col("l_orderkey").isin(hot_keys) if hot_keys else F.lit(False)
    o_hot = F.col("o_orderkey").isin(hot_keys) if hot_keys else F.lit(False)
    salted_li = li.withColumn(
        "salt",
        F.when(
            li_hot,
            F.pmod(
                F.xxhash64("l_orderkey", "l_linenumber", "l_partkey"),
                F.lit(N_SALTS),
            ).cast("int"),
        ).otherwise(F.lit(0)),
    )
    salted_o = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.explode(
            F.when(o_hot, F.sequence(F.lit(0), F.lit(N_SALTS - 1))).otherwise(
                F.array(F.lit(0))
            )
        ).alias("salt"),
    )
    return (
        salted_li.join(
            salted_o,
            (salted_li.l_orderkey == salted_o.o_orderkey)
            & (salted_li.salt == salted_o.salt),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 4).alias("total_qty"),
        )
    )


@register(
    "j9_bucketed_colocated_join",
    oracle="""
    SELECT o_orderstatus,
           count(*)                   AS n_lines,
           round(sum(l_quantity), 4)  AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="J9: bucketed co-located join — both sides saved as tables "
    "bucketed+sorted on the join key, so the join runs with NO exchange "
    "on either side (asserted in tests/test_plans.py): bucketing "
    "pre-pays the shuffle once at write time, every subsequent join/agg "
    "on that key rides it free. THE layout tool for a 100 TB fact table "
    "that is joined on the same key daily. Falls back to the plain join "
    "(identical rows) if the session's warehouse is not writable.",
    tags=("join", "scale", "sink"),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    n_buckets = 8
    try:
        for df, name, key in ((li, "j9_lineitem_b", "l_orderkey"),
                              (o, "j9_orders_b", "o_orderkey")):
            # An in-memory catalog forgets tables across sessions while the
            # warehouse directory persists → overwrite would die with
            # LOCATION_ALREADY_EXISTS on the orphaned dir. Drop via the
            # catalog, then clear any orphan left by a previous session.
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
            orphan = os.path.join(
                warehouse.removeprefix("file:"), name
            )
            if warehouse and os.path.isdir(orphan):
                shutil.rmtree(orphan, ignore_errors=True)
            (df.write.mode("overwrite")
               .bucketBy(n_buckets, key).sortBy(key)
               .format("parquet").saveAsTable(name))
        lib, ob = spark.table("j9_lineitem_b"), spark.table("j9_orders_b")
    except Exception:
        lib, ob = li, o  # unwritable warehouse/catalog: same rows, plain plan
    return (
        lib.join(ob, lib.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 4).alias("total_qty"),
        )
    )


@register(
    "j10_broadcast_nested_loop",
    oracle="""
    SELECT r_name, CAST(count(*) AS BIGINT) AS n_suppliers,
           round(sum(s_acctbal), 4) AS total_bal
    FROM supplier, region
    WHERE s_acctbal > CAST(r_regionkey AS DOUBLE) * 1000.0
    GROUP BY r_name
    ORDER BY r_name
    """,
    doc="J10: pure non-equi join (NO equi conjunct) — physically a "
    "BroadcastNestedLoopJoin, the only strategy left when no hash key "
    "exists. Acceptable ONLY with a broadcast-small side (region: 5 "
    "rows); with two large sides a θ-only join is O(n·m) and the fix is "
    "banding the continuous predicate into an equi key (j5 shows the "
    "range+equi form). The explicit broadcast pins the small side.",
    tags=("join",),
)
def broadcast_nested_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    r = load_table(spark, sf_dir, "region")
    return (
        s.join(
            F.broadcast(r),
            s.s_acctbal > r.r_regionkey.cast("double") * 1000.0,
        )
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 4).alias("total_bal"),
        )
    )


@register(
    "j11_bucketed_range_join",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey AS iv_key,
             o_orderdate AS start_ts,
             o_orderdate + INTERVAL 14 DAY AS end_ts
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    pts AS (SELECT o_orderdate AS pt_ts FROM orders)
    SELECT iv_key, CAST(count(*) AS BIGINT) AS n_in_window
    FROM iv JOIN pts ON pt_ts >= start_ts AND pt_ts < end_ts
    GROUP BY iv_key
    ORDER BY iv_key
    """,
    doc="J11: bucketed range join — point-in-interval matching rewritten "
    "as an EQUI-join: bucket width = interval length (14 days), each "
    "interval explodes to the <=2 buckets it touches, each point hashes "
    "to exactly one, and the exact range predicate runs as a residual "
    "after the hash match. At 100 TB this is THE difference between a "
    "broadcast-nested-loop (j10's strategy, O(n*m)) and a shuffled hash "
    "join; the oracle states the naive theta form.",
    tags=("joins", "range"),
)
def bucketed_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = lambda c: F.floor(F.unix_timestamp(c) / 86400)  # noqa: E731
    width = 14
    iv = (
        o.filter(F.col("o_orderkey") % 97 == 0)
        .select(
            F.col("o_orderkey").alias("iv_key"),
            F.col("o_orderdate").alias("start_ts"),
            (F.col("o_orderdate") + F.expr("INTERVAL 14 DAYS")).alias("end_ts"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor(day(F.col("start_ts")) / width),
                    F.floor(day(F.col("end_ts")) / width),
                )
            ),
        )
    )
    pts = o.select(F.col("o_orderdate").alias("pt_ts")).withColumn(
        "bucket", F.floor(day(F.col("pt_ts")) / width)
    )
    return (
        iv.join(
            pts,
            (iv.bucket == pts.bucket)
            & (pts.pt_ts >= iv.start_ts)
            & (pts.pt_ts < iv.end_ts),
        )
        .groupBy("iv_key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_in_window"))
    )


@register(
    "j14_shuffle_hash_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT)          AS n_lines,
           round(sum(l.l_extendedprice), 4)  AS total_price
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    doc="J14: explicit SHUFFLE_HASH strategy — the middle of the join-"
    "strategy ladder: too big to broadcast, but one side small enough "
    "per-partition to hash, so skipping SMJ's two sort phases wins "
    "(hash build is O(n), sort is O(n log n); SMJ only pays off when "
    "the sort order is reused downstream). The hint pins the physical "
    "strategy Catalyst's cost model would otherwise choose by size "
    "alone; the plan assertion proves it took effect.",
    tags=("joins", "strategy"),
)
def shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_orderpriority")
        .hint("shuffle_hash")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 4).alias("total_price"),
        )
    )


@register(
    "j12_interval_overlap_join",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS a_id, o_orderdate AS a_start,
             o_orderdate + to_days(CAST(o_orderkey % 7 + 1 AS INTEGER)) AS a_end
      FROM orders WHERE o_orderkey % 37 = 0
    ),
    b AS (
      SELECT o_orderkey AS b_id,
             o_orderdate + to_days(2) AS b_start,
             o_orderdate + to_days(CAST(o_orderkey % 5 + 5 AS INTEGER)) AS b_end
      FROM orders WHERE o_orderkey % 41 = 0
    )
    SELECT a_id, b_id FROM a JOIN b
      ON a_start <= b_end AND b_start <= a_end
    ORDER BY a_id, b_id
    """,
    doc="J12: interval-OVERLAP join (a_start<=b_end AND b_start<=a_end) — "
    "the two-sided generalization of j11's point-in-interval: temporal "
    "validity windows, sessions-vs-incidents, genomic ranges. Naively a "
    "nested-loop; rewritten as an EQUI-join by day-bucketing BOTH sides "
    "(each interval explodes to its covered buckets, bucket equality is "
    "the join key, pair-distinct absorbs multi-bucket matches, the exact "
    "predicate re-verifies as a residual). Bucket fan-out = "
    "ceil(span/bucket) rows per interval — bounded here (spans <= 9 "
    "days), and at 100 TB the bucket width is tuned to median interval "
    "length so fan-out stays O(1) while the join hashes instead of "
    "looping. Sizes here would broadcast; the pattern is for when BOTH "
    "sides are too big for that.",
    tags=("joins",),
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 37 == 0).select(
        F.col("o_orderkey").alias("a_id"),
        F.col("o_orderdate").alias("a_start"),
        (F.col("o_orderdate") + F.make_interval(days=(F.col("o_orderkey") % 7 + 1).cast("int"))).alias("a_end"),
    )
    b = o.filter(F.col("o_orderkey") % 41 == 0).select(
        F.col("o_orderkey").alias("b_id"),
        (F.col("o_orderdate") + F.make_interval(days=F.lit(2))).alias("b_start"),
        (F.col("o_orderdate") + F.make_interval(days=(F.col("o_orderkey") % 5 + 5).cast("int"))).alias("b_end"),
    )
    day = lambda c: F.date_trunc("day", c)  # noqa: E731
    bucketed_a = a.select(
        "a_id", "a_start", "a_end",
        F.explode(F.sequence(day(F.col("a_start")), day(F.col("a_end")))).alias("bucket"),
    )
    bucketed_b = b.select(
        "b_id", "b_start", "b_end",
        F.explode(F.sequence(day(F.col("b_start")), day(F.col("b_end")))).alias("bucket"),
    )
    return (
        bucketed_a.join(bucketed_b, "bucket")
        .filter((F.col("a_start") <= F.col("b_end")) & (F.col("b_start") <= F.col("a_end")))
        .select("a_id", "b_id")
        .distinct()
    )


@register(
    "j13_null_safe_join",
    oracle="""
    WITH fact AS (
      SELECT o_orderkey, o_totalprice, nullif(o_orderstatus, 'P') AS k
      FROM orders
    ),
    dim AS (
      SELECT DISTINCT nullif(o_orderstatus, 'P') AS k,
             concat('grp_', coalesce(nullif(o_orderstatus, 'P'), 'pending'))
               AS label
      FROM orders
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 4) AS total
    FROM fact JOIN dim ON fact.k IS NOT DISTINCT FROM dim.k
    GROUP BY label
    ORDER BY label
    """,
    doc="J13: null-safe equi-join (<=> / IS NOT DISTINCT FROM) — NULL "
    "join keys MATCH each other instead of silently dropping (ANSI "
    "NULL=NULL is UNKNOWN, so a plain inner join loses every NULL-keyed "
    "row; the classic bug when an 'unknown' category is encoded as "
    "NULL). eqNullSafe compiles to EqualNullSafe, which still hash-"
    "partitions (NULL hashes like any value under the null-safe "
    "comparator), so Catalyst keeps a BroadcastHashJoin here — NOT a "
    "nested loop; the null-safe form costs nothing at 100 TB. The "
    "NULL-keyed group is deliberately present (status 'P' mapped to "
    "NULL on both sides) so the semantic difference is load-bearing in "
    "the checked values.",
    tags=("joins",),
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    fact = o.select(
        "o_orderkey",
        "o_totalprice",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("k"),
    )
    dim = (
        o.select(F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("k"))
        .distinct()
        .select(
            "k",
            F.concat(
                F.lit("grp_"), F.coalesce(F.col("k"), F.lit("pending"))
            ).alias("label"),
        )
    )
    return (
        fact.join(F.broadcast(dim), fact["k"].eqNullSafe(dim["k"]))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
    )


# Bloom pre-join filter geometry (j15): m bits sized for the dim-key
# cardinality at the demo scale (~30k customers at sf0.1 with ~1/5
# selected -> ~6k keys; m=64Ki bits, k=2 seeds => ~2% false positives).
# At 100 TB m grows with the build side (Spark's own runtime filter
# caps at spark.sql.optimizer.runtime.bloomFilter.maxNumBits, 64 MB
# worth) — the words-map below grows linearly and stays broadcastable.
_BLOOM_BITS = 1 << 16
_BLOOM_SEEDS = (41, 97)


def _bloom_pos_sql(key_sql: str, seed: int) -> str:
    """SQL text of the bit position for one hash seed (shared by the
    build and probe sides so they can never disagree)."""
    return f"pmod(xxhash64({key_sql}, {seed}), {_BLOOM_BITS})"


def bloom_probe(fact: DataFrame, keys: DataFrame, build_key: str, probe_key: str) -> DataFrame:
    """Build a bloom filter from ``keys[build_key]`` and return ``fact``
    filtered map-side to rows whose ``probe_key`` might be present.

    Exposed as a helper so tests can measure probe selectivity directly
    (a build/probe hash mismatch would silently degrade to
    pass-everything — correct results, dead pattern).
    """
    # Build: dim keys -> bit positions -> 64-bit words -> one-row map.
    positions = keys.select(
        F.explode(
            F.array(
                *[
                    F.expr(_bloom_pos_sql(build_key, seed))
                    for seed in _BLOOM_SEEDS
                ]
            )
        ).alias("pos")
    )
    words = positions.groupBy(
        (F.col("pos") / 64).cast("int").alias("word_idx")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
        ).alias("word")
    )
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word_idx", "word"))).alias(
            "bloom"
        )
    )

    # Probe: map-side expression on the fact scan; a missing word means
    # no dim key hashed into it -> definitely-absent.
    probed = fact.crossJoin(F.broadcast(bloom))
    for seed in _BLOOM_SEEDS:
        pos = _bloom_pos_sql(probe_key, seed)
        probed = probed.filter(
            F.coalesce(
                F.expr(
                    f"getbit(element_at(bloom, CAST(({pos}) DIV 64 AS INT)), "
                    f"CAST(({pos}) % 64 AS INT))"
                ),
                F.lit(0),
            )
            == 1
        )
    return probed.drop("bloom")


@register(
    "j15_bloom_prejoin",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 4) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="J15: bloom-filter pre-join pruning — the manual form of Spark's "
    "AQE runtime row-level filter (InjectRuntimeFilter builds the same "
    "bloom from the filtered build side): hash the dim keys twice "
    "(xxhash64, 2 seeds) into a 64Ki-bit filter built as 64-bit WORDS "
    "(groupBy word index + bit_or — one narrow shuffle of 2 positions "
    "per key into <=1024 rows), collapse to a one-row map<word_idx,"
    "word> and broadcast it; the fact side probes with element_at + "
    "getbit as a pure map-side JVM expression BEFORE the join, so at "
    "100 TB the non-matching fact rows die at the scan instead of "
    "crossing the shuffle. False positives are removed by the real "
    "join that follows — the bloom only prunes, never decides, so the "
    "result is exact and the oracle is the plain join. Here the dim "
    "also broadcasts (sizes are tiny); the pattern pays off when the "
    "join must shuffle both sides.",
    tags=("joins", "scale"),
)
def bloom_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    probed = bloom_probe(o, c.select("c_custkey"), "c_custkey", "o_custkey")
    return (
        probed.join(F.broadcast(c), probed["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
    )


@register(
    "j16_null_skew_outer_join",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_custkey END AS cust_fk,
             o_totalprice
      FROM orders
    )
    SELECT coalesce(c.c_mktsegment, 'UNATTRIBUTED') AS segment,
           CAST(count(*) AS BIGINT)                 AS n_orders,
           round(sum(o.o_totalprice), 4)            AS revenue
    FROM o LEFT JOIN customer c ON c.c_custkey = o.cust_fk
    GROUP BY segment
    ORDER BY segment
    """,
    doc="J16: null-skew routing for outer joins — the OTHER skew "
    "problem j8's salting doesn't touch: an optional FK (here every "
    "7th order is unattributed) sends ALL null-keyed rows to one hash "
    "partition, where they wait out the join only to match nothing by "
    "SQL semantics anyway. The fix splits the stream BEFORE the "
    "shuffle: null-keyed rows skip the join entirely (their dimension "
    "columns are NULL by definition) and union back with the "
    "non-null-keyed join result — the shuffle now carries only "
    "joinable rows, and the null hot partition disappears. At 14% "
    "nulls this is a modest win; event data with anonymous traffic "
    "routinely runs 90%+ null user ids, where the single null "
    "partition IS the job's critical path. The oracle is the plain "
    "LEFT JOIN — equality proves the split-union rewrite is "
    "semantics-preserving, which is the entire point: this is a "
    "PHYSICAL rewrite, not a semantic one.",
    tags=("joins", "skew"),
)
def null_skew_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("cust_fk"),
        "o_totalprice",
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    keyed = o.filter(F.col("cust_fk").isNotNull())
    nulls = o.filter(F.col("cust_fk").isNull()).select(
        F.lit(None).cast("string").alias("c_mktsegment"), "o_totalprice"
    )
    joined = keyed.join(
        c, keyed["cust_fk"] == c["c_custkey"], "left"
    ).select("c_mktsegment", "o_totalprice")
    return (
        joined.unionByName(nulls)
        .groupBy(
            F.coalesce("c_mktsegment", F.lit("UNATTRIBUTED")).alias("segment")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )
