"""Iterative graph algorithms as DataFrame loops (SURVEY.md §2B extension).

Reference lineage: the reference has no graph surface; this extends the
event-analytics family (e4's transition matrix IS a weighted edge list) the
way q2_recursive_cte extends reachability — driver-side iteration over pure
DataFrame ops, the idiomatic Spark shape for fixed-iteration graph passes
(GraphFrames does the same underneath; GraphX's RDD API is the thing to
avoid).

Scale notes (100 TB of events): the edge list aggregates once (shuffle on
(src, dst) pairs — bounded by |event_types|^2 here; for user-graphs, by
edges) and each iteration is one join + one groupBy on the RANK table, which
is |nodes|-sized, NOT |events|-sized. Fixed iteration count keeps the plan
finite; convergence-check variants collect one scalar per round. The rank
table re-partitions on the join key once and every iteration reuses that
partitioning; checkpoint/localCheckpoint every ~10 rounds on a real cluster
to truncate lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.llm.dedup import (
    _COMPONENT_CLUSTERS_ORACLE,
    connected_components,
)
from mric_bak_etl_spark.tables import load_table

DAMPING = 0.85
N_ITERATIONS = 5


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted event-type transition edges: w(src,dst) = P(dst | src)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type", 1).over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counts = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    out_totals = counts.groupBy("src").agg(F.sum("cnt").alias("total"))
    return counts.join(out_totals, "src").select(
        "src", "dst", (F.col("cnt") / F.col("total")).alias("weight")
    )


# The oracle unrolls the same five iterations as chained CTEs; each round is
# rank-table-sized. Weights and ranks stay un-rounded through the loop on
# BOTH engines (identical double math on identical inputs); only the final
# output rounds, same as every other float-bearing oracle here.
_PR_ITER = """
    r{i} AS (
      SELECT n.v,
             (1 - 0.85) / (SELECT count(*) FROM nodes)
               + 0.85 * coalesce(c.contrib, 0) AS r
      FROM nodes n LEFT JOIN (
        SELECT w.dst AS v, sum(w.weight * p.r) AS contrib
        FROM w JOIN r{prev} p ON p.v = w.src GROUP BY w.dst
      ) c ON c.v = n.v
    )"""


@register(
    "g1_pagerank",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS src,
             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM events
    ),
    counts AS (
      SELECT src, dst, count(*) AS cnt FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    w AS (
      SELECT src, dst, CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY src) AS weight
      FROM counts
    ),
    nodes AS (SELECT DISTINCT event_type AS v FROM events),
    r0 AS (SELECT v, 1.0 / (SELECT count(*) FROM nodes) AS r FROM nodes),
    """
    + ",\n    ".join(
        _PR_ITER.format(i=i, prev=i - 1).strip() for i in range(1, N_ITERATIONS + 1)
    )
    + f"""
    SELECT v AS event_type, round(r, 6) AS pagerank
    FROM r{N_ITERATIONS} ORDER BY pagerank DESC, event_type ASC
    """,
    doc="G1: PageRank over the event-transition graph (damping 0.85, 5 "
    "fixed iterations, row-normalized edge weights from e4's transition "
    "counts). Each iteration joins the |nodes|-sized rank table to the "
    "edge list and re-aggregates — events are touched ONCE to build "
    "edges; the loop never rescans them. The DuckDB oracle unrolls the "
    "identical five iterations as chained CTEs, so every intermediate is "
    "bit-comparable; output rounds to 6dp for the hash.",
    tags=("graph", "events"),
)
def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # Materialize the graph ONCE: nodes and edges are bounded by the
    # event-type vocabulary (|V| and |V|²), so collecting them truncates
    # the iteration lineage — otherwise each Lloyd-style round re-derives
    # the edge aggregation from raw events and the final plan scans the
    # fact table once per iteration. On a cluster the same role is played
    # by checkpoint()/a persisted edge table; for vocabulary-sized graphs
    # the driver-local rebuild is exact and cheap at any corpus scale.
    node_rows = e.select(F.col("event_type").alias("v")).distinct().collect()
    edge_rows = _edges(spark, sf_dir).collect()
    nodes = spark.createDataFrame(node_rows, "v string")
    edges = spark.createDataFrame(edge_rows, "src string, dst string, weight double")
    n_nodes = len(node_rows)

    ranks = nodes.select("v", F.lit(1.0 / n_nodes).alias("r"))
    base = (1.0 - DAMPING) / n_nodes
    for _ in range(N_ITERATIONS):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["v"])
            .groupBy("dst")
            .agg(F.sum(F.col("weight") * F.col("r")).alias("contrib"))
        )
        ranks = nodes.join(
            contribs, nodes["v"] == contribs["dst"], "left"
        ).select(
            "v",
            (F.lit(base) + DAMPING * F.coalesce("contrib", F.lit(0.0))).alias("r"),
        )
    return ranks.select(
        F.col("v").alias("event_type"), F.round("r", 6).alias("pagerank")
    )


SP_SOURCE = "signup"
SP_ROUNDS = 4  # exact for any graph with <= 5 nodes (|V|-1 relaxations)

_SP_ITER = """
    d{i} AS (
      SELECT n.v, least(p.d, c.m) AS d
      FROM nodes n
      LEFT JOIN d{prev} p ON p.v = n.v
      LEFT JOIN (
        SELECT w.dst AS v, min(p2.d + w.wt) AS m
        FROM w JOIN d{prev} p2 ON p2.v = w.src
        WHERE p2.d IS NOT NULL
        GROUP BY w.dst
      ) c ON c.v = n.v
    )"""


@register(
    "g2_shortest_path",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS src,
             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM events
    ),
    counts AS (
      SELECT src, dst, count(*) AS cnt FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    w AS (
      SELECT src, dst,
             round(-ln(CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY src)), 6)
               AS wt
      FROM counts
    ),
    nodes AS (SELECT DISTINCT event_type AS v FROM events),
    d0 AS (SELECT v, CASE WHEN v = 'signup' THEN 0.0 END AS d FROM nodes),
    """
    + ",\n    ".join(
        _SP_ITER.format(i=i, prev=i - 1).strip() for i in range(1, SP_ROUNDS + 1)
    )
    + f"""
    SELECT v AS event_type, round(d, 6) AS nll_dist
    FROM d{SP_ROUNDS} ORDER BY nll_dist NULLS LAST, event_type
    """,
    doc="G2: single-source shortest path under -ln(P) edge weights — the "
    "MOST PROBABLE event path from 'signup' to every other state "
    "(minimizing summed negative log-likelihood == maximizing the "
    "product of transition probabilities), via |V|-1 Bellman-Ford "
    "relaxations over the same driver-materialized vocabulary-sized "
    "edge list as g1: each round is one |nodes|-sized join+min, the "
    "fact table is scanned exactly once to build edges. Weights round "
    "to 6dp at edge build so both engines relax on bit-identical "
    "state; least()/min() skip NULL (= unreachable) identically. The "
    "oracle unrolls the same rounds as chained CTEs.",
    tags=("graph", "events"),
)
def shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    node_rows = e.select(F.col("event_type").alias("v")).distinct().collect()
    # Bellman-Ford needs |V|-1 relaxations for exactness, but the oracle
    # SQL unrolls exactly SP_ROUNDS CTE rounds at import time — if the
    # fixture ever grows past SP_ROUNDS+1 event types BOTH sides would
    # return identically under-relaxed distances and parity could never
    # catch it (ADVICE r2). Fail loudly instead of silently agreeing.
    if len(node_rows) - 1 > SP_ROUNDS:
        raise ValueError(
            f"g2_shortest_path: {len(node_rows)} event types needs "
            f"{len(node_rows) - 1} relaxation rounds but SP_ROUNDS={SP_ROUNDS}; "
            "raise SP_ROUNDS (the oracle CTE chain follows automatically)."
        )
    edge_rows = (
        _edges(spark, sf_dir)
        .select("src", "dst", F.round(-F.log("weight"), 6).alias("wt"))
        .collect()
    )
    nodes = spark.createDataFrame(node_rows, "v string")
    edges = spark.createDataFrame(edge_rows, "src string, dst string, wt double")

    dist = nodes.select(
        "v", F.when(F.col("v") == SP_SOURCE, F.lit(0.0)).alias("d")
    )
    for _ in range(SP_ROUNDS):
        cand = (
            edges.join(
                dist.filter(F.col("d").isNotNull()).withColumnRenamed("v", "src_v"),
                F.col("src") == F.col("src_v"),
            )
            .groupBy("dst")
            .agg(F.min(F.col("d") + F.col("wt")).alias("m"))
        )
        dist = (
            nodes.join(dist.withColumnRenamed("d", "pd"), "v", "left")
            .join(cand, nodes["v"] == cand["dst"], "left")
            .select("v", F.least("pd", "m").alias("d"))
        )
    return dist.select(
        F.col("v").alias("event_type"), F.round("d", 6).alias("nll_dist")
    )


G3_VALUE_CUT = 200.0  # high-value activity only: keeps co-activity sparse


@register(
    "g3_user_components",
    oracle=f"""
    WITH RECURSIVE ev AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
      FROM events WHERE value >= {G3_VALUE_CUT}
    ),
    hubs AS (
      SELECT event_type, day, min(user_id) AS hub FROM ev GROUP BY 1, 2
    ),
    pairs AS (
      SELECT e.user_id AS doc_a, h.hub AS doc_b
      FROM ev e JOIN hubs h USING (event_type, day)
    ),
    {_COMPONENT_CLUSTERS_ORACLE}""",
    doc="G3: USER-level connected components — cohorts of users linked by "
    "shared high-value activity in the same (event_type, day) group. "
    "Unlike g1/g2 (vocabulary-sized graphs, driver-materialized by "
    "design), this graph is user-sized, so NOTHING touches the driver: "
    "edges come from a star reduction (every user in a group links to "
    "the group's min user — same components as the clique, |group| "
    "edges instead of |group|^2) and components come from the same "
    "distributed min-label propagation as l2e (llm/dedup.py "
    "connected_components: per-round localCheckpoint lineage "
    "truncation, scalar-only convergence probe). This is the "
    "cluster-scale path the graph.py module docstring promises for "
    "user-graphs. Oracle: DuckDB recursive-CTE transitive closure over "
    "the identical star edges.",
    tags=("graph", "events", "iterative"),
)
def user_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") >= G3_VALUE_CUT)
        .select("event_type", F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    hubs = ev.groupBy("event_type", "day").agg(F.min("user_id").alias("hub"))
    # Self-pairs (user == hub) are kept: they contribute no merging but
    # register singleton-group users as graph nodes.
    pairs = ev.join(hubs, ["event_type", "day"]).select(
        F.col("user_id").alias("doc_a"), F.col("hub").alias("doc_b")
    )
    labels = connected_components(pairs)
    return (
        labels.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max("doc_id").alias("max_member"),
        )
    )


# g5: PageRank over the same star-reduced user co-activity graph as g3.
# Both engines round the rank vector to 12dp at the END of every
# iteration, so accumulated float-reorder drift (double sums across
# engines differ in the last ulps, and a user hub can absorb hundreds of
# contributions) is clamped to <= 5e-13 per round and can never flip the
# 6dp output rounding. Edge weights round at build for the same reason.
_UPR_ITER = """
    r{i} AS (
      SELECT n.v,
             round((1 - 0.85) / (SELECT count(*) FROM nodes)
                   + 0.85 * coalesce(c.contrib, 0), 12) AS r
      FROM nodes n LEFT JOIN (
        SELECT w.dst AS v, sum(w.weight * p.r) AS contrib
        FROM w JOIN r{prev} p ON p.v = w.src GROUP BY w.dst
      ) c ON c.v = n.v
    )"""


@register(
    "g5_user_pagerank",
    oracle=f"""
    WITH ev AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
      FROM events WHERE value >= {G3_VALUE_CUT}
    ),
    hubs AS (
      SELECT event_type, day, min(user_id) AS hub FROM ev GROUP BY 1, 2
    ),
    prs AS (
      SELECT DISTINCT e.user_id AS a, h.hub AS b
      FROM ev e JOIN hubs h USING (event_type, day)
      WHERE e.user_id <> h.hub
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM prs
      UNION
      SELECT b AS src, a AS dst FROM prs
    ),
    nodes AS (SELECT DISTINCT user_id AS v FROM ev),
    outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
    w AS (
      SELECT e.src, e.dst, round(1.0 / o.od, 12) AS weight
      FROM edges e JOIN outdeg o USING (src)
    ),
    r0 AS (
      SELECT v, round(1.0 / (SELECT count(*) FROM nodes), 12) AS r FROM nodes
    ),
    """
    + ",\n    ".join(
        _UPR_ITER.format(i=i, prev=i - 1).strip()
        for i in range(1, N_ITERATIONS + 1)
    )
    + f"""
    SELECT v AS user_id, round(r, 6) AS pagerank
    FROM r{N_ITERATIONS} ORDER BY pagerank DESC, user_id ASC
    """,
    doc="G5: USER-level PageRank (damping 0.85, 5 fixed iterations) over "
    "g3's star-reduced co-activity graph — the influence ranking of the "
    "duplicate-cluster / cohort graph. Unlike g1/g2 (vocabulary-sized, "
    "driver-materialized by design), nodes and edges here are user-sized "
    "DataFrames that NEVER touch the driver: the distinct event set "
    "materializes once so the fact table is scanned ONCE (hubs, pairs, "
    "and nodes all derive from the pin — without it, three full events "
    "scans), edge weights come from a window count over the same "
    "src-partitioned shuffle the weight projection needs anyway (no "
    "separate out-degree join), and each iteration is one |edges| join "
    "plus one groupBy whose input UNIONs a zero row per node — the "
    "dangling/edge-less-node left join folded into the aggregate, one "
    "fewer shuffle per round. The FIXED 5 rounds chain lazily into one "
    "linear-lineage plan (each round reads the previous exactly once — "
    "per-round checkpointing is only for unbounded convergence loops, "
    "l2e's case). Only the node count — one scalar — crosses to the "
    "driver, as the teleport constant. Dangling nodes (rank sinks "
    "with no out-edges) keep the simple leak semantics on BOTH engines: "
    "their mass decays rather than redistributing, which needs no "
    "second aggregate per round and is deterministic. Star reduction "
    "keeps this honest at 100 TB: |group| edges per co-activity group "
    "instead of |group|^2, so one hot (event_type, day) cell cannot "
    "produce a quadratic edge set. Oracle: the identical five "
    "iterations unrolled as chained CTEs, with per-round 12dp rank "
    "rounding pinning both engines to bit-identical state.",
    tags=("graph", "events", "iterative"),
)
def user_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from mric_bak_etl_spark.tables import materialize

    # The distinct (event_type, day, user_id) set is materialized FIRST:
    # hubs, pairs, and nodes all derive from it, and without the pin the
    # fact table is scanned three times (hub aggregate, pair probe, node
    # set) — at 100 TB the events scan dominates everything below, so
    # one scan instead of three is the operator's biggest lever.
    ev = materialize(
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") >= G3_VALUE_CUT)
        .select("event_type", F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    hubs = ev.groupBy("event_type", "day").agg(F.min("user_id").alias("hub"))
    prs = (
        ev.join(hubs, ["event_type", "day"])
        .filter(F.col("user_id") != F.col("hub"))
        .select(F.col("user_id").alias("a"), F.col("hub").alias("b"))
        .distinct()
    )
    # hub = min(user_id) of its group and a != hub, so every prs pair
    # has a > b: the forward projection emits only src > dst rows and
    # the reversed one only src < dst — the union is duplicate-free by
    # construction, no distinct needed (one edge-list shuffle saved).
    # Out-degree comes from a window count over the same src-partitioned
    # shuffle the weight projection needs anyway, replacing the former
    # separate groupBy + join + second materialize job.
    edges = prs.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        prs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    w = materialize(
        edges.select(
            "src",
            "dst",
            F.round(
                1.0 / F.count(F.lit(1)).over(Window.partitionBy("src")), 12
            ).alias("weight"),
        )
    )
    nodes = materialize(ev.select(F.col("user_id").alias("v")).distinct())
    n_nodes = nodes.count()  # one scalar: the teleport denominator

    base = (1.0 - DAMPING) / n_nodes
    # Dangling/edge-less nodes re-enter each round as a zero
    # contribution UNIONed into the aggregate input rather than a
    # nodes-LEFT-JOIN after it (r6 verdict: fold the join into the
    # contribs aggregate). Same semantics — sum(c) over the union is
    # exactly coalesce(contrib, 0.0), since adding 0.0 to a double sum
    # is exact — but one fewer stage AND one fewer shuffle per
    # iteration: the zero rows ride the groupBy exchange the iteration
    # already pays, instead of a third per-round join. At 100 TB, where
    # the rank table is too big to broadcast, that removes 5 of 15
    # shuffles from the chain.
    zero = nodes.select("v", F.lit(0.0).alias("c"))
    ranks = nodes.select("v", F.round(F.lit(1.0 / n_nodes), 12).alias("r"))
    for _ in range(N_ITERATIONS):
        # Lazy chaining is deliberate: each round references the previous
        # rank table exactly ONCE (inside the edge contributions), so
        # lineage grows LINEARLY with the fixed 5 iterations and one job
        # executes the whole chain — per-round localCheckpoint would add
        # 5 blocking jobs for no lineage benefit. (Convergence-loop
        # variants with unbounded rounds do need the per-round
        # truncation — see l2e.)
        edge_c = (
            w.join(ranks.withColumnRenamed("v", "src_v"), w["src"] == F.col("src_v"))
            .select(
                F.col("dst").alias("v"),
                (F.col("weight") * F.col("r")).alias("c"),
            )
        )
        ranks = (
            edge_c.unionByName(zero)
            .groupBy("v")
            .agg(
                F.round(
                    F.lit(base) + DAMPING * F.sum("c"), 12
                ).alias("r")
            )
        )
    return ranks.select(
        F.col("v").alias("user_id"), F.round("r", 6).alias("pagerank")
    )


# g4 edge construction: co-activity at the HOUR grain (scale-invariant
# group sizes, unlike day-grain which densifies linearly with corpus
# size), high-value events only, and an explicit group-size cap before
# the pairwise materialization.
G4_VALUE_CUT = 100.0
G4_MAX_GROUP = 20


@register(
    "g4_triangle_count",
    oracle=f"""
    WITH ev AS (
      SELECT DISTINCT event_type, date_trunc('hour', ts::TIMESTAMP) AS d,
             user_id
      FROM events WHERE value >= {G4_VALUE_CUT}
    ),
    gs AS (SELECT event_type, d, count(*) AS n FROM ev GROUP BY 1, 2),
    small AS (
      SELECT e.* FROM ev e JOIN gs USING (event_type, d)
      WHERE gs.n BETWEEN 2 AND {G4_MAX_GROUP}
    ),
    edges AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM small a JOIN small b
        ON a.event_type = b.event_type AND a.d = b.d AND a.user_id < b.user_id
    ),
    deg AS (
      SELECT node, count(*) AS dg
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN (da.dg, u) < (db.dg, v) THEN u ELSE v END AS s,
             CASE WHEN (da.dg, u) < (db.dg, v) THEN v ELSE u END AS t
      FROM edges JOIN deg da ON da.node = u JOIN deg db ON db.node = v
    ),
    tri AS (
      SELECT e1.s, e1.t, e2.t AS w
      FROM oriented e1
      JOIN oriented e2 ON e2.s = e1.t
      JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t
    )
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT)   AS n_nodes,
           CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM tri) AS BIGINT)   AS n_triangles
    """,
    doc="G4: distributed triangle counting over the user co-activity "
    "graph (users sharing a high-value (event_type, hour) group) — the "
    "clustering-coefficient numerator, the standard cohesion metric "
    "next to g3's components. Fully distributed, no driver collect: "
    "edges materialize only inside groups pre-capped at "
    f"{G4_MAX_GROUP} members (the cap bounds the pairwise fan-out; "
    "denser blobs belong to g3's star/components path, not a clique "
    "expansion), then every edge is ORIENTED from its (degree, id)-"
    "smaller endpoint to the larger — the classic trick that makes "
    "wedge counting O(m^1.5) instead of degree-quadratic, because "
    "wedges only form at each node's out-side, whose size is bounded "
    "by sqrt(m) after orientation. Two self-joins on the oriented "
    "edge table (wedge build + closing-edge check) are the whole "
    "compute: three narrow shuffles on user-id keys, hot keys "
    "flattened by the orientation itself. Hour grain keeps group "
    "sizes scale-invariant where day grain densifies with corpus "
    "growth.",
    tags=("graph", "events"),
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") >= G4_VALUE_CUT)
        .select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("d"),
            "user_id",
        )
        .distinct()
    )
    sizes = ev.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("n"))
    small = ev.join(
        sizes.filter(F.col("n").between(2, G4_MAX_GROUP)),
        ["event_type", "d"],
    ).select("event_type", "d", "user_id")

    from mric_bak_etl_spark.tables import materialize

    a = small.alias("a")
    b = small.alias("b")
    # The edge table is THE working set — deg reads it twice, orientation
    # once, the final count once; left lazy, each consumer re-expands the
    # whole ev->sizes->small->self-join lineage (72 scans in the static
    # plan, 2.1 s at sf0.1). Materialized (persisted table on a cluster):
    # 0.9 s, flat plan.
    edges = materialize(
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.d") == F.col("b.d"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )

    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    lower_first = (F.col("da.dg") < F.col("db.dg")) | (
        (F.col("da.dg") == F.col("db.dg")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(da, F.col("da.node") == F.col("u"))
        .join(db, F.col("db.node") == F.col("v"))
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    # Wedge build + closing-edge check: with edges pinned, the oriented
    # table is cheap to derive but still has three consumers — pin it
    # too so the degree joins run once.
    o = materialize(oriented)
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    wedges = e1.join(e2, F.col("e2.s") == F.col("e1.t")).select(
        F.col("e1.s").alias("x"), F.col("e1.t").alias("y"), F.col("e2.t").alias("z")
    )
    tri = wedges.join(
        e3, (F.col("e3.s") == F.col("x")) & (F.col("e3.t") == F.col("z"))
    )

    counts = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    summary = (
        deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .crossJoin(
            edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
        )
        .crossJoin(counts)
    )
    return summary.select("n_nodes", "n_edges", "n_triangles")
