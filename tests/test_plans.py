"""Physical-plan audit (SURVEY.md §4.2 / the 100 TB posture).

Correctness tests prove the answers are right; these prove the PLANS are
right — the properties that decide whether an operator survives a 100×
scale-up: filters pushed to the parquet reader, projections pruned into
ReadSchema, dimension joins broadcast, no Python in JVM-only pipelines,
top-k compiled to TakeOrderedAndProject rather than a global sort.
"""

from __future__ import annotations

import re

import pytest
from pathlib import Path

from mric_bak_etl_spark.catalog import all_specs
from mric_bak_etl_spark.operators.joins import broadcast_dims
from mric_bak_etl_spark.operators.projection import filter_predicates, parquet_scan
from mric_bak_etl_spark.operators.sort import topk_orders
from mric_bak_etl_spark.operators.aggregates import pricing_summary


def plan_of(df, mode: str = "formatted") -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


# Session-scoped analyzed-plan cache: building a catalog DataFrame is the
# expensive step (iterative builders localCheckpoint, sink builders write),
# and the whole-catalog Python-stage sweep plus ~a dozen single-query plan
# assertions would otherwise each rebuild the same plans. One build per
# (query, session); cache stores formatted plan TEXT only — tests needing
# to execute a DataFrame still build their own.
_PLAN_CACHE: dict[str, str] = {}


@pytest.fixture(scope="session")
def catalog_plan(spark, sf_dir):
    def get(name: str) -> str:
        if name not in _PLAN_CACHE:
            _PLAN_CACHE[name] = plan_of(all_specs()[name].builder(spark, sf_dir))
        return _PLAN_CACHE[name]

    return get


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    plan = plan_of(filter_predicates(spark, sf_dir))
    assert "PushedFilters: [" in plan
    # At least the sargable conjuncts arrive at the scan.
    assert "GreaterThanOrEqual(p_size,10)" in plan
    assert "In(p_brand" in plan
    assert "IsNotNull(p_retailprice)" in plan


def test_column_pruning_shrinks_read_schema(spark, sf_dir):
    plan = plan_of(parquet_scan(spark, sf_dir))
    # 11-column lineitem, 1 referenced column: ReadSchema carries only it.
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_shipdate" in read_schema
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" not in read_schema


def test_dimension_joins_are_broadcast(spark, sf_dir):
    plan = plan_of(broadcast_dims(spark, sf_dir))
    # Both dimension joins broadcast (tree + detail sections each mention
    # the node, so count the tree lines), and nothing fell back to SMJ.
    tree = plan.split("(1) Scan")[0]
    assert tree.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    plan = plan_of(topk_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_flagship_is_whole_stage_codegen_and_partial_agg(spark, sf_dir):
    simple = plan_of(pricing_summary(spark, sf_dir), "simple")
    # Two-phase hash aggregation: partial (map-side) combine before the
    # exchange — the property that keeps the shuffle proportional to group
    # count, not row count. (Codegen markers only appear in the post-AQE
    # final plan, so partial_sum is the reliable static signal.)
    assert "partial_sum" in simple
    tree = plan_of(pricing_summary(spark, sf_dir)).split("(1) Scan")[0]
    assert tree.count("HashAggregate") == 2
    assert "Exchange" in tree


def test_partitioned_snapshot_prunes_partitions(spark, sf_dir):
    from mric_bak_etl_spark.pipeline.queries import partitioned_snapshot

    plan = plan_of(partitioned_snapshot(spark, sf_dir))
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    # The year filter is a partition filter (directory pruning), not a data
    # filter: the scan never opens 1995/1998+ files.
    assert "ship_year" in pf and "1996" in pf and "1997" in pf


def test_exists_subquery_decorrelates_to_semi_join(spark, sf_dir):
    from mric_bak_etl_spark.operators.subqueries import exists_correlated

    plan = plan_of(exists_correlated(spark, sf_dir))
    # Catalyst rewrote the correlated EXISTS into a semi join — Spark has
    # no per-row subquery re-execution, so this is what "supports EXISTS"
    # means physically.
    assert "LeftSemi" in plan


def test_lateral_limit_decorrelates_to_window(spark, sf_dir):
    from mric_bak_etl_spark.operators.subqueries import lateral_topk

    plan = plan_of(lateral_topk(spark, sf_dir))
    tree = plan.split("(1) ")[0]
    assert "Window" in tree
    assert "BroadcastNestedLoopJoin" not in tree  # would be O(n*m) at scale


def test_tpch_q5_dimension_joins_all_broadcast(spark, sf_dir):
    from mric_bak_etl_spark.operators.tpch import local_supplier_volume

    plan = plan_of(local_supplier_volume(spark, sf_dir))
    tree = plan.split("(1) ")[0]
    # Every dimension join (customer/supplier/nation/region) broadcasts;
    # no dimension ever shuffles the fact side. (At test scale even
    # orders⋈lineitem broadcasts — at 100 TB it becomes the one SMJ.)
    assert tree.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in tree


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    from mric_bak_etl_spark.operators.joins import bucketed_colocated_join

    # Pin SMJ (at test scale AQE would broadcast and hide the point): with
    # both sides bucketed+sorted on the key, the join needs NO exchange —
    # the shuffle was pre-paid at write time.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(bucketed_colocated_join(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan
    join_tree = plan.split("(1) ")[0]
    smj_pos = join_tree.find("SortMergeJoin")
    assert smj_pos != -1
    # No Exchange below the join (the tree prints children after the join
    # node): everything after the SMJ line down to the scans is shuffle-free.
    assert "Exchange" not in join_tree[smj_pos:]


def test_no_python_udfs_outside_declared_pandas_stages(spark, sf_dir, catalog_plan):
    # Every catalog query except the declared pandas stages must stay
    # JVM-side: no BatchEvalPython / ArrowEvalPython in the plan.
    pandas_ok = {"x1_unzip_payload", "m2_feature_extract", "m3_frame_sample",
                 "m4_resize", "m7_bmp_decode", "m8_bmp_channel_stats",
                 "m9_wav_decode", "m10_wav_window_stats", "m11_ppm_decode",
                 "m12_zip_manifest", "m13_zip_deflate_manifest",
                 "m14_zip_persisted_manifest",
                 # NOT m10b: the portable twin must stay JVM-only — that
                 # is its contract, and this guard is what enforces it.
                 "x2_grouped_pandas_agg",
                 "t6_stateful_custom",
                 "x3_python_udtf", "x4_scalar_pandas_udf", "x5_map_in_arrow",
                 "x6_grouped_pandas_map", "x7_polymorphic_udtf",
                 "x8_arrow_python_udf", "x9_iter_pandas_udf",
                 "x10_grouped_arrow_apply", "x11_arrow_udtf"}
    offenders = []
    for name in sorted(set(all_specs()) - pandas_ok):
        plan = catalog_plan(name)
        if ("EvalPython" in plan or "MapInPandas" in plan
                or "FlatMapGroupsInPandas" in plan or "MapInArrow" in plan):
            offenders.append(name)
    assert not offenders, f"Python crept into JVM-only queries: {offenders}"


# Queries whose registered operator IS the total sort, so the global sort
# at their plan root is the thing they demonstrate, not presentation.
_ROOT_SORT_OK = {
    "o1_multikey_sort": "its doc names the range-partitioned multi-key sort "
                        "as the operator it demonstrates",
}


def _physical_root_is_global_sort(plan: str) -> bool:
    tree = plan.split("== Physical Plan ==\n", 1)[1].split("\n\n", 1)[0]
    nodes = re.findall(r"^[\s+\-:*]*(.+?) \((\d+)\)$", tree, re.M)
    if nodes and nodes[0][0] == "AdaptiveSparkPlan":
        nodes = nodes[1:]
    name, node_id = nodes[0]
    if name != "Sort":
        return False
    detail = re.search(rf"^\({node_id}\) Sort\n(.*?)(?:\n\n|\Z)", plan, re.M | re.S)
    args = re.search(r"^Arguments: .*$", detail.group(1), re.M).group(0)
    return bool(re.search(r", true, \d+$", args))  # global=true


def test_no_presentational_root_sort(catalog_plan):
    # Row order is not part of a result (catalog.py header): a global Sort
    # at the plan root is a range exchange plus a bounds-sampling job that
    # re-runs the pre-sort subtree, for an order the compare ignores.
    # Top-k sorts plan as TakeOrderedAndProject or sit under a limit, and
    # sorts feeding a window or a write sit below the root, so neither
    # trips this.
    offenders = [
        name for name in sorted(all_specs())
        if name not in _ROOT_SORT_OK
        and _physical_root_is_global_sort(catalog_plan(name))
    ]
    assert not offenders, (
        f"{len(offenders)} queries end in a presentational global sort: "
        f"{offenders}"
    )
    stale = [n for n in _ROOT_SORT_OK if not _physical_root_is_global_sort(catalog_plan(n))]
    assert not stale, f"allow-listed queries no longer end in a sort: {stale}"


def test_dynamic_partition_pruning_in_plan(spark, sf_dir):
    # The s8 fact scan must carry a runtime pruning predicate on the
    # partition column — proof the dim filter cuts partitions, not rows.
    from mric_bak_etl_spark.pipeline.lifecycle import dynamic_partition_pruning

    plan = plan_of(dynamic_partition_pruning(spark, sf_dir))
    assert "dynamicpruning" in plan.lower()


def test_bucketed_range_join_is_hash_not_nested_loop(spark, sf_dir):
    # j11's whole point: the bucket key gives Catalyst an equi conjunct, so
    # the range predicate rides a hash join as a residual — the naive theta
    # form would be BroadcastNestedLoopJoin (quadratic at scale).
    from mric_bak_etl_spark.operators.joins import bucketed_range_join

    plan = plan_of(bucketed_range_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_product_profit_single_wide_shuffle(spark, sf_dir):
    # h9: part/supplier/nation broadcast; only orders⋈lineitem may shuffle.
    from mric_bak_etl_spark.operators.tpch import product_profit

    plan = plan_of(product_profit(spark, sf_dir))
    tree = plan.split("(1) Scan")[0]
    assert tree.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan or tree.count("SortMergeJoin") <= 1


def test_decontamination_eval_grams_broadcast(spark, sf_dir):
    # l13: the eval-set gram table must broadcast — a shuffled join keyed on
    # gram strings over the full corpus would be the scale failure mode.
    from mric_bak_etl_spark.llm.text import decontamination

    plan = plan_of(decontamination(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_unpivot_is_expand_no_shuffle_after_agg(spark, sf_dir):
    # a13: unpivot compiles to Expand (local fan-out), never a union of
    # re-scans and no extra exchange beyond the aggregate's own.
    from mric_bak_etl_spark.operators.aggregates import unpivot_measures

    plan = plan_of(unpivot_measures(spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_gaps_islands_single_user_shuffle(spark, sf_dir):
    # e3: both window passes and the session aggregate share the user_id
    # partitioning — exactly one exchange on user_id in the whole plan
    # (plus the presentation sort's range exchange).
    from mric_bak_etl_spark.operators.events import gaps_islands

    plan = plan_of(gaps_islands(spark, sf_dir))
    hash_exchanges = [
        l
        for l in plan.splitlines()
        if l.strip().startswith("Arguments: hashpartitioning")
    ]
    assert len(hash_exchanges) == 1, hash_exchanges


def test_stream_static_dims_broadcast(spark, sf_dir, catalog_plan):
    # t8's nation/region sides must be BroadcastHashJoin — the property
    # that makes the streaming form stateless per micro-batch.
    plan = catalog_plan("t8_stream_static_join")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_semdedup_centroids_broadcast_no_pairwise(spark, sf_dir, catalog_plan):
    # l17: the centroid table broadcasts back to the vectors, and there is
    # no self-join of the embeddings table (SemDeDup's whole point).
    plan = catalog_plan("l17_semdedup")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_unigram_vocab_joins_broadcast(spark, sf_dir, catalog_plan):
    # l18: token→vocab scoring join must broadcast the vocab, never
    # sort-merge the exploded token stream.
    plan = catalog_plan("l18_unigram_lm")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shuffle_hash_hint_takes_effect(spark, sf_dir, catalog_plan):
    # j14: the hint must yield ShuffledHashJoin — not SMJ (whose sorts the
    # hint exists to skip) and not a broadcast (which would make the test
    # vacuous; the orders side at sf0.01 is above the broadcast default).
    plan = catalog_plan("j14_shuffle_hash_join")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_partitioned_sort_layout(spark, sf_dir):
    # o3: the layout subtree (before the verifying agg) must be a RANGE
    # exchange followed by a partition-local sort — global order with no
    # single-partition Sort node.
    from mric_bak_etl_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    laid_out = o.repartitionByRange(8, "o_orderdate").sortWithinPartitions(
        "o_orderdate", "o_orderkey"
    )
    plan = plan_of(laid_out, "simple")
    assert "rangepartitioning" in plan.lower()
    # Sort prints as `Sort [keys], global, sortLimit` in simple mode; the
    # layout must contain only partition-local (global=false) sorts.
    sort_lines = [l for l in plan.splitlines() if "Sort [" in l]
    assert sort_lines and all("], false, " in l for l in sort_lines)


def test_w3_sort_key_is_total_order(spark, sf_dir):
    # w3's ROWS-frame determinism rests on (l_shipdate, l_orderkey,
    # l_linenumber, l_partkey, l_suppkey) being UNIQUE in the fixture —
    # an empirical property, not one guaranteed by construction (the
    # 4-column key without shipdate already collides at sf0.001). If a
    # regenerated fixture breaks it, running_qty/moving_avg_price become
    # tie-order-dependent and diverge from the oracle silently; fail
    # loudly here instead.
    from mric_bak_etl_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    key = ["l_shipdate", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
    total = li.count()
    distinct = li.select(*key).distinct().count()
    assert distinct == total, (
        f"w3 window sort key is not a total order: {total - distinct} "
        f"duplicate key rows in {sf_dir}/lineitem"
    )


def test_pagination_and_path_tiebreak_keys_are_unique(spark, sf_dir):
    # o4 pages by (o_orderdate, o_orderkey) and e6 orders per-user events
    # by (ts, event_id): both depend on o_orderkey / event_id staying
    # unique. FIXTURES.md documents them as keys, but a regenerated
    # fixture that drops the guarantee would make page boundaries and
    # 3-step paths tie-order-dependent and silently oracle-divergent.
    from mric_bak_etl_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    assert o.count() == o.select("o_orderkey").distinct().count()
    e = load_table(spark, sf_dir, "events")
    assert e.count() == e.select("event_id").distinct().count()


def test_interval_overlap_join_is_hash_join(spark, sf_dir, catalog_plan):
    # j12: the day-bucket rewrite must produce a hash-family join on the
    # bucket key with the overlap predicate as a residual — NOT a
    # BroadcastNestedLoopJoin, which is the O(n*m) shape the rewrite
    # exists to avoid at scale.
    plan = catalog_plan("j12_interval_overlap_join")
    assert "NestedLoop" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_kmeans_corpus_never_shuffles_on_assignment(spark, sf_dir, catalog_plan):
    # l19: every assignment pass must broadcast the k×dim centroid table;
    # a sort-merge join there would shuffle the full corpus once per
    # Lloyd round.
    plan = catalog_plan("l19_kmeans")
    assert "SortMergeJoin" not in plan


def test_pagerank_iterations_join_rank_table_not_events(spark, sf_dir, catalog_plan):
    # g1: the events table feeds the edge aggregation exactly once; the
    # 5 iteration joins run against the |nodes|-sized rank table. If the
    # per-iteration join degenerated to re-scanning events the plan
    # would contain one events scan per iteration.
    plan = catalog_plan("g1_pagerank")
    n_event_scans = plan.count("events.parquet")
    # the edge/node tables are materialized before the loop, so the
    # iteration plan must contain ZERO events scans — one scan per
    # iteration is the failure mode this guards against.
    assert n_event_scans == 0, f"events scanned {n_event_scans} times"


def test_jdbc_read_pushes_predicate_to_database(spark, sf_dir):
    # s13: the read-back filter must appear as PushedFilters on the JDBC
    # scan (shipped as WHERE to the database) — if it evaluates Spark-side
    # the whole table crosses the wire, which is the difference between a
    # predicate-sized and a table-sized transfer against the reference's
    # SQL Server target.
    df = all_specs()["s13_jdbc_roundtrip"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    jdbc_lines = [l for l in plan.splitlines() if "JDBCRelation" in l]
    assert jdbc_lines, "expected a JDBC scan in the plan"
    assert any("GreaterThan(o_totalprice" in l for l in jdbc_lines), (
        "price predicate not pushed into the JDBC scan"
    )


def test_approx_percentile_within_rank_error(spark, sf_dir, duck):
    # a21: the GK sketch bounds RANK error (<= n/accuracy = 1e-4*n), not
    # value error — a rank-accurate answer on a skewed distribution can
    # legitimately exceed any fixed value tolerance (ADVICE r2). So
    # assert in rank space: the returned value's rank interval
    # [count(<v), count(<=v)] must overlap n*(q ± eps), +1 row of slack
    # because the sketch returns an actual element, not an interpolation.
    rows = {
        r["l_returnflag"]: (r["p50"], r["p95"], r["p99"])
        for r in all_specs()["a21_approx_percentile"].builder(spark, sf_dir).collect()
    }
    for flag, (p50, p95, p99) in rows.items():
        for q, got in [(0.5, p50), (0.95, p95), (0.99, p99)]:
            n, lo, hi = duck.execute(
                """SELECT count(*),
                          count(*) FILTER (WHERE l_extendedprice < ?),
                          count(*) FILTER (WHERE l_extendedprice <= ?)
                   FROM lineitem WHERE l_returnflag = ?""",
                [got, got, flag],
            ).fetchone()
            eps = 1e-4 * n + 1
            assert lo <= q * n + eps and hi >= q * n - eps, (
                flag, q, got, lo, hi, n,
            )


def test_scd2_lookup_is_hash_join_with_residual(spark, sf_dir, catalog_plan):
    # r20: the validity-window predicate must ride the equi join as a
    # residual — a nested-loop here would be O(facts × versions) at scale.
    plan = catalog_plan("r20_scd2_asof_lookup")
    assert "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_g2_rounds_cover_fixture_vocabulary(duck):
    # g2's oracle unrolls exactly SP_ROUNDS Bellman-Ford CTEs at import,
    # and the Spark side runs the same count — if the fixture grows past
    # SP_ROUNDS+1 event types both sides agree on under-relaxed distances
    # and parity can't catch it (ADVICE r2). The builder raises at
    # runtime; this guard fails the suite as soon as the fixture drifts.
    from mric_bak_etl_spark.operators.graph import SP_ROUNDS

    n_types = duck.execute(
        "SELECT count(DISTINCT event_type) FROM events"
    ).fetchone()[0]
    assert n_types - 1 <= SP_ROUNDS, (
        f"fixture has {n_types} event types; raise SP_ROUNDS to {n_types - 1}"
    )


def test_bloom_prejoin_probe_filters_before_join(spark, sf_dir):
    """j15: the bloom probe must be a map-side Filter on the fact scan
    BELOW the dim join (pruning before the shuffle is the whole point),
    the bloom itself must arrive by broadcast, and the probe must
    actually prune — a hash/word-index mismatch between build and probe
    sides would silently degrade to pass-everything (results stay
    correct via the real join, but the pattern would be dead weight)."""
    from pyspark.sql import functions as F

    from mric_bak_etl_spark.operators.joins import bloom_prejoin

    plan = plan_of(bloom_prejoin(spark, sf_dir))
    assert "getbit" in plan  # probe compiled to JVM bit test
    assert "BroadcastHashJoin" in plan

    # Behavioral pruning check on the probe stage itself: the probe must
    # keep every true match (no false negatives — a bloom invariant) and
    # prune non-matching orders down to the false-positive regime
    # (m=64Ki bits, k=2 over a few thousand keys -> fp well under 20%;
    # a build/probe mismatch passes ~100%).
    from mric_bak_etl_spark.operators.joins import bloom_probe
    from mric_bak_etl_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    keys = c.select("c_custkey")
    survivors = bloom_probe(o, keys, "c_custkey", "o_custkey").count()
    true_matches = o.join(
        keys, o["o_custkey"] == F.col("c_custkey"), "left_semi"
    ).count()
    n_orders = o.count()
    non_matches = n_orders - true_matches
    assert survivors >= true_matches  # no false negatives, ever
    assert survivors - true_matches <= max(2, int(0.2 * non_matches)), (
        f"bloom passes too much: {survivors - true_matches} false "
        f"positives of {non_matches} non-matching orders"
    )


def test_bottomk_sample_is_take_ordered(spark, sf_dir):
    """l21: bottom-k sampling must compile to TakeOrderedAndProject
    (per-partition heaps), never a global Sort+Limit."""
    from mric_bak_etl_spark.llm.sampling import bottomk_sample

    plan = plan_of(bottomk_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_triangle_orientation_halves_edges(spark, sf_dir):
    """g4: every undirected edge appears exactly once in the oriented
    table (orientation is a bijection on edges), and out-degrees after
    orientation are bounded well below raw degrees for hub nodes —
    the property that keeps wedge counting O(m^1.5)."""
    from pyspark.sql import functions as F

    from mric_bak_etl_spark.operators.graph import G4_MAX_GROUP, G4_VALUE_CUT
    from mric_bak_etl_spark.tables import load_table

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
        sizes.filter(F.col("n").between(2, G4_MAX_GROUP)), ["event_type", "d"]
    ).select("event_type", "d", "user_id")
    a, b = small.alias("a"), small.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.d") == F.col("b.d"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    n_edges = edges.count()
    assert n_edges > 0, "fixture produced no co-activity edges"

    # Build the oriented table exactly as g4 does: each edge points from
    # its lower-degree endpoint to its higher-degree one (node id breaks
    # degree ties).
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

    # Orientation is a bijection on edges: same cardinality, and every
    # oriented pair maps back to exactly one undirected {u,v} edge when
    # re-canonicalized to (min, max).
    assert oriented.count() == n_edges
    recanon = oriented.select(
        F.least("s", "t").alias("u"), F.greatest("s", "t").alias("v")
    )
    assert recanon.distinct().count() == n_edges
    assert recanon.exceptAll(edges).count() == 0
    assert edges.exceptAll(recanon).count() == 0

    # The point of orienting toward the higher-degree endpoint: hub
    # out-degrees collapse. Out-degree after orientation must never
    # exceed the node's raw degree, and the max out-degree must not
    # exceed the max raw degree (strictly less whenever a hub exists;
    # the weak form holds on any graph so the test can't go stale).
    outdeg = oriented.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("od")
    )
    viol = (
        outdeg.join(deg, "node")
        .filter(F.col("od") > F.col("dg"))
        .count()
    )
    assert viol == 0, "a node's out-degree exceeded its raw degree"
    max_out = outdeg.agg(F.max("od")).collect()[0][0]
    max_deg = deg.agg(F.max("dg")).collect()[0][0]
    assert max_out <= max_deg


def test_hll_sketch_merge_is_lossless(spark, sf_dir):
    """a23: union of per-day sketches must estimate exactly what one
    sketch over the whole range estimates — the identity that makes
    stored-sketch rollups trustworthy."""
    from pyspark.sql import functions as F

    from mric_bak_etl_spark.tables import load_table

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sketch")
    )
    merged = daily.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias("est")
    ).collect()[0]["est"]
    direct = e.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("est")
    ).collect()[0]["est"]
    assert merged == direct


def test_bench_headline_names_exist():
    """HEADLINE now lives in the catalog (r10 verdict task 6) and
    headline_names() validates membership against the registry — a
    renamed query must update the list, not quietly vanish from the
    benchmark. This pin exercises exactly what bench.py calls;
    tests/test_catalog.py carries the new-query-must-join guard."""
    from mric_bak_etl_spark.catalog import HEADLINE, headline_names

    assert headline_names() == list(HEADLINE)


def test_round3_fixture_shape_assumptions(spark, sf_dir):
    """Round-3 oracles lean on fixture properties that a regenerated
    fixture could silently break IN BOTH ENGINES AT ONCE (the class the
    g2 SP_ROUNDS guard covers): a20's exact-sketch regime needs
    NDV(o_orderpriority) <= k=5; q8's WHILE bound assumes some threshold
    admits >= 100 orders; dq7's bucket width needs a non-degenerate
    price range. Loud failures here beat silent lockstep drift."""
    from pyspark.sql import functions as F

    from mric_bak_etl_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    row = o.agg(
        F.countDistinct("o_orderpriority").alias("ndv_pri"),
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    ).collect()[0]
    assert row["ndv_pri"] <= 5, "a20 leaves its exact regime (k < NDV)"
    assert row["n"] >= 100, "q8's threshold search can no longer terminate via n>=100"
    assert row["lo"] < row["hi"], "dq7's equal-width buckets degenerate"


def test_user_pagerank_never_rescans_events(spark, sf_dir, catalog_plan):
    # g5: edges/nodes/weights localCheckpoint before the loop, each rank
    # round localCheckpoints after — the final plan must contain ZERO
    # events scans (the iterative-lineage blowup this pattern prevents
    # would show up as one full fact scan per iteration).
    plan = catalog_plan("g5_user_pagerank")
    n_event_scans = plan.count("events.parquet")
    assert n_event_scans == 0, f"events scanned {n_event_scans} times"


def test_user_pagerank_mass_and_isolated_nodes(spark, sf_dir):
    # g5 semantics: with leak-style dangling handling total rank mass is
    # <= 1 (strictly, when any isolated node exists) and every rank is
    # at least the teleport floor (1-d)/N. Isolated users (alone in all
    # their co-activity groups: no edges) must sit EXACTLY at the floor
    # after iteration 1 and stay there.
    from pyspark.sql import functions as F

    from mric_bak_etl_spark.operators.graph import DAMPING, G3_VALUE_CUT
    from mric_bak_etl_spark.tables import load_table

    ranks = all_specs()["g5_user_pagerank"].builder(spark, sf_dir)
    rows = {r["user_id"]: r["pagerank"] for r in ranks.collect()}
    n = len(rows)
    assert n > 0
    floor = round((1.0 - DAMPING) / n, 6)
    assert sum(rows.values()) <= 1.0 + 1e-6
    assert min(rows.values()) >= floor - 1e-6

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") >= G3_VALUE_CUT)
        .select("event_type", F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    gsize = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("gs")
    )
    isolated = (
        ev.join(gsize, ["event_type", "day"])
        .groupBy("user_id")
        .agg(F.max("gs").alias("max_gs"))
        .filter(F.col("max_gs") == 1)
    )
    iso_ids = [r["user_id"] for r in isolated.collect()]
    for uid in iso_ids:
        assert abs(rows[uid] - floor) <= 2e-6, (uid, rows[uid], floor)
    if iso_ids:
        assert sum(rows.values()) < 1.0  # mass actually leaked


def test_verify_first_covers_all_never_verified_queries():
    # The load-bearing verification-order list (ADVICE r3: keep its
    # rationale from drifting): every catalog query with no green driver
    # CORRECTNESS row across recorded rounds must appear in _VERIFY_HEAD,
    # and the head must contain no unknown names or duplicates — otherwise
    # a round's ~50-query budget lands on already-green entries while
    # unverified operators starve. The check is against the head, the part
    # whose membership is a choice: the whole queue holds every registered
    # name, so membership there is always true.
    import glob
    import json

    from mric_bak_etl_spark.catalog import _VERIFY_HEAD

    specs = all_specs()
    assert len(_VERIFY_HEAD) == len(set(_VERIFY_HEAD))
    assert not [n for n in _VERIFY_HEAD if n not in specs]

    seen = set()
    repo_root = Path(__file__).resolve().parents[1]
    for path in sorted(glob.glob(str(repo_root / "CORRECTNESS_r*.json"))):
        for name, row in json.load(open(path)).items():
            if row.get("hash_match") is True or row.get("err") == "no_oracle":
                seen.add(name)
    never = {n for n in specs if n not in seen}
    missing = never - set(_VERIFY_HEAD)
    assert not missing, (
        f"{len(missing)} never-driver-verified queries absent from "
        f"_VERIFY_HEAD: {sorted(missing)}"
    )


def test_verify_first_queues_every_changed_code_consumer():
    # Round-8 post-mortem (r8 verdict task 2): the shared stream_events
    # helper changed and the hand-maintained re-confirmation block missed
    # one of its six registered consumers (s16, a transitive consumer two
    # modules away). This sweep is the mechanical replacement: diff the
    # working tree against the driver's round-base commit, walk every
    # registered builder's transitive global references (function-local
    # imports included), and demand a queries() slot for every query
    # whose code — builder, helper, or oracle-fragment constant — changed
    # this round, so the driver collects a post-change row for each.
    import pytest

    from mric_bak_etl_spark.catalog import queries
    from mric_bak_etl_spark.introspect import (
        consumers_of_changed,
        round_base_commit,
    )

    # Decorator-only edits must be visible: most verification contracts
    # (oracle SQL, docs) live inside @register(...) decorators, which
    # ast.get_source_segment EXCLUDES from the bare node — an oracle fix
    # was invisible to the sweep until the segment was widened (round-9
    # review finding, reproduced on t10).
    from mric_bak_etl_spark.introspect import _top_level_symbols

    a = "@register('q', oracle='SELECT 1')\ndef f():\n    return 1\n"
    b = "@register('q', oracle='SELECT 2')\ndef f():\n    return 1\n"
    assert _top_level_symbols(a)["f"] != _top_level_symbols(b)["f"]

    if round_base_commit() is None:
        pytest.skip("no round-base commit (fresh clone without history)")
    hits = consumers_of_changed()
    missing = sorted(set(hits) - set(queries()))
    assert not missing, (
        "queries running changed code this round but not queued for a "
        "post-change driver row: "
        + "; ".join(
            f"{q} (via {', '.join(f'{m}.{n}' for m, n in sorted(hits[q]))})"
            for q in missing
        )
    )


def test_duplication_profile_shuffles_hashes_not_text(catalog_plan):
    # l41's 100 TB claim: text never shuffles — the md5 projection and
    # map-side partial count happen BEFORE the exchange, so every
    # Exchange input is (hash, count)-shaped. A regression that let the
    # raw text column reach an exchange would move corpus bytes across
    # the cluster for a histogram.
    plan = catalog_plan("l41_duplication_profile")
    lines = plan.splitlines()
    exchanges = 0
    for i, line in enumerate(lines):
        if line.strip().endswith("Exchange") and line.strip().startswith("("):
            exchanges += 1
            block = "\n".join(lines[i : i + 4])
            assert "text#" not in block, f"text shuffled:\n{block}"
    assert exchanges >= 2  # hash-grain + histogram-grain aggregations


def test_time_to_conversion_single_event_pass(spark, sf_dir, catalog_plan):
    # e10: the life-table inputs come from ONE user-grain aggregate that
    # localCheckpoints; the final plan must contain ZERO events scans —
    # the regression this guards is the 3-scan shape (horizon max,
    # signup minima, conversion join) the operator replaced.
    plan = catalog_plan("e10_time_to_conversion")
    n = plan.count("events.parquet")
    assert n == 0, f"events scanned {n} times in the post-checkpoint plan"


def test_event_type_initials_are_distinct(duck):
    # e9 compresses event types to their first character on BOTH engines;
    # if the fixture ever gains two types sharing an initial, Spark and
    # the oracle would still AGREE (same compression) while the pattern
    # semantics silently blur — the g2-style failure parity can't catch.
    # Fail loudly here instead.
    n_types, n_initials = duck.execute(
        """SELECT count(DISTINCT event_type),
                  count(DISTINCT substr(event_type, 1, 1))
           FROM events"""
    ).fetchone()
    assert n_types == n_initials, (
        f"{n_types} event types but only {n_initials} distinct initials — "
        "e9's one-char compression is no longer injective; switch it to "
        "a type->symbol map"
    )


def test_lineitem_linenumber_fits_pack_width(duck):
    # dq9 packs (l_orderkey, l_linenumber) as orderkey*1000+linenumber on
    # BOTH engines — a linenumber >= 1000 would alias keys and both
    # sides would agree on an undercounted duplicate mass (the silent-
    # agreement failure class). Fail loudly when the fixture outgrows
    # the pack width.
    mx = duck.execute("SELECT max(l_linenumber) FROM lineitem").fetchone()[0]
    assert mx < 1000, f"l_linenumber reaches {mx}; widen dq9's pack factor"


def test_null_skew_join_filters_nulls_before_shuffle(spark, sf_dir):
    # j16: the joined branch must filter cust_fk IS NOT NULL below the
    # join (null rows ride the union branch, not the shuffle) — if the
    # filter disappears, every null-keyed row funnels through one hash
    # partition again and the rewrite is decorative.
    df = all_specs()["j16_null_skew_outer_join"].builder(spark, sf_dir)
    plan = plan_of(df)
    assert "Union" in plan
    # Catalyst collapses the cust_fk alias into CASE filters over the
    # source column: the JOIN branch keeps only possibly-non-null keys,
    # the bypass branch keeps only null keys — both pushed into the
    # scan as DataFilters.
    low = plan.lower()
    assert "isnotnull(o_custkey" in low, plan[:600]
    assert "isnull(o_custkey" in low, plan[:600]


def test_incremental_dedup_plans_are_hash_joins(catalog_plan):
    # l38/l39 sell the "index probe" story: the new batch must meet the
    # corpus index through hash joins (broadcast or shuffled) — a
    # nested-loop or cartesian anywhere means the probe degenerated to
    # pairwise comparison, the exact plan shape these operators exist
    # to avoid.
    for name in (
        "l38_incremental_exact_dedup",
        "l39_incremental_jaccard_neardup",
        "l40_incremental_banded_neardup",
    ):
        plan = catalog_plan(name)
        assert "NestedLoop" not in plan, name
        assert "CartesianProduct" not in plan, name
    # l39: the broadcast hints must pin the INCREMENT as the build side
    # (BuildLeft for both the shingle probe and the c_sizes join) — at
    # fixture scale auto-broadcast would pick the corpus side, the plan
    # that dies at 100 TB.
    plan = catalog_plan("l39_incremental_jaccard_neardup")
    assert plan.count("BroadcastHashJoin Inner BuildLeft") >= 2, plan[:400]
    # l40 specifically: the capped band probe must feed the exact verify.
    # r13 removed the count-aggregate + broadcast ANTI join (two
    # signature passes); r14 replaced its bucket collect_list with a
    # WINDOW count gate (guide §2.5/§5: a mega-bucket must never
    # materialize as one aggregation buffer) — so the plan must show a
    # Window count over the bucket key, NO collect_list, NO anti join,
    # and the index still never shuffles for the filter (the only joins
    # are broadcast). The probe/candidate broadcasts are unchanged.
    # l40b runs the same body on the portable hash family.
    for name in (
        "l40_incremental_banded_neardup",
        "l40b_portable_incremental_neardup",
    ):
        plan = catalog_plan(name)
        assert "band_hash" in plan, (name, plan[:400])
        assert "BroadcastHashJoin" in plan, (name, plan[:400])
        assert "LeftAnti" not in plan, (name, plan[:400])
        assert "SortMergeJoin" not in plan, (name, plan[:400])
        assert "collect_list" not in plan, (name, plan[:400])
        assert "Window" in plan, (name, plan[:400])


def test_python_round_only_in_l33_clamp():
    # Convention guard (r4 advice, applied repo-wide in r5): output
    # quantization happens via F.round in Spark projections (half-away,
    # matching DuckDB); Python round()/np.round() are banker's rounding
    # and diverge on exact ties. The ONLY sanctioned Python-side rounds
    # are l33's three 12dp gradient clamps (documented tie-case
    # residual in llm/sampling.py). AST-walk sees real calls only, so
    # SQL-oracle strings full of round() don't false-positive.
    import ast
    from collections import Counter

    root = Path(__file__).resolve().parents[1] / "mric_bak_etl_spark"
    hits = Counter()
    for p in sorted(root.rglob("*.py")):
        rel = p.relative_to(root).as_posix()  # path-keyed: same-named
        # files in different subpackages must not merge (r5 ADVICE)
        tree = ast.parse(p.read_text())
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            bare = isinstance(f, ast.Name) and f.id == "round"
            # ANY .round attribute call — np.round, numpy.round,
            # pandas Series/DataFrame .round(), pyarrow.compute.round —
            # except F.round, the one sanctioned (JVM-side, half-away)
            # quantization path (r5 ADVICE widened this from np-only).
            attr_round = (
                isinstance(f, ast.Attribute)
                and f.attr == "round"
                and not (isinstance(f.value, ast.Name) and f.value.id == "F")
            )
            if bare or attr_round:
                hits[rel] += 1
    # multimodal.py's former two rounds were de-sanctioned in round 8:
    # once m2b value-anchored m2 row-for-row, the pandas-side banker's
    # rounds became a live divergence (a 128-byte slice summing 12699
    # rounds to .389062 in Python, .389063 in SQL) — m2 now emits raw
    # doubles and quantizes via F.round in the projection like every
    # other query. Only l33's documented 12dp clamps remain.
    assert hits == Counter({"llm/sampling.py": 3}), (
        f"Python-side round() outside the sanctioned sites: {dict(hits)}"
    )


def test_w10_plan_is_two_phase_and_boundary_invariant(spark, sf_dir, catalog_plan):
    # w10's claim is structural: the local phase must window on the
    # (key, calendar-cell) composite — never the bare 3-value key — and
    # rejoin offsets via BROADCAST; the calendar form needs neither a
    # sampled range partitioning nor a data-sized materialize (the
    # rejected first draft paid a full localCheckpoint to pin sampled
    # boundaries and was slower than the funnel it replaced). And the
    # result must equal Spark's direct single-window evaluation, which
    # pins the prefix-offset algebra AND cell-boundary invariance.
    plan = catalog_plan("w10_distributed_running_total")
    assert "BroadcastExchange" in plan or "broadcast" in plan.lower(), (
        "offsets no longer broadcast"
    )
    # (r14 dropped the final presentation orderBy — the driver's compare
    # is an order-insensitive value-hash — so NO range exchange may
    # appear at all; the rejected draft had one on the input side)
    assert plan.count("rangepartitioning") == 0, (
        "sampled range phase crept back"
    )
    assert "ExistingRDD" not in plan, "data-sized materialize crept back"
    assert "mkey" in plan, "calendar cell column gone from the plan"

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mric_bak_etl_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    order_cols = ["l_shipdate", "l_orderkey", "l_linenumber", "l_partkey",
                  "l_suppkey"]
    w = Window.partitionBy("l_returnflag").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    direct = (
        li.withColumn("rq", F.sum("l_quantity").over(w))
        .filter(F.col("l_orderkey") % 97 == 0)
        .select(
            "l_returnflag", "l_orderkey", "l_linenumber", "l_shipdate",
            F.round("rq", 4).alias("running_qty"),
        )
        .collect()
    )
    got = all_specs()["w10_distributed_running_total"].builder(
        spark, sf_dir
    ).collect()
    # Row order is not part of the contract (order-insensitive compare);
    # the equality pins the VALUES of the prefix-offset algebra.
    assert sorted(map(tuple, got)) == sorted(map(tuple, direct))


def test_bucket_scoped_repair_plan_shape(catalog_plan):
    # s20's two-phase economics, pinned in the plan: the diverged
    # bucket list is localCheckpointed once (so the final plan scans
    # orders exactly twice — the row sides — instead of re-running the
    # audit lineage per broadcast), and both row sides are pruned by
    # BROADCAST semi-joins before the full-outer row join.
    plan = catalog_plan("s20_bucket_scoped_repair")
    n_scans = plan.count("orders.parquet")
    assert n_scans == 2, f"orders scanned {n_scans}x in the repair plan"
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftSemi" in plan


def test_sketch_rollup_single_scan_and_byte_math_stays_jvm(
    spark, sf_dir, catalog_plan
):
    # a23b's restructure claim (round 8): ONE events scan feeds the
    # register build and both exact-count readouts — the distinct
    # user-day base is pinned, so the FINAL plan contains NO events
    # parquet scan at all (every consumer reads the checkpointed base;
    # the single scan ran when the base materialized). Regressing to a
    # per-consumer scan silently multiplies the 100 TB fact-scan cost.
    plan = catalog_plan("a23b_portable_sketch_merge_rollup")
    assert "events.parquet" not in plan, plan[:400]
    # m2b sells the JVM path: ascii-sum HOF folds with ZERO shuffles
    # — no hashpartitioning exchange may appear, and nothing may fall
    # into a Python stage (the Python-stage sweep also enforces this;
    # the explicit assert makes the single-scan-no-shuffle contract
    # readable here).
    plan = catalog_plan("m2b_portable_feature_extract")
    assert "hashpartitioning" not in plan, plan[:400]
    assert "EvalPython" not in plan and "MapInPandas" not in plan
