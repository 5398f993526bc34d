"""Physical-strategy robustness: answers must not depend on HOW Spark
executes (SURVEY §5.2 — the driver hands us an arbitrary session).

Each scenario perturbs a runtime knob the engine does NOT pin (the pinned
ones — UTC, nanosAsLong, AQE, shuffle partitions — are re-asserted by
ensure_runtime_confs on every load): disabling broadcast joins forces
every join through sort-merge/shuffle-hash, and disabling whole-stage
codegen runs the interpreted expression path. A representative slice of
the catalog must still match DuckDB exactly under each — any divergence
means a result silently depends on join strategy or codegen, the class
of bug that only surfaces in production when a table crosses the
broadcast threshold.
"""

from __future__ import annotations

import pytest

from mric_bak_etl_spark.catalog import all_specs

# One representative per major family, biased toward join- and
# expression-heavy shapes where physical strategy could plausibly leak.
REPRESENTATIVES = [
    "a1_pricing_summary",
    "j1_inner_equi",
    "j2_broadcast_dims",
    "j6_asof",
    "j13_null_safe_join",
    "j15_bloom_prejoin",
    "h5_local_supplier_volume",
    "sq2_scalar_correlated",
    "w3_frames",
    "w8_interpolation",
    "u4_intersect_all",
    "e8_attribution",
    "l1_exact_dedup",
    "l22_slice_divergence",
    "r21_incremental_agg",
    "g4_triangle_count",
    # partitioning-sensitive by construction: distributed row numbering,
    # range-partitioned total order, iterative label propagation, k-means
    "o5_distributed_row_number",
    "o3_range_partitioned_sort",
    "l2e_dup_clusters",
    "l19_kmeans",
    # round-4: iterative rank loop (float-sum order), hash-bucketed pair
    # join + broadcast semi-filter, full-outer MERGE composition
    "g5_user_pagerank",
    "l29_exact_substring_dedup",
    "q9_merge_upsert",
    # round-5: the incremental index-probe pair — the hash/shingle index
    # join is exactly the join whose physical strategy flips when the
    # index side crosses the broadcast threshold, so the no_broadcast
    # and shuffle_hash scenarios are its production shapes; plus the
    # VARIANT structural gate under the interpreted (no_codegen) path.
    "l38_incremental_exact_dedup",
    "l39_incremental_jaccard_neardup",
    "f28_variant_bronze_silver",
    # round-7: the audit pair's full-outer bucket join + broadcast
    # semi-filter changed this round (additive hash fold, s20 predicate)
    # and g5's chain was restructured (union-zero fold, window
    # out-degree) — the no_broadcast/shuffle_hash scenarios are exactly
    # the physical strategies those plans flip between; dq11's 9-row
    # broadcast total must survive no_broadcast too.
    "s19_replica_checksum_audit",
    "s20_bucket_scoped_repair",
    "dq11_benford_drift",
    # round-7 portable twins + CUPED: the band-index anti/probe joins
    # (l40b) and segment self-join (l2g) are exactly what no_broadcast/
    # shuffle_hash re-plan; e14's broadcast cutoff + one-row fold must
    # survive both, and its z-scores are sqrt-of-double sensitive to
    # any interpreted-path (no_codegen) drift.
    "l40b_portable_incremental_neardup",
    "l2g_portable_simhash",
    "e14_cuped_experiment",
    # round-8: a23b's register-spine left joins and 1-row total fold are
    # broadcast-shaped (no_broadcast/shuffle_hash re-plan them); m2b's
    # ascii-sum HOF folds are the interpreted path's worst case
    # (no_codegen) and its % 3 CASE must agree under ansi_off.
    "a23b_portable_sketch_merge_rollup",
    "m2b_portable_feature_extract",
    # round-9: l41's two-level hash histogram is pure exchange shape
    # (partial counts must agree under every join/codegen posture);
    # s21's merged read coalesces a null ERA — ansi_off must not flip
    # its grouping, and no_codegen walks the interpreted coalesce path.
    "l41_duplication_profile",
    "s21_schema_evolution_read",
    # round-10: l26b's vocabulary encode is a broadcast join by design
    # (no_broadcast/shuffle_hash force it through an exchange) and its
    # merge folds are regex-heavy HOF aggregates — the interpreted
    # (no_codegen) path's worst case; m9's WAV chunk walk runs in
    # Python but its doc-grain fan-out rides the same exchange/collect
    # postures as m8.
    "l26b_bpe_encode",
    "m9_wav_decode",
    # m10 windows the same decoded samples executor-local; its ragged
    # last window and per-window max must be posture-invariant too.
    # m10b is its pure-HOF JVM twin — the interpreted (no_codegen) and
    # ansi_off paths are exactly where nested transform/aggregate
    # arithmetic could diverge.
    "m10_wav_window_stats",
    "m10b_portable_wav_window_stats",
    # m11's ASCII-header parse runs in Python; the doc-grain fan-out
    # rides the same exchange/collect postures as m7/m9.
    "m11_ppm_decode",
]

SCENARIOS = {
    "no_broadcast": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "no_codegen": {"spark.sql.codegen.wholeStage": "false"},
    # No broadcast AND hash-join preferred over sort-merge: exercises the
    # ShuffledHashJoin path (unsorted probe order) across the catalog.
    "shuffle_hash": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.join.preferSortMergeJoin": "false",
    },
    # Spark 4 defaults ANSI ON; a user's legacy-configured cluster turns
    # it OFF, flipping overflow/cast/division-by-zero semantics from
    # error to NULL/wraparound. No catalog query may depend on which
    # regime it lands in — every expression must stay inside the domain
    # where both regimes agree (try_* where input errors are possible).
    "ansi_off": {"spark.sql.ansi.enabled": "false"},
}


# Arrow-off exercises the ROW-BASED toPandas conversion path — the other
# serialization of every result the driver reads. Arrow and the legacy
# row collector historically diverge on exactly the rich dtypes (naive
# vs tz-aware timestamps, decimal objects vs float64, nested
# array/map/struct rendering), so the slice is dtype-biased rather than
# join-biased: a join cannot care how results are serialized, a
# timestamp column can.
DTYPE_REPRESENTATIVES = [
    "a16_decimal_exact",          # DECIMAL precision through conversion
    "f11_datetime_advanced",      # timestamps/tz arithmetic
    "f13_date_spine",             # DATE columns
    "f21_intervals",              # intervals surfaced as durations
    "f14_variant",                # VARIANT → string rendering
    "f24_higher_order_complete",  # nested arrays
    "f6_map_struct",              # maps + structs
    "f19_malformed_json",         # NULL-heavy strings
    "w8_interpolation",           # float/NULL interleave
    "e7_interarrival",            # timestamp deltas
    "m8_bmp_channel_stats",       # mapInPandas output through the
                                  # row-based collector (the pandas
                                  # UDF still runs on Arrow internally;
                                  # what flips is the result path)
]


def test_results_survive_arrow_disabled(spark, duck, sf_dir):
    from test_oracle_parity import assert_frames_match

    key = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        specs = all_specs()
        for name in DTYPE_REPRESENTATIVES:
            spec = specs[name]
            assert spec.oracle is not None
            got = spec.builder(spark, sf_dir).toPandas()
            want = duck.execute(spec.oracle).df()
            assert_frames_match(got, want, f"no_arrow:{name}")
    finally:
        spark.conf.set(key, saved)


@pytest.mark.parametrize("scenario", sorted(SCENARIOS))
def test_results_survive_physical_strategy_changes(spark, duck, sf_dir, scenario):
    from test_oracle_parity import assert_frames_match

    confs = SCENARIOS[scenario]
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        specs = all_specs()
        for name in REPRESENTATIVES:
            spec = specs[name]
            assert spec.oracle is not None
            got = spec.builder(spark, sf_dir).toPandas()
            want = duck.execute(spec.oracle).df()
            assert_frames_match(got, want, f"{scenario}:{name}")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
