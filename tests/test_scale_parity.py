"""Value parity at sf0.1 — 10× the driver's verification scale.

The driver's gate runs at sf0.01 and the default local suite at sf0.001;
this slice re-verifies representative queries at sf0.1 to catch the
divergences that only appear with more data: integer widening/overflow,
float-summation drift crossing a rounding boundary, partition-count
effects on supposedly partition-invariant results, sketch parameters
leaving their exact regime (a20's tracked-item budget), and fixture
assumptions that quietly depended on the small scale (group-size caps,
bucket fan-outs).

Kept to a curated slice (~1 min): the point is scale-sensitivity
coverage, not a third full sweep.
"""

from __future__ import annotations

import duckdb
import pytest

from mric_bak_etl_spark.catalog import all_specs
from mric_bak_etl_spark.tables import TABLE_NAMES

SF01_DIR = "/root/testdata/sf0.1"

# Biased toward scale-sensitive shapes: float sums over the most rows,
# exact-regime sketches, group-cap graph construction, multiset ops,
# iterative loops, FP-identity PQ, IVM term cancellation.
SCALE_SLICE = [
    "a1_pricing_summary",
    "a16_decimal_exact",
    "a20_approx_topk",
    "u4_intersect_all",
    "g4_triangle_count",
    "l19_kmeans",
    "l3e_pq_topk",
    "l26_bpe_merges",
    "r21_incremental_agg",
    "w7_running_distinct",
    "e8_attribution",
    "dq7_psi_drift",
    # round-4 iterative float chains (per-round 12dp clamps must hold
    # when hub in-degrees / gradient sums grow 10x) and the two-pass
    # hashed-window dedup (hash-collision space grows with corpus).
    "g5_user_pagerank",
    "l33_logreg_train",
    "l29_exact_substring_dedup",
    "e10_time_to_conversion",
    # regr_slope numerics, cumulative float windows, and global-order
    # invariance under 10x the partitions
    "w9_rolling_regression",
    "e11_cohort_ltv",
    "l35_epoch_ordering",
    # round-5 incremental dedup: the corpus-side hash/shingle index is
    # what grows 10x; the probe must stay correct (and new-batch-sized)
    # when the index side stops broadcasting.
    "l38_incremental_exact_dedup",
    "l39_incremental_jaccard_neardup",
    # round-12 artifact apply faces: what grows 10x is the published
    # artifact itself (5,000 packed archives; the weight trajectory's
    # gradient sums) — the apply path must stay correct reading it.
    # l42 is deliberately absent: its value oracle re-learns the full
    # portable band index in DuckDB (~58 s single-threaded at sf0.1),
    # which buys no scale-sensitivity the l38/l39 rows don't already
    # cover at a fraction of the wall.
    "m14_zip_persisted_manifest",
    "l43_quality_score_persisted",
    # round-13 ANN artifact face: at 10x corpus the k-means trajectory,
    # the PQ code table, and the cell partition layout all grow/shift;
    # the apply path must match the oracle's full inline re-learn.
    "l3f_ann_persisted",
]


@pytest.fixture(scope="module")
def duck01():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF01_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", SCALE_SLICE)
def test_scale_parity_sf01(spark, duck01, name):
    from test_oracle_parity import assert_frames_match

    spec = all_specs()[name]
    got = spec.builder(spark, SF01_DIR).toPandas()
    want = duck01.execute(spec.oracle).df()
    assert_frames_match(got, want, f"sf0.1:{name}")
