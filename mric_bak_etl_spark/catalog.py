"""Query catalog: the driver-verified contract surface.

Every operator the engine implements registers here as a named
:class:`QuerySpec` — a Spark builder ``(spark, sf_dir) -> DataFrame`` plus,
when the semantics are ANSI-SQL-expressible, the equivalent DuckDB oracle
SQL. ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this registry, so "implemented" and "driver-verified" stay the same set by
construction (SURVEY.md §2B: one entry per operator).

Conventions that keep the value-hash compare stable (SURVEY §7 risk #4):

- alias every computed/aggregate column identically in Spark and SQL;
- round floating aggregates to 4 decimals on BOTH sides (sum-of-doubles is
  order-sensitive in the last ulps; partial aggregation order differs
  between engines). Known residual risk, observed via fuzzing: a true
  value landing exactly on a .xxxx5 boundary lets that last-ulp noise
  flip the rounded digit between engines — fixed fixtures are verified
  clear of it, and queries whose Spark/oracle sides sum structurally
  DIFFERENT terms (r21's IVM) round coarser (2dp) for margin;
- cast DuckDB integer SUMs to BIGINT (DuckDB widens to HUGEINT, Spark keeps
  LONG);
- top-k queries always carry a unique tiebreak key in the ORDER BY;
- row ORDER is not part of the contract: the driver's compare is an
  order-insensitive value-hash (__spark_entry__.py), so no builder's
  physical plan root is a global Sort with no limit above it (a global
  sort is a range exchange whose bounds sampling re-executes the whole
  pre-sort plan; guide §2.4 names it the canonical removable shuffle).
  The allow-list is the queries whose operator IS the total sort:
  o1_multikey_sort. tests/test_plans.py::test_no_presentational_root_sort
  enforces the rule and keeps the allow-list with one reason per entry.
  Top-k/limit sorts and sorts that feed a window, a sortWithinPartitions
  layout or a write are load-bearing and stay. Oracle SQL keeps its
  ORDER BY for human readability only.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

SparkBuilder = Callable[[SparkSession, str], DataFrame]

@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: SparkBuilder
    oracle: str | None  # DuckDB SQL; None → driver does a rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[SparkBuilder], SparkBuilder]:
    """Decorator: add a query builder to the catalog under ``name``."""

    def deco(fn: SparkBuilder) -> SparkBuilder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags
        )
        return fn

    return deco


def _load_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    import mric_bak_etl_spark.operators.aggregates  # noqa: F401
    import mric_bak_etl_spark.operators.projection  # noqa: F401
    import mric_bak_etl_spark.operators.joins  # noqa: F401
    import mric_bak_etl_spark.operators.subqueries  # noqa: F401
    import mric_bak_etl_spark.operators.tpch  # noqa: F401
    import mric_bak_etl_spark.operators.setops  # noqa: F401
    import mric_bak_etl_spark.operators.sort  # noqa: F401
    import mric_bak_etl_spark.operators.events  # noqa: F401
    import mric_bak_etl_spark.operators.graph  # noqa: F401
    import mric_bak_etl_spark.operators.windows  # noqa: F401
    import mric_bak_etl_spark.functions.scalar  # noqa: F401
    import mric_bak_etl_spark.pipeline.queries  # noqa: F401
    import mric_bak_etl_spark.pipeline.lifecycle  # noqa: F401
    import mric_bak_etl_spark.pipeline.blob_source  # noqa: F401
    import mric_bak_etl_spark.streaming.windows  # noqa: F401
    import mric_bak_etl_spark.streaming.stateful  # noqa: F401
    import mric_bak_etl_spark.llm.dedup  # noqa: F401
    import mric_bak_etl_spark.llm.similarity  # noqa: F401
    import mric_bak_etl_spark.llm.text  # noqa: F401
    import mric_bak_etl_spark.llm.sampling  # noqa: F401
    import mric_bak_etl_spark.llm.multimodal  # noqa: F401


def all_specs() -> dict[str, QuerySpec]:
    _load_modules()
    return dict(_REGISTRY)


_ROOT = Path(__file__).resolve().parents[1]


def last_green_rounds() -> dict[str, int]:
    """Each query's newest round with a green driver row, read from the
    ``CORRECTNESS_r{N}.json`` records at the repo root. A row is green
    when its value hash matched, or when the query has no oracle and the
    driver ran it clean (``err == "no_oracle"``)."""
    green: dict[str, int] = {}
    for path in _ROOT.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        for name, row in json.loads(path.read_text()).items():
            if row.get("hash_match") is True or row.get("err") == "no_oracle":
                green[name] = max(rnd, green.get(name, 0))
    return green


def verify_order(names: Iterable[str], green: dict[str, int]) -> list[str]:
    """Queries never green first, then the rest by ascending newest green
    round (the row checked longest ago first), ties by name."""
    return sorted(names, key=lambda n: (n in green, green.get(n, 0), n))


def _ordered_specs() -> list[QuerySpec]:
    """The whole verify queue, every registered query once, in
    ``verify_order`` over the committed correctness record. The external
    correctness run checks ~50 entries a round from the front, so the
    queries whose last driver check is oldest come up next. With no record
    files every query counts as never green and the order is by name.
    Built on call, never at import: a registering module imports this
    one, so loading every registering module here at import time closes
    an import cycle."""
    specs = all_specs()
    return [specs[n] for n in verify_order(specs, last_green_rounds())]


def queries() -> dict[str, SparkBuilder]:
    return {spec.name: spec.builder for spec in _ordered_specs()}


def oracle_sql() -> dict[str, str]:
    return {
        spec.name: spec.oracle
        for spec in _ordered_specs()
        if spec.oracle is not None
    }


# Headline/bench set (r10 verdict task 6): the flagship + one
# representative per operator family, grown as families land. bench.py
# derives its run list from here via headline_names(), which validates
# every name against the registry (a typo or a renamed query fails
# loudly), and tests/test_catalog.py makes FORGETTING impossible: every
# query that has never been green in the driver record (first registered
# this round) must be a member, so its first driver round benches it too.
#
# Membership lives in this one tuple, not in a @register(...,
# headline=True) kwarg: bench membership is not part of the correctness
# contract a registration carries, and one list keeps the bench's run
# order and its membership in one place.
HEADLINE: tuple[str, ...] = (
    "a1_pricing_summary",   # scan + filter + multi-measure hash agg
    "a4_rollup",            # grouping sets / Expand
    "j1_inner_equi",        # shuffle join + agg
    "j2_broadcast_dims",    # broadcast snowflake join
    "j6_asof",              # as-of via union+window carry-forward
    "w1_ranking",           # top-N per group window
    "w3_frames",            # running/moving frames
    "o2_topk",              # TakeOrderedAndProject
    "u2b_except_all",       # multiset set-op
    "f5_arrays",            # higher-order array expressions
    "h3_shipping_priority", # TPC-H Q3 composite (3-way join + agg + top-k)
    "h5_local_supplier_volume",  # TPC-H Q5 composite (6-way join)
    "h18_large_volume_customer", # TPC-H Q18 (semi-filter + re-aggregate)
    "sq2_scalar_correlated",     # decorrelated scalar subquery (Q17 shape)
    "j8_salted_skew_join",       # manual skew salting
    "t1_tumbling_window",   # streaming window agg (batch face)
    "l2_minhash_lsh",       # shingle→minhash→band→bucket-join near-dup
    "l3_cosine_topk",       # vector top-k (broadcast query, zip_with dot)
    "l4_tokenize_tf",       # tokenize+explode+TF
    "l17_semdedup",         # centroid-cosine semantic dedup
    "l18_unigram_lm",       # corpus-LM fluency scoring (broadcast vocab)
    "e4_event_transitions", # per-user sequence → Markov transition matrix
    "m2_feature_extract",   # Arrow-batched pandas feature stage
    "e6_event_paths",       # 3-step path mining (lead×2, one window shuffle)
    "a18_bitmap_exact_distinct",  # mergeable exact distinct via bitmaps
    "j12_interval_overlap_join",  # two-sided interval overlap as bucket equi-join
    "l19_kmeans",           # Lloyd's k-means: broadcast centroids, map-side assign
    # round-3 additions
    "j15_bloom_prejoin",    # bloom build + map-side probe before the join
    "g4_triangle_count",    # oriented wedge counting on the co-activity graph
    "l22_slice_divergence", # JS divergence between corpus slices (drift monitor)
    "r21_incremental_agg",  # IVM: old agg + group-grain deltas from the diff
    # round-4 additions
    "g5_user_pagerank",     # distributed PageRank on the user graph (no driver collect)
    "l29_exact_substring_dedup",  # window-hash exact-substring dedup (bucket join)
    "e9_sequence_pattern",  # CEP regex over per-user event strings (one shuffle)
    # round-5 additions
    "l38_incremental_exact_dedup",  # new-batch-vs-corpus-index dedup (no old x old)
    # round-6 additions
    "l40_incremental_banded_neardup",  # capped band-index probe + exact verify, zero-shuffle plan
    "w10_distributed_running_total",   # two-phase prefix running total (calendar cells + offset broadcast)
    "a26_moment_profile",   # exact decimal power sums → portable moments
    "s19_replica_checksum_audit",  # two-replica per-bucket count+xor audit
    # round-8 additions
    "a23b_portable_sketch_merge_rollup",  # day→week→total portable HLL register merge
    "m2b_portable_feature_extract",  # JVM-path featurizer twin (permanent A/B vs m2's pandas path)
    "m7_bmp_decode",        # real 24-bit BMP header decode via mapInPandas
    "e15_srm_check",        # chi-square sample-ratio-mismatch gate
    # round-9 additions
    "t13b_streaming_register_maintenance",  # update-mode register sink (versioned merge)
    "m8_bmp_channel_stats", # decoded pixel-array exact channel sums
    "l41_duplication_profile",  # clone-cluster histogram (dedup form picker)
    "s21_schema_evolution_read",  # two-generation mergeSchema landing-zone read
    # round-10 additions (the ops-join-the-bench step is a standing
    # per-round task — closed in-round since r10)
    "m9_wav_decode",        # real 16-bit PCM WAV decode + exact channel sums
    "l26b_bpe_encode",      # tokenizer apply: broadcast merge table, vocab encode
    "m10_wav_window_stats", # audio framing: 4-frame windows, exact energy/peak
    "m10b_portable_wav_window_stats",  # its JVM HOF twin (permanent A/B vs pandas)
    "m11_ppm_decode",       # real Netpbm P6 decode (ASCII-tokenized header)
    # round-11 additions
    "m12_zip_manifest",     # multi-entry ZIP central-directory walk
    "l26c_bpe_encode_persisted",  # tokenizer apply-only face (persisted artifact)
    "m13_zip_deflate_manifest",  # real deflate extraction (method-invariant sums)
    "m14_zip_persisted_manifest",  # media apply-only face (persisted archive column)
    "l42_incremental_crawl",  # incremental crawl composite (url→exact→near-dup funnel)
    "l43_quality_score_persisted",  # model-artifact apply face (persisted logreg weights)
    "l42b_incremental_crawl_persisted",  # crawl funnel probing persisted indexes
    # round-13 additions
    "l42c_crawl_index_maintenance",  # two-generation index fold (append face)
    "l3f_ann_persisted",  # apply-only IVF-PQ probe of the persisted ANN index
)


def headline_names() -> list[str]:
    """The bench run list, validated against the registry."""
    specs = all_specs()
    missing = [n for n in HEADLINE if n not in specs]
    assert not missing, f"HEADLINE names unknown queries: {missing}"
    return list(HEADLINE)

