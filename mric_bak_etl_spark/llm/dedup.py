"""Deduplication family for training-data pipelines (SURVEY.md §2B L1/L2).

Five mechanisms, each the Spark-first shape of a published dedup technique:

- exact dedup: content-hash groupBy (sha2) with deterministic keeper;
- MinHash + LSH: shingle → k minhashes → band → bucket join → verify
  (the MMDS banding scheme; cf. C4/RefinedWeb-style corpus dedup);
- SimHash: sign-aggregated token hashes → hamming-close fingerprints;
- n-gram Jaccard: exact shingle-overlap self-join (the verifier LSH
  approximates);
- embedding cosine near-dup: blocked vector self-join.

The documents table has no natural duplicates, so near-dup queries operate
on :func:`corpus_with_near_dups` — documents plus deterministic truncated
variants — making recall measurable and results stable for the oracle.

Scale notes (100 TB): exact dedup shuffles hashes only (narrow rows).
MinHash-LSH is THE scale path for near-dup: candidate generation touches
only bucket-colliding pairs (band join), never the O(n²) pair space; band
count trades recall vs cost. The exact-Jaccard self-join is the verifier —
run it on LSH survivors only (as l2_minhash_lsh does), or on blocked
subsets. Embedding near-dup at scale = same banding idea with hyperplane
sign bits (see llm/similarity.py); the label-blocked exact join here is the
verifier shape. Skewed shingles (stopword trigrams) salt naturally because
the doc explode carries doc_id; a hot BUCKET (boilerplate text) is the real
skew risk — AQE skew-join splitting plus a bucket-size cap (drop buckets
with > N members as boilerplate) is the standard mitigation.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mric_bak_etl_spark.artifacts import artifact_dir, publish, versioned_sink
from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.llm.text import tokens
from mric_bak_etl_spark.tables import load_table, spread

N_MINHASHES = 16
N_BANDS = 4  # 4 rows per band → threshold ≈ (1/4)^(1/4) ≈ 0.71 Jaccard
SHINGLE_K = 3


def corpus_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ truncated variants of every 10th doc (deterministic).

    Variant doc_id = original + 1_000_000; text = all but the last 5 tokens
    — high-Jaccard near-duplicates with known ground truth.

    FIXTURE-ONLY id contract: the +1M offset assumes base doc_ids stay
    below 1,000,000 (true of every testdata SF and asserted harmless by
    the synth corpora, which shift copies by 100M). This helper plants
    ground truth for the l2-family demos/oracles; a production corpus
    runs the dedup operators on its raw ids and never calls it.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.array_join(
                F.slice(tokens(), 1, F.greatest(F.size(tokens()) - 5, F.lit(1))), " "
            ).alias("text"),
        )
    )
    # Hash-spread on doc_id: the corpus files are single-row-group parquet,
    # so without this every downstream shingle/minhash stage runs as one
    # task (tables.spread); doc_id keying lets per-doc aggregations reuse
    # the exchange.
    return spread(d.unionByName(variants), "doc_id")


# DuckDB text of corpus_with_near_dups' variant: ``text`` minus its last 5
# tokens (one token kept at least).
_TRUNCATED_TEXT_SQL = """array_to_string(
               string_split_regex(text, '\\s+')
                 [1:greatest(len(string_split_regex(text, '\\s+')) - 5, 1)],
               ' ')"""

_CORPUS_ORACLE = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             {_TRUNCATED_TEXT_SQL} AS text
      FROM documents WHERE doc_id % 10 = 0
"""


@register(
    "l1_exact_dedup",
    oracle=f"""
    WITH corpus AS ({_CORPUS_ORACLE}),
         keep AS (
           SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
           FROM corpus GROUP BY md5(text)
         )
    SELECT count(*)                                    AS n_unique,
           CAST(sum(n_copies) - count(*) AS BIGINT)    AS n_removed
    FROM keep
    """,
    doc="L1: exact dedup — group by content hash, keep min(doc_id) "
    "(deterministic keeper, unlike dropDuplicates' arbitrary row); "
    "shuffles (hash, doc_id) pairs only, never text.",
    tags=("llm", "dedup"),
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = corpus_with_near_dups(spark, sf_dir)
    keep = corpus.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return keep.agg(
        F.count(F.lit(1)).alias("n_unique"),
        (F.sum("n_copies") - F.count(F.lit(1))).cast("bigint").alias("n_removed"),
    )


@register(
    "l41_duplication_profile",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 21 = 0
    ),
    clusters AS (
      SELECT md5(text) AS h, count(*) AS k
      FROM corpus GROUP BY md5(text)
    )
    SELECT CAST(k AS BIGINT)                          AS cluster_size,
           CAST(count(*) AS BIGINT)                   AS n_clusters,
           CAST(k * count(*) AS BIGINT)               AS n_docs,
           CAST(k * (k - 1) // 2 * count(*) AS BIGINT) AS pair_volume
    FROM clusters
    GROUP BY k
    ORDER BY cluster_size
    """,
    doc="L41: duplication profile — the measurement run BEFORE choosing a "
    "dedup form: exact clone-cluster size histogram (clusters of size k, "
    "docs they hold, and the Θ(k²) pair volume a pair-enumerating dedup "
    "would emit at each k). SCALE.md's 100×-duplication decade showed a "
    "13× wall gap between forms on the same corpus (capped probe 33 s vs "
    "all-pairs 445 s, output-bound); pair_volume is exactly the term "
    "that predicts it — small tail → l29/l2 pair evidence is cheap; "
    "heavy tail → cluster representatives (l32/l2e) or the capped "
    "incremental probe (l40). All-integer output, no float surface. At "
    "100 TB: one exchange of (md5, 1) pairs — text never shuffles — "
    "then a histogram-sized exchange on k; output is bounded by the "
    "distinct cluster sizes, a few dozen rows at any corpus size.",
    tags=("llm", "dedup", "scale"),
)
def duplication_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Planted EXACT copy-sets (the near-dup corpus plants VARIANTS, which
    # exact hashing rightly keeps apart): every 7th doc gains one clone,
    # every 21st a second — so the histogram exercises k = 1, 2, 3.
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = base.unionByName(
        base.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    ).unionByName(
        base.filter(F.col("doc_id") % 21 == 0).select(
            (F.col("doc_id") + 3000000).alias("doc_id"), "text"
        )
    )
    clusters = corpus.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("k")
    )
    return (
        clusters.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("k").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            (F.col("k") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
            # Integer division (DIV) keeps the whole expression in the
            # exact BIGINT domain — k(k-1) is always even, and a double
            # roundtrip would lose exactness for extreme k² * n values.
            F.expr(
                "CAST(k * (k - 1) DIV 2 * n_clusters AS BIGINT)"
            ).alias("pair_volume"),
        )
    )


def shingles(text_col: str = "text", k: int = SHINGLE_K) -> Column:
    """Token k-shingles as an array column (distinct)."""
    toks = tokens(text_col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
    )


def shingle_set_sql(k: int = SHINGLE_K) -> str:
    """DuckDB text of :func:`shingles` over a ``text`` column — the one copy
    every dedup oracle and :func:`render_crawl_funnel_ctes` compose."""
    return f"""list_distinct(list_transform(
      range(1, greatest(len(string_split_regex(text, '\\s+')) - {k - 1}, 1) + 1),
      i -> array_to_string(string_split_regex(text, '\\s+')[i:i+{k - 1}], ' ')
    ))"""


def shingle_hashes(text_col: str = "text", k: int = SHINGLE_K) -> Column:
    """Token k-shingles hashed straight to int64 (distinct).

    MinHash and the Jaccard verify only ever consume shingle *identity*,
    so materializing each shingle as a string (k-token join per position)
    buys nothing — hashing the k tokens directly skips ~|tokens| string
    allocations per document, and downstream set ops compare longs, not
    strings. Collision odds at 64 bits are negligible next to the MinHash
    approximation itself. `l2b_ngram_jaccard` keeps the string form, where
    the DuckDB oracle needs real shingles.
    """
    toks = tokens(text_col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.xxhash64(*[F.try_element_at(toks, i + j) for j in range(k)]),
        )
    )


def minhash_signatures(sh: DataFrame, n_hashes: int = N_MINHASHES) -> DataFrame:
    """(doc_id, sh) shingle-hash table → doc_id + n_hashes MinHash values,
    computed NARROWLY: each signature slot is array_min over the doc's
    shingle-hash array re-hashed with the slot seed — a per-row
    expression, so the whole signature stage is map-side with ZERO
    shuffle. (The explode + groupBy(doc_id) formulation computes
    identical values but shuffles the full shingle stream —
    |docs|·|shingles| rows — just to regroup rows that started co-located;
    at 100 TB that shuffle dominates the whole dedup pipeline.) Callers
    build the shingle table once (``shingle_hashes()``) and share it with
    the exact verify, so the corpus is tokenized exactly once."""

    def slot(i: int) -> Column:
        # Single-arg lambda: a 2-arg lambda would be bound by transform()
        # as the (element, index) form and the seed would silently become
        # the array index.
        return F.array_min(
            F.transform("sh", lambda s: F.xxhash64(F.lit(i), s))
        ).alias(f"mh_{i}")

    return sh.select("doc_id", *[slot(i) for i in range(n_hashes)])


def _rows_per_band(signatures: DataFrame, n_bands: int) -> int:
    """Slots-per-band from the signature's own mh_* width, validated.

    A signature whose slot count does not divide evenly into n_bands
    would silently floor — 16 slots over 3 bands would index only
    mh_0..mh_14, quietly dropping a slot and degrading recall (the same
    latent-composition class the mh_*-derivation fix targeted). Fail
    loudly instead."""
    n_slots = sum(1 for c in signatures.columns if c.startswith("mh_"))
    if n_slots == 0:
        raise ValueError("signature frame has no mh_* slot columns")
    if n_slots % n_bands != 0:
        raise ValueError(
            f"{n_slots} signature slots do not band evenly into "
            f"{n_bands} bands — every band must get the same number of "
            "slots or LSH recall degrades silently"
        )
    return n_slots // n_bands


def band_hashes(signatures: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """(doc_id, band, band_hash): each signature row banded and hashed.

    The banded table IS the persisted LSH index: at 100 TB this is what a
    production pipeline stores between crawls (narrow — one int64 per doc
    per band), and both the batch self-dedup (:func:`lsh_candidate_pairs`)
    and the incremental probe (l40) consume it.

    Rows-per-band derives from the signature actually passed in (its
    ``mh_*`` column count), not the module default — a signature built
    with ``n_hashes=8`` bands into 8/n_bands slots, it does not index
    past its own columns (latent composition bug found by the
    portable-sketch fuzz grammar; the default 16/4 shape is unchanged).
    """
    rows_per_band = _rows_per_band(signatures, n_bands)
    return signatures.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.col(f"mh_{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ]
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def bucket_sizes(rows: DataFrame, *keys: str) -> DataFrame:
    """``rows`` plus ``n``: the row count of each row's bucket, keyed by
    the ``keys`` columns — the one cap gate every capped dedup path on
    row-level input filters on: (band, band_hash) for l2/l2f, l40/l40b
    and the l42 crawl index, the 40-char window ``win`` for l29/l32.

    Precondition: count(*) is the MEMBER count only when (member, key)
    rows are unique. Band rows are (one per doc per band); window rows
    are not until deduped, since a window can repeat inside one
    document — :func:`_shared_window_buckets` takes the distinct first.

    The count is a WINDOW over the bucket key, taken BEFORE anything is
    collected (optimization r14, guide §2.5/§5): collecting a bucket's
    postings first and size-filtering after materializes the very
    mega-buckets a cap exists to drop as single unspillable aggregation
    buffers (a viral band at 100 TB = one task's OOM). The window rides
    one exchange on the bucket key, its row buffer spills, and the rows
    pass through as-is, so callers cap on ``n`` with no collect, no
    re-explode and no anti-join. A count-then-broadcast gate returns the
    same rows but measured slower at sf0.1 (ROADMAP direction 3).
    """
    return rows.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))


def _capped_buckets(rows: DataFrame, cap: int, *keys: str) -> DataFrame:
    """One row per bucket of 2..``cap`` members: the ``keys`` plus
    ``ids``, the sorted ``doc_id`` array. Buckets are sized by
    :func:`bucket_sizes` (same precondition) before any is collected."""
    return (
        bucket_sizes(rows, *keys)
        .filter((F.col("n") > 1) & (F.col("n") <= cap))
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )


def _bucket_pairs(buckets: DataFrame) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b, for every pair inside each bucket
    row's ``ids`` array — expanded JVM-side (nested transform + filter +
    explode), never by self-joining the rows the buckets came from. A
    pair shared by several buckets repeats once per bucket: l2/l2f take
    a distinct, l29 counts the repeats as shared windows."""
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "ids",
                lambda a: F.transform(
                    "ids", lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b"))
                ),
            )
        ),
        lambda p: p["doc_a"] < p["doc_b"],
    )
    return buckets.select(F.explode(pair_structs).alias("p")).select(
        "p.doc_a", "p.doc_b"
    )


# Batch pair expansion's bucket cap (l2/l2f): drops degenerate buckets
# (boilerplate colliding everywhere) and bounds the per-bucket O(b²)
# expansion; sized far above anything in testdata.
L2_MAX_BUCKET = 10_000


def lsh_candidate_pairs(signatures: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """Band the signature, hash each band, pair up docs within each
    (band, hash) bucket.

    Only bucket-colliding pairs surface — the step that replaces the O(n²)
    pair space at scale. Pairing is done by grouping the bucket's members
    and expanding i<j combinations JVM-side (:func:`_bucket_pairs`), not by
    self-joining the banded table: a self-join would evaluate the whole
    signature DAG twice, and its shuffle carries the banded rows two
    times. Buckets over ``L2_MAX_BUCKET`` are dropped.
    """
    return _pairs_from_bands(band_hashes(signatures, n_bands))


def _pairs_from_bands(bands: DataFrame) -> DataFrame:
    """(band, band_hash)-bucketed pair expansion shared by the xxhash64 LSH
    (l2) and the portable md5 LSH (l2f) — band_hash may be int64 or string;
    the grouping and i<j expansion are type-agnostic. Only buckets of
    2..L2_MAX_BUCKET postings reach the collect.
    """
    buckets = _capped_buckets(bands, L2_MAX_BUCKET, "band", "band_hash")
    return _bucket_pairs(buckets).distinct()


def exact_jaccard(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Verify candidate pairs with exact shingle Jaccard (array ops, no
    re-explode): |A∩B| / |A∪B| over the distinct shingle sets of the
    (doc_id, sh) table ``sh`` — int64 hashes for l2 (Jaccard identical
    modulo 64-bit collisions), the strings its portable hash needs for l2f.

    The pair side is small (LSH survivors), so it broadcasts. Rather than
    joining the corpus once per pair side (two full tokenize+shingle
    scans), the pair list is MELTED to (doc_a, doc_b, member) rows and
    joined to the corpus ONCE; a groupBy on the pair key then zips the two
    shingle sets back together. Corpus cost: one scan, no corpus shuffle
    (broadcast join); the regroup shuffles only 2·|pairs| surviving rows.
    At cluster scale, the melted side doubles as the semi-join prune: the
    join itself discards every non-candidate document.
    """
    melted = pairs.select(
        "doc_a",
        "doc_b",
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
    )
    return (
        F.broadcast(melted)
        .join(sh.select("doc_id", "sh"), "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first(F.when(F.col("doc_id") == F.col("doc_a"), F.col("sh")), ignorenulls=True).alias("sh_a"),
            F.first(F.when(F.col("doc_id") == F.col("doc_b"), F.col("sh")), ignorenulls=True).alias("sh_b"),
        )
        # Preserve the pre-melt inner-join contract: a pair whose doc_a or
        # doc_b is absent from the corpus vanishes (it would otherwise
        # surface as a NULL-shingle row with NULL jaccard — ADVICE r2).
        .filter(F.col("sh_a").isNotNull() & F.col("sh_b").isNotNull())
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ).alias("jaccard"),
        )
    )


@register(
    "l2_minhash_lsh",
    oracle=None,  # MinHash depends on engine hash functions → no SQL oracle;
    # recall vs exact Jaccard is asserted in tests/test_llm.py
    doc="L2: MinHash+LSH near-dup — shingle → 16 minhashes (one explode, one "
    "agg) → 4 bands → bucket join → exact-Jaccard verify ≥ 0.5. The "
    "banding join is the 100 TB path: only colliding pairs are scored. "
    "Form selection: run l41 first — l2 ENUMERATES pairs, so its output "
    "is the profile's pair_volume; when pair_volume ≈ n_docs (thin clone "
    "tail) that's cheap, when pair_volume ≫ n_docs (SCALE.md's k=100 "
    "decade: 445 s all-pairs vs 33 s capped) switch to cluster "
    "representatives (l2e/l32) or the capped probe (l40).",
    tags=("llm", "dedup"),
)
def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import materialize

    corpus = corpus_with_near_dups(spark, sf_dir)
    # ONE tokenize+shingle pass serves signatures AND the exact verify —
    # the shingle table is corpus-keyed but bounded (int64 arrays), the
    # thing a production pipeline persists between dedup stages.
    sh = materialize(corpus.select("doc_id", shingle_hashes().alias("sh")))
    pairs = lsh_candidate_pairs(minhash_signatures(sh))
    return (
        exact_jaccard(sh, pairs)
        .filter(F.col("jaccard") >= 0.5)
    )


# Shared CTE body: the exact-Jaccard near-dup pair set (the l2b result)
# — also the edge set for the duplicate-cluster oracle.
_PAIRS_ORACLE = f"""
    corpus AS ({_CORPUS_ORACLE}),
    sh AS (
      SELECT doc_id, {shingle_set_sql()} AS sh
      FROM corpus
    ),
    inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    ),
    pairs AS (
      SELECT doc_a, doc_b,
             round(CAST(n_common AS DOUBLE)
                   / (len(sa.sh) + len(sb.sh) - n_common), 4) AS jaccard
      FROM common
      JOIN sh sa ON sa.doc_id = doc_a
      JOIN sh sb ON sb.doc_id = doc_b
      WHERE round(CAST(n_common AS DOUBLE)
                  / (len(sa.sh) + len(sb.sh) - n_common), 4) >= 0.5
    )
"""


@register(
    "l2b_ngram_jaccard",
    oracle=f"""
    WITH {_PAIRS_ORACLE}
    SELECT doc_a, doc_b, jaccard FROM pairs
    ORDER BY doc_a, doc_b
    """,
    doc="L2: exact n-gram (3-shingle) Jaccard near-dup via inverted-index "
    "self-join — the ground truth LSH approximates; at scale run only on "
    "LSH survivors. Inverted index (explode+join on shingle) touches only "
    "pairs sharing a shingle.",
    tags=("llm", "dedup"),
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import materialize

    corpus = corpus_with_near_dups(spark, sf_dir)
    # One tokenize+shingle pass; the inverted-index self-join and the
    # two size lookups all read the materialized table (8 corpus scans
    # otherwise: 2 self-join sides x lineage + 2 size sides).
    sh_tbl = materialize(corpus.select("doc_id", shingles().alias("sh")))
    inv = sh_tbl.select("doc_id", F.explode("sh").alias("shingle"))
    a = inv.alias("a")
    b = inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh_tbl.select("doc_id", F.size("sh").alias("n_sh"))
    jac = (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= 0.5)


def portable_minhash_signatures(
    sh_tbl: DataFrame, n_hashes: int = N_MINHASHES
) -> DataFrame:
    """MinHash signatures from an ENGINE-PORTABLE hash family: slot i is the
    lexicographic minimum of ``md5(i || ':' || shingle)`` over the doc's
    string-shingle set. md5 emits lowercase hex in every engine and hex
    strings order identically under binary collation, so any SQL engine
    reproduces these signatures bit-for-bit — unlike xxhash64/murmur whose
    seeding is engine-private. Same narrow zero-shuffle shape as
    :func:`minhash_signatures`; ~2× its cost (md5 vs xxhash64 per shingle),
    which is the price of cross-engine auditability — production dedup
    stays on l2's xxhash path, this family exists so sketches persisted by
    ONE engine can be verified/extended by another."""

    def slot(i: int) -> Column:
        return F.array_min(
            F.transform("sh", lambda s: F.md5(F.concat(F.lit(f"{i}:"), s)))
        ).alias(f"mh_{i}")

    return sh_tbl.select("doc_id", *[slot(i) for i in range(n_hashes)])


def portable_band_hashes(
    signatures: DataFrame, n_bands: int = N_BANDS
) -> DataFrame:
    """(doc_id, band, band_hash) with band_hash = md5 of the '|'-joined
    band slots — the portable analogue of :func:`band_hashes`.
    Rows-per-band derives from the signature's own mh_* column count,
    validated the same way (see :func:`band_hashes`)."""
    rows_per_band = _rows_per_band(signatures, n_bands)
    return signatures.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh_{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def md5_signature_sql(n_hashes: int = N_MINHASHES) -> str:
    """DuckDB text of :func:`portable_minhash_signatures` over a shingle-set
    column ``sh``: the comma-separated slot list (callers wrap it in
    ``[...]``)."""
    return ", ".join(
        f"list_min(list_transform(sh, s -> md5(concat('{i}:', s))))"
        for i in range(n_hashes)
    )


def md5_bands_sql(
    sig: str, n_hashes: int = N_MINHASHES, n_bands: int = N_BANDS
) -> str:
    """DuckDB text of :func:`portable_band_hashes` over the signature CTE
    ``sig`` (column ``mh``): one (doc_id, band, band_hash) row per band."""
    rpb = n_hashes // n_bands
    band_key = ", ".join(f"mh[b.band*{rpb}+{r + 1}]" for r in range(rpb))
    bands_list = ", ".join(str(b) for b in range(n_bands))
    return f"""
      SELECT doc_id, b.band, md5(concat_ws('|', {band_key})) AS band_hash
      FROM {sig} CROSS JOIN (SELECT unnest([{bands_list}]) AS band) b"""


@register(
    "l2f_portable_minhash",
    oracle=f"""
    WITH corpus AS ({_CORPUS_ORACLE}),
    sh AS (
      SELECT doc_id, {shingle_set_sql()} AS sh
      FROM corpus
    ),
    sig AS (SELECT doc_id, [{md5_signature_sql()}] AS mh FROM sh),
    bands AS ({md5_bands_sql("sig")}),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT doc_a, doc_b,
             round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                   / (len(sa.sh) + len(sb.sh)
                      - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
      FROM cands
      JOIN sh sa ON sa.doc_id = doc_a
      JOIN sh sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, jaccard FROM scored
    WHERE jaccard >= 0.5
    ORDER BY doc_a, doc_b
    """,
    doc="L2f: MinHash+LSH near-dup on a PORTABLE hash family — signature "
    "slot i = lexicographic min of md5(i||':'||shingle); band key = md5 of "
    "the joined band slots. Identical pipeline shape to l2 (shingle → 16 "
    "minhashes → 4 bands → bucket pairing → exact-Jaccard verify ≥ 0.5) "
    "but every intermediate is reproducible in ANY SQL engine, so this "
    "entry carries a FULL value oracle: DuckDB computes the same "
    "signatures, the same candidate set, and the same verified pairs "
    "bit-for-bit — closing the 'LSH has no tractable oracle' gap for the "
    "L2 class (the engine-private-hash members l2/l2c keep their "
    "rows-only status; this is the auditable variant). At 100 TB the use "
    "case is real: a persisted sketch index written by Spark can be "
    "probed/validated by DuckDB/Trino (or vice versa) because the family "
    "is engine-neutral; cost is ~2× the xxhash path.",
    tags=("llm", "dedup"),
)
def portable_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import materialize

    corpus = corpus_with_near_dups(spark, sf_dir)
    # One tokenize+shingle pass (STRING shingles — the portable hash needs
    # shingle text, as l2b's oracle does) serves signatures AND verify.
    sh_tbl = materialize(corpus.select("doc_id", shingles().alias("sh")))
    pairs = _pairs_from_bands(
        portable_band_hashes(portable_minhash_signatures(sh_tbl))
    )
    return (
        exact_jaccard(sh_tbl, pairs)
        .filter(F.col("jaccard") >= 0.5)
    )


N_SIMHASH_BITS = 32  # production uses 64 — same expression shape
SIMHASH_MAX_HAMMING = 2
# Manku et al. pigeonhole blocking: split the fingerprint into
# (max_hamming + 1) segments; any pair within hamming distance d must agree
# EXACTLY on at least one segment, so joining per-segment finds every such
# pair while touching only segment-colliding candidates.
_N_SEGMENTS = SIMHASH_MAX_HAMMING + 1


def simhash_bits(corpus: DataFrame, n_bits: int = N_SIMHASH_BITS) -> DataFrame:
    """SimHash: per token hash, each bit votes ±1; fingerprint bit j = sign
    of the vote sum. One explode + one agg, all JVM expressions."""
    toks = corpus.select("doc_id", F.explode(tokens()).alias("token")).select(
        "doc_id", F.xxhash64("token").alias("h")
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"v_{j}")
            for j in range(n_bits)
        ]
    )
    fingerprint = sum(
        F.when(F.col(f"v_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(n_bits)
    )
    return votes.select("doc_id", fingerprint.cast("bigint").alias("simhash"))


def _segment(col: Column, seg: int) -> Column:
    """Bits [seg*w, (seg+1)*w) of the fingerprint, w = n_bits/segments."""
    width = N_SIMHASH_BITS // _N_SEGMENTS + 1
    return F.shiftright(col, seg * width).bitwiseAND(F.lit((1 << width) - 1))


@register(
    "l2c_simhash",
    oracle=None,  # engine-specific hash → verified structurally in tests
    doc="L2: SimHash near-dup — bit-vote fingerprints, then Manku-style "
    "segment blocking: pairs within hamming ≤ 2 must share one of 3 exact "
    "fingerprint segments (pigeonhole), so candidates come from per-"
    "segment buckets (same grouped-pairing shape as MinHash-LSH, no O(n²) "
    "cross join) and only candidates pay the bit_count verify.",
    tags=("llm", "dedup"),
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Own pair expansion, not :func:`_bucket_pairs`: each pair carries
    its hamming distance, computed and filtered inside the expansion."""
    corpus = corpus_with_near_dups(spark, sf_dir)
    fp = simhash_bits(corpus)
    segs = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[_segment(F.col("simhash"), s) for s in range(_N_SEGMENTS)])
        ).alias("seg", "seg_val"),
    )
    buckets = (
        segs.groupBy("seg", "seg_val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("members")
        )
        .filter(F.size("members") > 1)
    )
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "members",
                lambda a: F.transform(
                    "members",
                    lambda b: F.struct(
                        a["doc_id"].alias("doc_a"),
                        b["doc_id"].alias("doc_b"),
                        F.bit_count(
                            a["simhash"].bitwiseXOR(b["simhash"])
                        ).alias("hamming"),
                    ),
                ),
            )
        ),
        lambda p: (p["doc_a"] < p["doc_b"])
        & (p["hamming"] <= SIMHASH_MAX_HAMMING),
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .distinct()
    )


@register(
    "l2d_embedding_neardup",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
    ORDER BY vec_a, vec_b
    """,
    doc="L2: embedding-cosine near-dup, blocked by label — the verifier "
    "shape; at 100 TB the block key becomes LSH hyperplane sign-buckets "
    "(llm/similarity.py) instead of a label. Cosine in double on both "
    "engines (DuckDB computes FLOAT[] cosine in float32 otherwise).",
    tags=("llm", "dedup", "vector"),
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norms are hoisted to per-ROW columns before the self-join: inside
    # the join they would be re-evaluated per PAIR (~|block| times per
    # row), and higher-order lambdas run interpreted, outside codegen —
    # measured 9.6 s -> ~4.6 s at sf0.1 with the identical expressions
    # (same aggregate lambda, same evaluation order, bit-identical
    # cosine). Only the pair-grain dot product remains in the join.
    raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    e = raw.select(
        "vec_id",
        "label",
        "v",
        F.sqrt(
            F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("nrm"),
    )
    a = e.alias("a")
    b = e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 4)
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.3)
    )


MAX_LP_ITERATIONS = 20


def connected_components(edges: DataFrame, max_iterations: int = MAX_LP_ITERATIONS) -> DataFrame:
    """Min-label propagation: (node, cluster_id = min doc_id reachable).

    The distributed union-find for dedup clustering: every near-dup pair is
    an edge; a duplicate GROUP is a connected component; the keeper is the
    component's min id. Each iteration joins labels to neighbors and takes
    the elementwise min — label sums decrease monotonically, so an
    unchanged sum is convergence (one cheap scalar action per round, no
    full-frame compare). Iterations are O(component diameter); near-dup
    graphs are shallow (stars around a popular document), so a handful of
    rounds suffice even at corpus scale.

    Scale notes (100 TB): lineage is truncated every round with
    localCheckpoint() — the canonical guard against iterative-plan blowup
    (a cluster deployment would use reliable checkpoint() on durable
    storage). The join partitions by node id each round; a pathological
    high-degree node is the skew case AQE splits.
    """
    both = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    both = both.unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # Pin the edge list BEFORE the loop: `both` is re-read by every
    # propagation round, and without this the whole upstream
    # edge-construction lineage (candidate join + distinct — the
    # expensive part for l32/l2e) re-executes per round. Measured on the
    # high-dup crossover corpus (SCALE.md): this pin plus the l32
    # window-min star took l32 from 51 s to 34 s. Edge-sized, not
    # corpus-sized, so the checkpoint is cheap relative to one round.
    both = both.localCheckpoint()
    labels = (
        both.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iterations):
        nbr_min = (
            both.join(labels, both.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr_min, labels.doc_id == nbr_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.withColumnRenamed("label", "cluster_id")


# connected_components + the per-cluster rollup as DuckDB text, over a CTE
# ``pairs`` (doc_a, doc_b): a recursive-CTE transitive closure labels each
# node with the min id it reaches. The one closure of l2e's, l32's and
# g3's oracles; the caller's WITH must be RECURSIVE.
_COMPONENT_CLUSTERS_ORACLE = """
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, root) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    labels AS (SELECT node AS doc_id, min(root) AS cluster_id
               FROM reach GROUP BY node)
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           max(doc_id)              AS max_member
    FROM labels
    GROUP BY cluster_id
    ORDER BY cluster_id
    """

@register(
    "l2e_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_ORACLE},
    {_COMPONENT_CLUSTERS_ORACLE}""",
    doc="L2e: duplicate clustering — iterative min-label propagation "
    "(distributed union-find) over the exact near-dup pair graph; a "
    "cluster = one duplicate group, cluster_id = the keeper (min doc_id). "
    "Convergence via monotone label-sum check; lineage truncated per "
    "round with localCheckpoint. Oracle: DuckDB recursive-CTE transitive "
    "closure over the same edges. Form selection: l2e is the form l41's "
    "profile picks when pair_volume ≫ n_docs — its output is one row per "
    "CLUSTER (k members collapse to a representative), so a k-clone "
    "blow-up costs Θ(k) here vs the Θ(k²) a pair-enumerating form "
    "(l2/l2b/l29) pays; below that threshold the pair forms are cheaper "
    "because they skip the iterative label propagation.",
    tags=("llm", "dedup", "iterative"),
)
def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(edges)
    return (
        labels.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("doc_id").alias("max_member"),
        )
    )


_WRAPPED_CORPUS_ORACLE = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT d.doc_id + 2000000 AS doc_id,
             d.text || ' ' || n1.text || ' ' || n2.text AS text
      FROM documents d
      JOIN documents n1 ON n1.doc_id = d.doc_id + 1
      JOIN documents n2 ON n2.doc_id = d.doc_id + 2
      WHERE d.doc_id % 20 = 0
"""


@register(
    "l23_containment_neardup",
    oracle=f"""
    WITH corpus AS ({_WRAPPED_CORPUS_ORACLE}),
    sh AS (
      SELECT doc_id, {shingle_set_sql()} AS sh
      FROM corpus
    ),
    inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    ),
    scored AS (
      SELECT doc_a, doc_b,
             round(CAST(n_common AS DOUBLE) / least(len(sa.sh), len(sb.sh)), 4)
               AS containment,
             round(CAST(n_common AS DOUBLE)
                   / (len(sa.sh) + len(sb.sh) - n_common), 4) AS jaccard
      FROM common
      JOIN sh sa ON sa.doc_id = doc_a
      JOIN sh sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, containment, jaccard
    FROM scored
    WHERE containment >= 0.9 AND jaccard < 0.5
    ORDER BY doc_a, doc_b
    """,
    doc="L23: asymmetric CONTAINMENT near-dup — catches doc-in-doc "
    "duplication (a document quoted/wrapped inside a longer one: "
    "boilerplate-wrapped articles, quoted posts, concatenated crawls) "
    "that symmetric Jaccard structurally MISSES: containment = "
    "|A∩B| / min(|A|,|B|) is ~1 when the small doc rides inside the "
    "big one while Jaccard ≈ |small|/|big| sinks below any sane "
    "threshold. The output filter (containment >= 0.9 AND jaccard < "
    "0.5) is exactly the blind spot: every emitted pair is one l2b "
    "would not flag. Fixture plants wrapped variants (doc + two "
    "neighbor docs appended); same one-pass shingle table and "
    "inverted-index join as l2b — at 100 TB this runs on LSH-survivor "
    "candidates, and the LSH for containment uses per-doc-size banded "
    "thresholds (the standard containment-LSH adjustment).",
    tags=("llm", "dedup"),
)
def containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import materialize

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n1 = d.select((F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("t1"))
    n2 = d.select((F.col("doc_id") - 2).alias("doc_id"), F.col("text").alias("t2"))
    wrapped = (
        d.filter(F.col("doc_id") % 20 == 0)
        .join(n1, "doc_id")
        .join(n2, "doc_id")
        .select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat_ws(" ", "text", "t1", "t2").alias("text"),
        )
    )
    corpus = spread(d.unionByName(wrapped), "doc_id")

    sh_tbl = materialize(corpus.select("doc_id", shingles().alias("sh")))
    inv = sh_tbl.select("doc_id", F.explode("sh").alias("shingle"))
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh_tbl.select("doc_id", F.size("sh").alias("n_sh"))
    scored = (
        common.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common").cast("double")
                / F.least(F.col("n_a"), F.col("n_b")),
                4,
            ).alias("containment"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )
    return scored.filter((F.col("containment") >= 0.9) & (F.col("jaccard") < 0.5))


@register(
    "l25_url_dedup",
    oracle="""
    WITH urls AS (
      SELECT doc_id, n_chars, source,
             'https://' || source || '.example.com/' || lang || '/doc-'
               || (doc_id % 40) || '?utm=u' || doc_id AS url
      FROM documents
    ),
    canon AS (
      SELECT source, regexp_replace(url, '\\?.*$', '') AS curl, n_chars
      FROM urls
    ),
    groups AS (
      SELECT source, curl, count(*) AS n, max(n_chars) AS kept_chars
      FROM canon GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(n) AS BIGINT)            AS n_docs,
           CAST(count(*) AS BIGINT)          AS n_canonical,
           CAST(sum(n) - count(*) AS BIGINT) AS n_removed,
           CAST(sum(kept_chars) AS BIGINT)   AS kept_chars
    FROM groups GROUP BY source ORDER BY source
    """,
    doc="L25: URL-canonical dedup — the cheapest, highest-yield dedup "
    "stage of a web-corpus pipeline, run BEFORE content hashing (l1) "
    "and near-dup (l2): normalize the crawl URL (strip the query "
    "string — session ids, utm trackers — keeping scheme/host/path) "
    "and keep ONE document per canonical URL, preferring the longest "
    "capture (max n_chars — the 'best snapshot' rule; crawls revisit "
    "the same page with varying truncation). One narrow shuffle on "
    "the canonical-URL hash; the keeper pick is a max aggregate, not "
    "a sort. The synthesized URLs plant real collisions (doc_id mod "
    "40 path slots per (source, lang)) so the removal counts are "
    "load-bearing. Production canonicalization adds host lowercasing, "
    "default-port and trailing-slash rules — same one-expression "
    "shape.",
    tags=("llm", "dedup"),
)
def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    urls = d.select(
        "source",
        "n_chars",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/"),
            F.col("lang"), F.lit("/doc-"), (F.col("doc_id") % 40),
            F.lit("?utm=u"), F.col("doc_id"),
        ).alias("url"),
    )
    canon = urls.select(
        "source",
        F.regexp_replace("url", r"\?.*$", "").alias("curl"),
        "n_chars",
    )
    groups = canon.groupBy("source", "curl").agg(
        F.count(F.lit(1)).alias("n"), F.max("n_chars").alias("kept_chars")
    )
    return (
        groups.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_canonical"),
            (F.sum("n") - F.count(F.lit(1))).cast("bigint").alias("n_removed"),
            F.sum("kept_chars").cast("bigint").alias("kept_chars"),
        )
    )


@register(
    "l28_record_linkage",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey AS true_key, c_nationkey,
             substring(c_name, 1, len(c_name) - 2)
               || substring(c_name, len(c_name), 1)
               || substring(c_name, len(c_name) - 1, 1) AS dirty_name
      FROM customer WHERE c_custkey % 9 = 0
    ),
    candidates AS (
      SELECT d.true_key, d.dirty_name, m.c_custkey AS matched_key,
             levenshtein(d.dirty_name, m.c_name) AS lev
      FROM dirty d
      JOIN customer m
        ON m.c_nationkey = d.c_nationkey
       AND substring(m.c_name, 1, 12) = substring(d.dirty_name, 1, 12)
      WHERE levenshtein(d.dirty_name, m.c_name) <= 2
    ),
    resolved AS (
      SELECT true_key, matched_key, lev
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY true_key ORDER BY lev, matched_key) AS rn
        FROM candidates
      ) WHERE rn = 1
    )
    SELECT lev AS lev_distance,
           CAST(count(*) AS BIGINT) AS n_links,
           CAST(sum(CASE WHEN matched_key = true_key THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM resolved GROUP BY lev ORDER BY lev
    """,
    doc="L28: record linkage / entity resolution — the STRUCTURED-data "
    "face of the dedup family (l1/l2 match content; this matches "
    "ENTITIES across sources with dirty keys): a derived 'dirty' "
    "source (last-two-character transposition — the classic typo — "
    "planted on a key slice) is linked back to the master by "
    "block-then-compare: candidates must share the blocking key "
    "(nation + 12-char name prefix), survive an edit-distance gate "
    "(levenshtein <= 2, a codegen'd JVM expression), and each dirty "
    "record resolves to its BEST candidate (min distance, "
    "deterministic tiebreak) — the standard ER pipeline shape. "
    "Blocking is what makes it scale: comparisons happen only inside "
    "blocks (the dedup-blocking analogue of LSH banding), so the "
    "pairwise cost is sum of squared block sizes, not corpus². The "
    "n_correct column makes linkage QUALITY part of the checked "
    "contract, not just link counts — and it deliberately exposes a "
    "real ER failure mode: a transposition is TWO substitutions under "
    "plain Levenshtein, so in a dense key space a one-digit-off WRONG "
    "customer (lev 1) outranks the true one (lev 2) and most links "
    "resolve incorrectly (17/21 correct at lev 0, 0 at lev 1-2 on "
    "this fixture). That asymmetry is exactly why production ER uses "
    "transposition-aware metrics (Damerau-Levenshtein, Jaro-Winkler) "
    "— absent from both engines' builtin surface, same pipeline "
    "shape. The checked values pin the failure mode as much as the "
    "mechanism.",
    tags=("llm", "dedup", "joins"),
)
def record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    n = F.length("c_name")
    dirty = c.filter(F.col("c_custkey") % 9 == 0).select(
        F.col("c_custkey").alias("true_key"),
        "c_nationkey",
        F.concat(
            F.col("c_name").substr(F.lit(1), n - 2),
            F.col("c_name").substr(n, F.lit(1)),
            F.col("c_name").substr(n - 1, F.lit(1)),
        ).alias("dirty_name"),
    )
    m = c.select(
        F.col("c_custkey").alias("matched_key"),
        F.col("c_nationkey").alias("m_nation"),
        F.col("c_name").alias("m_name"),
    )
    candidates = (
        dirty.join(
            m,
            (F.col("m_nation") == F.col("c_nationkey"))
            & (
                F.substring("m_name", 1, 12)
                == F.substring("dirty_name", 1, 12)
            ),
        )
        .withColumn("lev", F.levenshtein("dirty_name", "m_name"))
        .filter(F.col("lev") <= 2)
    )
    w = Window.partitionBy("true_key").orderBy("lev", "matched_key")
    resolved = (
        candidates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_key", "matched_key", "lev")
    )
    return (
        resolved.groupBy(F.col("lev").alias("lev_distance"))
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.sum(
                F.when(F.col("matched_key") == F.col("true_key"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_correct"),
        )
    )


# l29: fixed-length-window exact-substring dedup. Public-method lineage:
# Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better" finds >= 50-token exact substrings shared across documents via
# a suffix array; the MapReduce-friendly equivalent used here hashes
# EVERY fixed-length character window, so any shared substring of length
# >= L29_WIN is guaranteed to share at least one full window (the
# suffix-array guarantee, minus boundary precision). Window length is
# sized to the synthetic corpus' short documents; production text uses
# 50 tokens.
L29_WIN = 40
# Boilerplate guard: a window appearing in more than this many documents
# is navigation/license chrome, not duplication signal — and at corpus
# scale a single hot window would otherwise emit a quadratic pair set.
# Same role as the hot-bucket cap in l2's banding join.
L29_STOP_CAP = 50


@register(
    "l29_exact_substring_dedup",
    oracle=f"""
    WITH dw AS (
      SELECT DISTINCT doc_id, substr(text, CAST(p AS INT), {L29_WIN}) AS win
      FROM documents, unnest(range(1, len(text) - {L29_WIN - 2})) AS u(p)
      WHERE len(text) >= {L29_WIN}
    ),
    freq AS (
      SELECT win, count(DISTINCT doc_id) AS nd FROM dw GROUP BY win
    ),
    keep AS (SELECT win FROM freq WHERE nd BETWEEN 2 AND {L29_STOP_CAP})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_windows
    FROM dw a JOIN keep USING (win) JOIN dw b USING (win)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc=f"L29: exact-substring dedup — document pairs sharing any exact "
    f"{L29_WIN}-char substring, the suffix-array dedup of Lee et al. "
    "2022 re-expressed as fixed-length window hashing: every window "
    "position explodes to a (doc, window) row (array expression, "
    "JVM-side, no Python), and candidate pairs come from a BUCKET join "
    "— the O(n^2) pair space is never touched, same shape as l2's LSH "
    "banding. The expensive pass shuffles (xxhash64(window), doc_id) "
    "LONG pairs, never the 40-char strings (5x narrower rows, one "
    "count-distinct shuffle total); a second map-side pass re-derives "
    "the window STRINGS only for hashes hitting >= 2 docs (broadcast "
    "semi-filter, no shuffle) and the exact string-frequency band "
    f"[2, {L29_STOP_CAP}] + string-equality pair join run on that tiny "
    "survivor set — so the result is exact, not "
    "hash-collision-trusting, and matches the string-keyed oracle. "
    f"Windows in > {L29_STOP_CAP} docs are dropped as boilerplate "
    "BEFORE the pair join (the hot-window cap that keeps one viral "
    "footer from emitting a quadratic pair set). Residual divergence "
    "window: a 64-bit collision between two sub-cap windows whose "
    "UNION of docs exceeds the cap — probability ~2^-44 per corpus at "
    "1e6 windows, absent on the fixtures. Surviving windows group to "
    "ONE bucket row each (win, sorted distinct doc set) and pairs are "
    "the bucket's JVM-side i<j expansion — no survivor-set self-join, "
    "no pin needed (r13: the former localCheckpoint + frequency-band "
    "join + two self-join exchanges fused into the one groupBy). "
    "Output: pair + shared-window "
    "count, the evidence a span-level trimmer consumes. Form selection: "
    "pair output means l29 inherits l41's pair_volume — profile first; "
    "a heavy clone tail (pair_volume ≫ n_docs) calls for cluster "
    "representatives (l2e/l32) or the capped probe (l40) instead, and "
    "the stop-cap here bounds only per-WINDOW fan-out, not corpus-wide "
    "clone blow-up.",
    tags=("llm", "dedup"),
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Optimization r13 (guide §2.4 / §2.3): pairs come from the bucket
    # table's i<j expansion (_bucket_pairs, l2's too) instead of a
    # banded-table SELF-join — the old form shuffled the survivor set
    # twice on the 40-char window key and needed the set pinned
    # (localCheckpoint) to avoid re-running the corpus lineage per join
    # side; the bucket form groups once and expands JVM-side, so the
    # pin, the frequency-band join and both self-join exchanges all
    # disappear. Pair multiset is identical: each window contributes
    # exactly its C(k, 2) ordered pairs.
    return (
        _bucket_pairs(_shared_window_buckets(spark, sf_dir))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_windows"))
    )


def _shared_window_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l29/l32 shared core, bucket-grain (optimization r13): one row per
    surviving window — (win, ids), where ids is the SORTED distinct
    doc set of every window whose exact string appears in
    2..L29_STOP_CAP documents. Both consumers (l29's pair expansion,
    l32's star edges) read the buckets exactly once — no pin, and the
    window strings shuffle once.

    The cap is l2's: the hash-surviving (doc_id, win) rows take a
    distinct — a window can repeat inside one document, and
    :func:`bucket_sizes` counts rows — then :func:`_capped_buckets`
    gates them on the window count before any doc set is collected.
    ``spread(..., "doc_id")`` already hash-partitions the rows by
    doc_id, so the distinct adds no exchange."""
    # spread(): documents.parquet is one input split at test scale — the
    # explode/hash pass must fan out to engine parallelism first.
    docs = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= L29_WIN),
        "doc_id",
    )
    exploded = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - (L29_WIN - 1))
        ).alias("p"),
    )
    # Pass 1 (the only corpus-wide shuffle): hashed windows as longs.
    dwh = exploded.select(
        "doc_id", F.xxhash64(F.expr(f"substring(text, p, {L29_WIN})")).alias("h")
    )
    # "seen in >= 2 distinct docs" == min(doc) != max(doc): min/max
    # partial-aggregate map-side to one row per (partition, h) — no
    # (h, doc_id) dedup state like count_distinct — so the wide shuffle
    # carries bare (h, min, max) triples. Exact cap applied on strings
    # below.
    shared_h = (
        dwh.groupBy("h")
        .agg(F.min("doc_id").alias("d_min"), F.max("doc_id").alias("d_max"))
        .filter(F.col("d_min") != F.col("d_max"))
        .select("h")
    )
    # Pass 2: map-side re-derivation of the window strings for surviving
    # hashes only (AQE broadcasts shared_h — it is duplication-sized),
    # then the exact string-frequency cap and ONE groupBy(win).
    wins = (
        exploded.select(
            "doc_id", F.expr(f"substring(text, p, {L29_WIN})").alias("win")
        )
        .withColumn("h", F.xxhash64("win"))
        .join(shared_h, "h")
        .select("doc_id", "win")
        .distinct()
    )
    return _capped_buckets(wins, L29_STOP_CAP, "win")


# Shared CTE text: the l29 survivor set, string-grain, for oracles that
# build on it (l29 inlines the same shape; l32 adds the star edges).
_L29_SURVIVORS_ORACLE = f"""
    dw AS (
      SELECT DISTINCT doc_id, substr(text, CAST(p AS INT), {L29_WIN}) AS win
      FROM documents, unnest(range(1, len(text) - {L29_WIN - 2})) AS u(p)
      WHERE len(text) >= {L29_WIN}
    ),
    freq AS (
      SELECT win, count(DISTINCT doc_id) AS nd FROM dw GROUP BY win
    ),
    keep AS (SELECT win FROM freq WHERE nd BETWEEN 2 AND {L29_STOP_CAP}),
    banded AS (SELECT dw.doc_id, dw.win FROM dw JOIN keep USING (win))
"""


@register(
    "l32_substring_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_L29_SURVIVORS_ORACLE},
    hubs AS (SELECT win, min(doc_id) AS hub FROM banded GROUP BY win),
    pairs AS (
      SELECT DISTINCT b.doc_id AS doc_a, h.hub AS doc_b
      FROM banded b JOIN hubs h USING (win)
    ),
    {_COMPONENT_CLUSTERS_ORACLE}""",
    doc="L32: exact-substring duplicate CLUSTERS via bucket-level star "
    "reduction — the linear-in-duplication escape hatch SCALE.md "
    "measures l29 needing: instead of enumerating C(k,2) pairs per "
    "shared window (quadratic in the duplication multiplicity k), "
    "every doc in a window bucket links only to the bucket's min doc "
    "(|bucket| star edges — same connected components as the clique), "
    "and min-label propagation (l2e's distributed union-find) labels "
    "each duplicate group with its keeper. Output is cluster-sized, "
    "not pair-sized: a 10-clique of true duplicates costs 10 edges "
    "here vs 45 pairs in l29 — use l29 when you need span-level "
    "evidence, l32 when you need keep/drop decisions at corpus scale. "
    "Shares l29's two-pass hashed-window survivor core (one long-keyed "
    "corpus shuffle). Oracle: DuckDB recursive-CTE transitive closure "
    "over the identical star edges.",
    tags=("llm", "dedup", "iterative"),
)
def substring_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    buckets = _shared_window_buckets(spark, sf_dir)
    # Star edges straight off the bucket table (optimization r13): the
    # hub is ids[0] — the ids array is sorted — so the former
    # min-over-window shuffle on the 40-char string key is a free array
    # subscript; only the distinct over the (member, hub) edges remains.
    star = (
        buckets.select(
            F.explode("ids").alias("doc_a"),
            F.element_at("ids", 1).alias("doc_b"),
        )
        .distinct()
    )
    labels = connected_components(star)
    return (
        labels.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max("doc_id").alias("max_member"),
        )
    )


@register(
    "l38_incremental_exact_dedup",
    oracle="""
    WITH corpus_h AS (SELECT DISTINCT md5(text) AS h FROM documents),
    newbatch AS (
      SELECT doc_id + 2000000 AS new_id, text
      FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 3000000, text || ' rev'
      FROM documents WHERE doc_id % 10 = 7
      UNION ALL
      SELECT doc_id + 4000000, text || ' rev'
      FROM documents WHERE doc_id % 10 = 7
      UNION ALL
      SELECT doc_id + 5000000, text || ' v2'
      FROM documents WHERE doc_id % 10 = 5
    ),
    hashed AS (SELECT new_id, md5(text) AS h FROM newbatch),
    classified AS (
      SELECT new_id,
             CASE WHEN h IN (SELECT h FROM corpus_h) THEN 'dup_corpus'
                  WHEN new_id <> min(new_id) OVER (PARTITION BY h)
                       THEN 'dup_batch'
                  ELSE 'kept' END AS status
      FROM hashed
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(new_id)              AS min_doc_id,
           max(new_id)              AS max_doc_id
    FROM classified
    GROUP BY status
    ORDER BY status
    """,
    doc="L38: INCREMENTAL exact dedup — the recurring-crawl shape l1 "
    "doesn't cover: a new batch arrives and must be deduped (a) "
    "against the existing corpus and (b) within itself, WITHOUT ever "
    "re-pairing old-vs-old. The corpus participates only as a "
    "content-hash INDEX (distinct md5, hash-sized rows — at 100 TB a "
    "persisted table bucketed on the hash, so each increment shuffles "
    "only the NEW batch into the index's layout; the corpus is never "
    "rescanned past its one index build and never self-joins). "
    "Classification is one left join against the index (dup_corpus) "
    "plus one window-min over the batch's own hashes (dup_batch vs "
    "kept, deterministic min-id keeper as in l1) — the join and the "
    "window share the hash-key exchange. Per-increment cost is "
    "O(|new| + index probe), the property that makes daily dedup of "
    "a growing 100 TB corpus affordable; the same index-probe shape "
    "extends to MinHash bands for incremental NEAR-dup (l2's bucket "
    "table becomes the index). Fixture: re-shipped exact copies "
    "(dup_corpus), a twice-shipped revision (one kept, one "
    "dup_batch), and fresh revisions (kept), all id-shifted into "
    "fixture-only ranges.",
    tags=("llm", "dedup"),
)
def incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # spread(): single-row-group fixture parquet scans as ONE task; the
    # md5-over-text stage must fan out to engine parallelism first (the
    # l29/corpus_with_near_dups idiom).
    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    corpus_h = d.select(F.md5("text").alias("h")).distinct()
    # One CASE-array + explode instead of four filter+union arms — one
    # corpus pass, identical rows (optimization r13, the _l42_batch
    # shape).
    mod = F.col("doc_id") % 10

    def entry(shift: int, text: F.Column) -> F.Column:
        return F.struct(
            (F.col("doc_id") + shift).alias("new_id"), text.alias("text")
        )

    arms = (
        F.when(mod == 3, F.array(entry(2_000_000, F.col("text"))))
        .when(
            mod == 7,
            F.array(
                entry(3_000_000, F.concat("text", F.lit(" rev"))),
                entry(4_000_000, F.concat("text", F.lit(" rev"))),
            ),
        )
        .when(mod == 5, F.array(entry(5_000_000, F.concat("text", F.lit(" v2")))))
    )
    newbatch = d.select(F.explode(arms).alias("e")).select(
        "e.new_id", "e.text"
    )
    hashed = newbatch.select("new_id", F.md5("text").alias("h"))
    marked = hashed.join(
        corpus_h.withColumn("in_corpus", F.lit(True)), "h", "left"
    )
    status = (
        F.when(F.col("in_corpus"), "dup_corpus")
        .when(
            F.col("new_id")
            != F.min("new_id").over(Window.partitionBy("h")),
            "dup_batch",
        )
        .otherwise("kept")
    )
    return (
        marked.select("new_id", status.alias("status"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("new_id").alias("min_doc_id"),
            F.max("new_id").alias("max_doc_id"),
        )
    )


@register(
    "l39_incremental_jaccard_neardup",
    oracle=f"""
    WITH nb AS (
      SELECT doc_id + 6000000 AS new_id,
             {_TRUNCATED_TEXT_SQL} AS text
      FROM documents WHERE doc_id % 10 = 1
      UNION ALL
      SELECT doc_id + 7000000,
             'fresh content ' || doc_id || ' entirely new tokens'
      FROM documents WHERE doc_id % 10 = 9
    ),
    c_sh AS (
      SELECT doc_id AS match_doc, {shingle_set_sql()} AS sh FROM documents
    ),
    n_sh AS (SELECT new_id, {shingle_set_sql()} AS sh FROM nb),
    c_inv AS (SELECT match_doc, unnest(sh) AS shingle FROM c_sh),
    n_inv AS (SELECT new_id, unnest(sh) AS shingle FROM n_sh),
    common AS (
      SELECT n.new_id, c.match_doc, count(*) AS n_common
      FROM n_inv n JOIN c_inv c ON n.shingle = c.shingle
      GROUP BY n.new_id, c.match_doc
    )
    SELECT new_id, match_doc,
           round(CAST(n_common AS DOUBLE)
                 / (len(na.sh) + len(cb.sh) - n_common), 4) AS jaccard
    FROM common
    JOIN n_sh na USING (new_id)
    JOIN c_sh cb USING (match_doc)
    WHERE round(CAST(n_common AS DOUBLE)
                / (len(na.sh) + len(cb.sh) - n_common), 4) >= 0.5
    ORDER BY new_id, match_doc
    """,
    doc="L39: INCREMENTAL near-dup — l38's index-probe shape applied to "
    "n-gram Jaccard: the corpus participates as a persisted SHINGLE "
    "inverted index, and only new-batch shingles probe it — every "
    "candidate pair is new-vs-corpus, the corpus NEVER self-joins "
    "(contrast l2b, which pairs the whole corpus against itself; on a "
    "daily crawl over a 100 TB corpus, old-vs-old re-pairing is the "
    "cost that kills the naive plan). Result is EXACT set-overlap "
    "Jaccard >= 0.5 on the probed pairs — deterministic and fully "
    "oracle-able, unlike LSH-pruned variants (recall < 1 by design); "
    "at scale the same probe runs on l2's MinHash BAND index first "
    "and this exact join verifies only band survivors — that "
    "composition is registered as l40_incremental_banded_neardup, "
    "whose index carries the document-frequency cap this standalone "
    "exact probe lacks (run THIS form only on bounded batches). "
    "Fixture: "
    "truncated revisions of every doc_id%10==1 doc (must match their "
    "source) plus synthetic fresh docs (must match nothing), in "
    "fixture-only id ranges. One shuffle joins the probe to the "
    "index on shingle; sizes join back at pair grain.",
    tags=("llm", "dedup"),
)
def incremental_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import materialize

    # spread() before the shingle explode — the CPU-dense stage must not
    # be bounded by the fixture's single input split (l29 idiom).
    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    corpus_sh = materialize(
        d.select(F.col("doc_id").alias("match_doc"), shingles().alias("sh"))
    )
    c_sizes = corpus_sh.select("match_doc", F.size("sh").alias("n_b"))
    c_inv = corpus_sh.select("match_doc", F.explode("sh").alias("shingle"))

    nb = (
        d.filter(F.col("doc_id") % 10 == 1)
        .select(
            (F.col("doc_id") + 6_000_000).alias("new_id"),
            F.array_join(
                F.slice(
                    tokens(), 1, F.greatest(F.size(tokens()) - 5, F.lit(1))
                ),
                " ",
            ).alias("text"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 10 == 9).select(
                (F.col("doc_id") + 7_000_000).alias("new_id"),
                F.concat(
                    F.lit("fresh content "),
                    F.col("doc_id").cast("string"),
                    F.lit(" entirely new tokens"),
                ).alias("text"),
            )
        )
    )
    nb_sh = materialize(nb.select("new_id", shingles().alias("sh")))
    n_sizes = nb_sh.select("new_id", F.size("sh").alias("n_a"))
    n_inv = nb_sh.select("new_id", F.explode("sh").alias("shingle"))

    # Pin the INCREMENT as the broadcast build side (and likewise the
    # pair-grain intermediate against c_sizes below): at fixture scale
    # auto-broadcast would happily pick the corpus side — both fit —
    # but at 100 TB only the new batch is broadcastable, and without
    # the hint the whole corpus inverted index shuffles. The corpus
    # tables are only ever scanned here.
    common = (
        F.broadcast(n_inv)
        .join(c_inv, "shingle")
        .groupBy("new_id", "match_doc")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = (
        F.broadcast(common.join(n_sizes, "new_id"))
        .join(c_sizes, "match_doc")
        .select(
            "new_id",
            "match_doc",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= 0.5)


# l40's planted boilerplate block: a fixed-size run of IDENTICAL docs
# (legal-disclaimer shape) whose band posting lists are exactly
# L40_BOILER_COPIES long at every SF — deliberately above the cap.
L40_BOILER_COPIES = 40
L40_MAX_POSTING = 32  # corpus band posting lists longer than this are
# boilerplate (identical/near-identical text colliding everywhere) and
# are dropped AT INDEX BUILD — the document-frequency cap that keeps the
# probe join skew-free (r5 verdict item 4: l39's uncapped exact probe
# would hot-spot on stop-shingles; the band index caps before probing).
_L40_BOILER_TEXT = (
    "all rights reserved this document is provided as is without warranty "
    "of any kind either express or implied including but not limited to "
    "the implied warranties of merchantability and fitness for a purpose"
)


def _banded_probe(
    spark: SparkSession,
    sf_dir: str,
    shingle: Callable[[], Column],
    bands: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The l40/l40b incremental near-dup body, shared by both hash
    families: ``shingle()`` is the shingle-set column and ``bands(sh)``
    turns a (doc_id, sh) table into its (doc_id, band, band_hash) rows.

    Index: corpus (+ the planted boilerplate block) banded once, buckets
    over L40_MAX_POSTING dropped by :func:`bucket_sizes` — at scale this
    runs once at index-BUILD time and the capped index is what persists.
    Probe: the new batch's bands broadcast onto it. Verify: exact
    set-overlap Jaccard >= 0.5 on band survivors only. Index once, probe
    per batch: the shape of incremental top-k similarity search (EDBT
    2020, PAPERS.md).
    """
    from mric_bak_etl_spark.tables import materialize

    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    boiler = spark.range(L40_BOILER_COPIES).select(
        (F.col("id") + 8_000_000).alias("doc_id"),
        F.lit(_L40_BOILER_TEXT).alias("text"),
    )
    corpus = d.unionByName(boiler)
    # ONE tokenize+shingle pass per side serves signatures AND the verify.
    corpus_sh = materialize(corpus.select("doc_id", shingle().alias("sh")))
    capped_index = (
        bucket_sizes(bands(corpus_sh), "band", "band_hash")
        .filter(F.col("n") <= L40_MAX_POSTING)
        .select(F.col("doc_id").alias("match_doc"), "band", "band_hash")
    )

    nb = (
        d.filter(F.col("doc_id") % 10 == 4)
        .select(
            (F.col("doc_id") + 9_000_000).alias("doc_id"),
            F.array_join(
                F.slice(
                    tokens(), 1, F.greatest(F.size(tokens()) - 5, F.lit(1))
                ),
                " ",
            ).alias("text"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 10 == 6).select(
                (F.col("doc_id") + 9_500_000).alias("doc_id"),
                F.concat(
                    F.lit("fresh content "),
                    F.col("doc_id").cast("string"),
                    F.lit(" entirely new tokens"),
                ).alias("text"),
            )
        )
        .unionByName(
            spark.range(1).select(
                F.lit(9_999_999).cast("long").alias("doc_id"),
                F.lit(_L40_BOILER_TEXT).alias("text"),
            )
        )
    )
    nb_sh = materialize(nb.select("doc_id", shingle().alias("sh")))
    probe = bands(nb_sh).withColumnRenamed("doc_id", "new_id")

    # The probe side is the NEW BATCH — small relative to the corpus by
    # the operator's contract (a daily increment vs the accumulated
    # index) — so broadcast it: the capped index is never shuffled again,
    # only scanned. If an increment outgrows broadcast range, drop the
    # hint and this degrades to a shuffled hash join on (band, band_hash).
    candidates = (
        F.broadcast(probe)
        .join(capped_index, ["band", "band_hash"])
        .select("new_id", "match_doc")
        .distinct()
    )
    # Exact verify on survivors only — candidates are the small side by
    # construction (capped LSH output), so they broadcast; each shingle
    # table is scanned once, corpus never shuffles on text.
    return (
        F.broadcast(candidates)
        .join(
            nb_sh.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_a")),
            "new_id",
        )
        .join(
            corpus_sh.select(
                F.col("doc_id").alias("match_doc"), F.col("sh").alias("sh_b")
            ),
            "match_doc",
        )
        .select(
            "new_id",
            "match_doc",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


@register(
    "l40_incremental_banded_neardup",
    oracle=None,  # MinHash banding depends on engine hash functions → no
    # SQL oracle (same class as l2); recall on the planted revision class
    # and the boilerplate cap are asserted in tests/test_llm.py.
    doc="L40: the composition l39's doc promises — incremental near-dup "
    "where the new batch probes the corpus' persisted MinHash BAND "
    "index first and exact Jaccard verifies ONLY band survivors. "
    "Index build: corpus → shingle hashes → narrow minhash signatures "
    "→ (doc_id, band, band_hash) via band_hashes(); posting lists "
    "longer than L40_MAX_POSTING are dropped AT INDEX BUILD as "
    "boilerplate by the dedup family's one cap gate (bucket_sizes, "
    "shared with l2/l29/l42): a window count with one exchange on "
    "the bucket key whose row buffer spills, no posting list collected "
    "(planted here as L40_BOILER_COPIES identical disclaimer docs "
    "whose bands exceed the cap at every SF). Probe: the new-batch "
    "bands BROADCAST onto the capped index (increment is small vs the "
    "corpus by contract; drop the hint if an increment outgrows "
    "broadcast range) — candidate volume is bounded by cap × |new "
    "bands|, never |new| × |corpus|; the corpus never self-joins. "
    "Verify: candidates (small — LSH survivors) broadcast "
    "against the two shingle tables; exact set-overlap Jaccard ≥ 0.5 "
    "is the emitted truth. Fixture probe batch: truncated revisions of "
    "doc_id%10==4 docs (must match their source), synthetic fresh docs "
    "(must match nothing), and ONE boilerplate probe doc that would "
    "fan out to all 40 planted copies without the cap and generates "
    "zero candidates with it (drop-as-boilerplate, l29_STOP_CAP "
    "semantics). At 100 TB: the index is the persisted artifact, the "
    "per-crawl cost is O(|new| + capped probe) — l38's incremental "
    "shape applied to the LSH path end-to-end. Form selection: l40 is "
    "what l41's profile picks at a heavy clone tail — the posting cap "
    "bounds per-bucket fan-out, so a k-clone cluster costs O(cap), not "
    "l41's Θ(k²) pair_volume (measured: 33 s vs 445 s on the k=100 "
    "decade, SCALE.md); on a thin tail the batch pair forms (l2/l29) "
    "skip the index build and are cheaper.",
    tags=("llm", "dedup"),
)
def incremental_banded_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _banded_probe(
        spark, sf_dir, shingle_hashes, lambda sh: band_hashes(minhash_signatures(sh))
    )


# l40b: the l40 composition on the PORTABLE hash family — l2f's move
# applied to the incremental path, so the rows-only-by-design status of
# l40 (engine-private xxhash bands) gets a fully value-oracled twin:
# DuckDB rebuilds the same capped band index, the same candidate set,
# and the same verified pairs bit-for-bit.
@register(
    "l40b_portable_incremental_neardup",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT 8000000 + i, '{_L40_BOILER_TEXT}' FROM range({L40_BOILER_COPIES}) t(i)
    ),
    c_sh AS (SELECT doc_id, {shingle_set_sql()} AS sh FROM corpus),
    c_sig AS (SELECT doc_id, [{md5_signature_sql()}] AS mh FROM c_sh),
    c_bands AS ({md5_bands_sql("c_sig")}),
    hot AS (
      SELECT band, band_hash FROM c_bands
      GROUP BY band, band_hash HAVING count(*) > {L40_MAX_POSTING}
    ),
    capped AS (
      SELECT doc_id AS match_doc, band, band_hash
      FROM c_bands ANTI JOIN hot USING (band, band_hash)
    ),
    nb AS (
      SELECT doc_id + 9000000 AS doc_id,
             {_TRUNCATED_TEXT_SQL} AS text
      FROM documents WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 9500000,
             'fresh content ' || doc_id || ' entirely new tokens'
      FROM documents WHERE doc_id % 10 = 6
      UNION ALL
      SELECT 9999999, '{_L40_BOILER_TEXT}'
    ),
    n_sh AS (SELECT doc_id, {shingle_set_sql()} AS sh FROM nb),
    n_sig AS (SELECT doc_id, [{md5_signature_sql()}] AS mh FROM n_sh),
    n_bands AS ({md5_bands_sql("n_sig")}),
    cands AS (
      SELECT DISTINCT n.doc_id AS new_id, c.match_doc
      FROM n_bands n
      JOIN capped c ON n.band = c.band AND n.band_hash = c.band_hash
    ),
    scored AS (
      SELECT new_id, match_doc,
             round(CAST(len(list_intersect(na.sh, cb.sh)) AS DOUBLE)
                   / (len(na.sh) + len(cb.sh)
                      - len(list_intersect(na.sh, cb.sh))), 4) AS jaccard
      FROM cands
      JOIN n_sh na ON na.doc_id = new_id
      JOIN c_sh cb ON cb.doc_id = match_doc
    )
    SELECT new_id, match_doc, jaccard FROM scored
    WHERE jaccard >= 0.5
    ORDER BY new_id, match_doc
    """,
    doc="L40b: l40's incremental banded near-dup on the PORTABLE hash "
    "family (l2f's md5 signatures and band keys) — identical plan shape "
    "to l40: capped band index built once from the corpus (+ the planted "
    "boilerplate block, whose over-cap postings the build drops at the "
    "one cap gate, bucket_sizes), the new batch's bands broadcast onto the "
    "capped index, exact string-shingle Jaccard >= 0.5 on band survivors "
    "only. Because every intermediate is engine-neutral md5, this twin "
    "carries a FULL value oracle: DuckDB rebuilds the same index, drops "
    "the same hot buckets, produces the same candidates, and verifies "
    "the same pairs bit-for-bit — closing the rows-only gap for the "
    "INCREMENTAL LSH class the way l2f closed it for the batch class "
    "(l40 keeps the production xxhash path; this family is what lets a "
    "sketch index persisted by one engine be probed by another). "
    "LSH recall < 1 applies identically on both sides: a revision whose "
    "bands all miss is absent from BOTH engines' output by the same "
    "deterministic arithmetic. At 100 TB the plan is l40's (one "
    "_banded_probe body, the hash family passed in): one bucket-key "
    "exchange for the cap, the probe broadcast, per-crawl cost "
    "O(|new| + capped probe) at ~2x the xxhash wall.",
    tags=("llm", "dedup"),
)
def portable_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # STRING shingles: the portable hash needs shingle text.
    return _banded_probe(
        spark,
        sf_dir,
        shingles,
        lambda sh: portable_band_hashes(portable_minhash_signatures(sh)),
    )


# l2g: SimHash on the PORTABLE hash family — the l2f/l40b move applied
# to l2c: token hash = first 32 bits of md5 (8 hex nibbles), so the
# bit votes, the fingerprint, the pigeonhole segments, and the hamming
# verify are all reproducible in any SQL engine and the entry carries
# a FULL value oracle (l2c keeps the production xxhash64 path).
_L2G_BITS = 32
_L2G_SEG_WIDTH = _L2G_BITS // _N_SEGMENTS + 1  # 11 bits x 3 segments
_L2G_VOTES = {
    f"v_{j}": f"sum(CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END)"
    for j in range(_L2G_BITS)
}
_L2G_FP = "CAST(" + " + ".join(
    f"(CASE WHEN v_{j} > 0 THEN {1 << j} ELSE 0 END)"
    for j in range(_L2G_BITS)
) + " AS BIGINT)"
_L2G_SEG_VAL = f"((fp >> (seg * {_L2G_SEG_WIDTH})) & {(1 << _L2G_SEG_WIDTH) - 1})"
# 32-bit token hash from the md5 hex prefix: Spark uses its native
# base-16 conv() (the s19 fast path); the oracle carries the
# engine-neutral instr nibble parse. Exact integer equality licenses
# the two renderings.
_L2G_H_SPARK = "CAST(conv(substring(md5(token), 1, 8), 16, 10) AS BIGINT)"
_L2G_H_ORACLE = " + ".join(
    f"CAST(instr('0123456789abcdef', substring(h0, {i + 1}, 1)) - 1"
    f" AS BIGINT) * {16 ** (7 - i)}"
    for i in range(8)
)


@register(
    "l2g_portable_simhash",
    oracle=f"""
    WITH corpus AS ({_CORPUS_ORACLE}),
    tok AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
      FROM corpus
    ),
    th AS (
      SELECT doc_id, {_L2G_H_ORACLE} AS h
      FROM (SELECT doc_id, md5(token) AS h0 FROM tok)
    ),
    votes AS (
      SELECT doc_id,
             {", ".join(f"{e} AS {n}" for n, e in _L2G_VOTES.items())}
      FROM th GROUP BY doc_id
    ),
    fps AS (SELECT doc_id, {_L2G_FP} AS fp FROM votes),
    segs AS (
      SELECT doc_id, fp, s.seg, {_L2G_SEG_VAL} AS seg_val
      FROM fps CROSS JOIN (SELECT unnest([0, 1, 2]) AS seg) s
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.fp AS fa, b.fp AS fb
      FROM segs a
      JOIN segs b ON a.seg = b.seg AND a.seg_val = b.seg_val
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
    FROM cands
    WHERE bit_count(xor(fa, fb)) <= {SIMHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """,
    doc="L2g: SimHash near-dup on the PORTABLE hash family — per-token "
    "hash = first 32 bits of md5 (integer-exact in any engine), bit "
    "votes +/-1 per occurrence, fingerprint = sign vector, then the "
    "same Manku pigeonhole blocking as l2c (3 segments; any pair "
    "within hamming <= 2 agrees exactly on one) and a bit_count(xor) "
    "verify on segment-colliding candidates only. Everything is "
    "engine-neutral integer arithmetic, so this twin carries a FULL "
    "value oracle — DuckDB rebuilds the same fingerprints, segments, "
    "candidates, and hamming distances bit-for-bit — closing the "
    "rows-only gap for the SimHash class the way l2f/l40b closed "
    "MinHash-LSH (l2c keeps the production xxhash64 path; hamming "
    "verdicts differ legitimately between hash families, identically "
    "on both engines within a family). At 100 TB the shape is l2c's: "
    "one token explode + one 32-sum map-side fold per doc, segment "
    "buckets join only colliding candidates, never O(n^2); the md5 "
    "premium is the price of cross-engine auditability.",
    tags=("llm", "dedup"),
)
def portable_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = corpus_with_near_dups(spark, sf_dir)
    th = corpus.select(
        "doc_id", F.explode(tokens()).alias("token")
    ).select("doc_id", F.expr(_L2G_H_SPARK).alias("h"))
    votes = th.groupBy("doc_id").agg(
        *[F.expr(e).alias(n) for n, e in _L2G_VOTES.items()]
    )
    fps = votes.select("doc_id", F.expr(_L2G_FP).alias("fp"))
    segs = fps.select(
        "doc_id",
        "fp",
        F.explode(F.array(*[F.lit(s) for s in range(_N_SEGMENTS)])).alias(
            "seg"
        ),
    ).select("doc_id", "fp", "seg", F.expr(_L2G_SEG_VAL).alias("seg_val"))
    a = segs.alias("a")
    b = segs.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fp").alias("fa"),
            F.col("b.fp").alias("fb"),
        )
        .distinct()
    )
    return (
        cands.select(
            "doc_a",
            "doc_b",
            F.expr("CAST(bit_count(fa ^ fb) AS INT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


# ---------------------------------------------------------------------------
# L42: the incremental crawl composite (r11 verdict task 5)
# ---------------------------------------------------------------------------

L42_MAX_POSTING = 32  # corpus docs per band bucket before drop-as-boilerplate


def build_crawl_index(
    corpus: DataFrame,
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
    cap: int = L42_MAX_POSTING,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The corpus-side probe indexes of the crawl funnel — what a
    production pipeline PERSISTS (l42b) and l42 computes inline as its
    self-contained oracle face: the distinct content-hash set (l38's
    index), the CAPPED portable band table (l40's index on l2f's md5
    family; buckets holding more than ``cap`` docs dropped at build by
    the :func:`bucket_sizes` gate), and the full
    per-bucket COUNT table (band, band_hash, n) over ALL buckets
    including hot ones. The counts are one row per distinct bucket —
    tiny next to the postings — and are what make the cap INCREMENTALLY
    maintainable (l42c): a bucket dropped as hot loses its postings
    forever, so append-time cap re-enforcement needs the true counts,
    not the capped table's survivors. They also carry the l41-style
    duplication-regime audit at publish time."""
    corpus_h = corpus.select(F.md5("text").alias("h")).distinct()
    corpus_sh = corpus.select("doc_id", shingles().alias("sh"))
    index_bands = portable_band_hashes(
        portable_minhash_signatures(corpus_sh, n_hashes=n_hashes),
        n_bands=n_bands,
    )
    # Both artifacts ride ONE exchange of ONE signature pass: the capped
    # table is the under-cap rows passed through, the count table a
    # distinct over the same windowed rows (already partitioned by the
    # bucket key — no further exchange), covering hot buckets too.
    gated = bucket_sizes(index_bands, "band", "band_hash")
    counts = gated.select("band", "band_hash", "n").distinct()
    # Column order (band, band_hash, doc_id) matches the r12 artifact
    # layout (the pre-r13 USING-join put keys first); the l42c fold's
    # merged bands and a from-scratch rebuild must stay positionally
    # identical so persisted versions compare bit-for-bit.
    capped_index = gated.filter(F.col("n") <= cap).select(
        "band", "band_hash", "doc_id"
    )
    return corpus_h, capped_index, counts


def crawl_flags(
    corpus: DataFrame,
    batch: DataFrame,
    corpus_h: DataFrame | None = None,
    capped_index: DataFrame | None = None,
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
    cap: int = L42_MAX_POSTING,
    thresh: float = 0.5,
) -> DataFrame:
    """The incremental-crawl gate cascade, batch-vs-index form: classify
    every NEW-batch document through the production funnel — URL-canonical
    dedup (l25's gate, within batch), exact dedup against the corpus
    content-hash index (l38's probe), exact dedup within the batch (l38's
    window keeper), and near-dup against the corpus band index with exact
    Jaccard verify (l40's probe on the PORTABLE l2f hash family, so any
    SQL engine reproduces every gate bit-for-bit).

    ``corpus``: (doc_id, text) — participates ONLY as two indexes (a
    distinct content-hash set and a band table); it is never re-paired
    with itself and never shuffled for the probe (broadcast joins, the
    batch being small vs the corpus by contract). ``batch``: (new_id,
    text, curl). Returns the batch with boolean survival flags s1..s4
    (cumulative conjunction — sN means "survived gates 1..N") plus
    ``tok_n`` (whitespace token count, the budget the funnel accounts).

    Gate semantics, each deterministic: s1 keeps one doc per canonical
    URL (longest text, then min new_id — l25's best-snapshot rule); s2
    drops s1-survivors whose md5(text) is in the corpus index; s3 elects
    min(new_id) per content hash among s2-survivors; s4 drops
    s3-survivors sharing a band bucket with ANY corpus doc whose exact
    string-shingle Jaccard is ≥ 0.5 (candidates from the bucket join,
    truth from the verify — LSH only prunes).

    At 100 TB both indexes are persisted artifacts (the l38/l40/l26c/m14
    pattern); per-crawl cost is O(|batch| + capped index probe). Unlike
    l40 (engine-private xxhash bands → rows-only), the hot-bucket
    posting cap IS replicated by the value oracle here — the portable
    family makes the capped index itself engine-neutral: band buckets
    holding more than L42_MAX_POSTING corpus docs are dropped at index
    build (drop-as-boilerplate, l40 semantics), bounding candidate
    volume by cap × |batch bands| even against a pathologically
    duplicated corpus (measured: the ×10 verbatim-copy corpus drove the
    uncapped probe's pair volume ~100× — every bucket 10 deep × a 10×
    batch — which is exactly the regime l41's profile detects).
    """
    from pyspark.sql import Window

    from mric_bak_etl_spark.tables import materialize

    wu = Window.partitionBy("curl")
    best_len = F.max(F.length("text")).over(wu)
    f0 = batch.select(
        "new_id",
        "text",
        "curl",
        F.size(tokens()).cast("bigint").alias("tok_n"),
        F.md5("text").alias("h"),
        best_len.alias("best_len"),
    )
    f1 = f0.select(
        "new_id",
        "text",
        "tok_n",
        "h",
        (
            F.col("new_id")
            == F.min(
                F.when(F.length("text") == F.col("best_len"), F.col("new_id"))
            ).over(wu)
        ).alias("s1"),
    )
    if corpus_h is None:
        corpus_h = corpus.select(F.md5("text").alias("h")).distinct()
    f2 = f1.join(
        corpus_h.withColumn("in_corpus", F.lit(True)), "h", "left"
    ).select(
        "new_id",
        "text",
        "tok_n",
        "h",
        "s1",
        (F.col("s1") & F.col("in_corpus").isNull()).alias("s2"),
    )
    wh = Window.partitionBy("h")
    f3 = materialize(
        f2.select(
            "new_id",
            "text",
            "tok_n",
            "s1",
            "s2",
            (
                F.col("s2")
                & (
                    F.col("new_id")
                    == F.min(F.when(F.col("s2"), F.col("new_id"))).over(wh)
                )
            ).alias("s3"),
        )
    )
    # Near-dup probe: only s3 survivors probe the index (why band docs
    # the earlier gates already dropped). Portable family end to end.
    # surv_sh derives from the PINNED f3 by narrow ops only, so its two
    # consumers (the band probe under the cands pin, the tagged verify
    # union) recompute it instead of paying a third checkpoint job —
    # batch-sized shingling, trivial next to a blocking job (r13; the
    # corpus stays un-pinned per materialize()'s own rule, and its
    # shingles are computed only for candidate docs — prune below).
    surv_sh = f3.filter("s3").select(
        F.col("new_id").alias("doc_id"), shingles().alias("sh")
    )
    probe_bands = portable_band_hashes(
        portable_minhash_signatures(surv_sh, n_hashes=n_hashes),
        n_bands=n_bands,
    )
    if capped_index is None:
        _, capped_index, _ = build_crawl_index(
            corpus, n_hashes=n_hashes, n_bands=n_bands, cap=cap
        )
    # cands is candidate-sized (bounded by cap × |batch bands|) and now
    # has TWO consumers (the verify's melted join and the corpus-side
    # prune below) → materialize, so the band probe — and on the inline
    # face the whole index build under it — runs once, not twice.
    cands = materialize(
        F.broadcast(probe_bands.withColumnRenamed("doc_id", "new_id"))
        .join(capped_index, ["band", "band_hash"])
        .select(F.col("doc_id").alias("doc_a"), F.col("new_id").alias("doc_b"))
        .distinct()
    )
    # Optimization r13 (guide §8: decide on proxies, compute heavy
    # per-row work only where needed): the Jaccard verify only ever
    # reads shingles of docs that appear in a candidate pair, but the
    # old plan shingled the ENTIRE corpus and let the broadcast join
    # discard non-candidates afterwards. Prune the corpus to candidate
    # doc_as with a broadcast semi-join BEFORE the shingle projection —
    # the corpus is still scanned once (text + id), but the
    # tokenize+shingle work runs on candidate docs only. Identical
    # verify output: exact_jaccard's inner join already dropped every
    # non-candidate row.
    cand_corpus = corpus.join(
        F.broadcast(cands.select(F.col("doc_a").alias("doc_id")).distinct()),
        "doc_id",
    )
    corpus_sh = cand_corpus.select("doc_id", shingles().alias("sh"))
    # Jaccard verify on a TAGGED id space (ADVICE r12): the corpus
    # shingles (keyed by doc_id) and the survivor shingles (keyed by
    # new_id) travel through exact_jaccard as ONE frame, and the
    # disjointness of the two id ranges used to live only in prose — a
    # caller whose batch new_id range overlapped corpus doc_ids would
    # conflate the sets and get silently wrong near-dup verdicts. Each
    # side now carries a (side, id) struct key, so collision is
    # structurally impossible whatever ids the caller ships.
    def _tag(side: int, col: str) -> F.Column:
        return F.struct(
            F.lit(side).alias("side"), F.col(col).cast("long").alias("id")
        )

    tagged_sh = corpus_sh.select(
        _tag(0, "doc_id").alias("doc_id"), "sh"
    ).unionByName(surv_sh.select(_tag(1, "doc_id").alias("doc_id"), "sh"))
    near = (
        exact_jaccard(
            tagged_sh,
            cands.select(
                _tag(0, "doc_a").alias("doc_a"),
                _tag(1, "doc_b").alias("doc_b"),
            ),
        )
        .filter(F.col("jaccard") >= thresh)
        .select(F.col("doc_b.id").alias("new_id"))
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    return f3.join(F.broadcast(near), "new_id", "left").select(
        "new_id",
        "text",
        "tok_n",
        "s1",
        "s2",
        "s3",
        (F.col("s3") & F.col("is_near").isNull()).alias("s4"),
    )


def _l42_batch(d: DataFrame) -> DataFrame:
    """The fixture increment, id-shifted into batch-only ranges (the l38
    idiom): re-shipped exact copies (%10==3 → dup_corpus), a TWICE-shipped
    revision (%10==7 → one in-batch dup, the keeper then a near-dup of
    its source), genuinely fresh docs (%10==1 → kept), and a URL-colliding
    resend pair (%10==9 → the longer capture survives the URL gate, then
    usually falls to the near-dup probe)."""
    url = lambda tail: F.concat(  # noqa: E731
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        tail,
    )
    slot = F.concat(F.lit("/doc-"), (F.col("doc_id") % 40).cast("string"))

    # Optimization r13 (guide §2.3 — one pass instead of six): the six
    # filter+union arms each re-read the spread exchange; emitting every
    # doc's arm rows as ONE CASE array + explode scans the corpus once.
    # Row set is identical arm for arm.
    def entry(shift: int, text: F.Column, tail: F.Column) -> F.Column:
        return F.struct(
            (F.col("doc_id") + shift).alias("new_id"),
            text.alias("text"),
            url(tail).alias("curl"),
        )

    mod = F.col("doc_id") % 10
    arms = (
        F.when(mod == 3, F.array(entry(2_000_000, F.col("text"), slot)))
        .when(
            mod == 7,
            F.array(
                entry(3_000_000, F.concat("text", F.lit(" rev")), slot),
                entry(
                    4_000_000,
                    F.concat("text", F.lit(" rev")),
                    F.concat(slot, F.lit("-alt")),
                ),
            ),
        )
        .when(
            mod == 1,
            F.array(
                entry(
                    5_000_000,
                    F.concat(
                        F.lit("fresh crawl "),
                        F.col("doc_id").cast("string"),
                        F.lit(" carries entirely new token material "),
                        (F.col("doc_id") * 7).cast("string"),
                    ),
                    F.concat(F.lit("/fresh-"), F.col("doc_id").cast("string")),
                )
            ),
        )
        .when(
            mod == 9,
            F.array(
                entry(
                    6_000_000,
                    F.concat("text", F.lit(" resend with extra tail")),
                    slot,
                ),
                entry(6_500_000, F.concat("text", F.lit(" v0")), slot),
            ),
        )
        # no otherwise: non-arm docs yield NULL, which explode() drops
    )
    return d.select(F.explode(arms).alias("e")).select(
        "e.new_id", "e.text", "e.curl"
    )


def crawl_waterfall(corpus: DataFrame, batch: DataFrame) -> DataFrame:
    """Aggregate crawl_flags into the l34-shaped per-gate funnel, in docs
    AND tokens (the budget a crawl release actually reports)."""
    return _crawl_waterfall_from_flags(crawl_flags(corpus, batch))


def _crawl_waterfall_from_flags(flags: DataFrame) -> DataFrame:
    tot = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        *[
            F.sum(F.col(f"s{i}").cast("int")).cast("bigint").alias(f"n{i}")
            for i in (1, 2, 3, 4)
        ],
        F.sum("tok_n").cast("bigint").alias("t0"),
        *[
            F.sum(F.when(F.col(f"s{i}"), F.col("tok_n")).otherwise(0))
            .cast("bigint")
            .alias(f"t{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    stages = tot.select(
        F.expr(
            "stack(4, "
            "1, 'url_canonical',     n0, n1, t0, t1, "
            "2, 'exact_vs_corpus',   n1, n2, t1, t2, "
            "3, 'exact_in_batch',    n2, n3, t2, t3, "
            "4, 'neardup_vs_corpus', n3, n4, t3, t4) "
            "AS (stage_no, stage, n_in, n_out, tok_in, tok_out)"
        )
    )
    return stages.select(
        "stage_no",
        "stage",
        "n_in",
        "n_out",
        (F.col("n_in") - F.col("n_out")).alias("n_dropped"),
        F.round(F.col("n_out").cast("double") / F.col("n_in"), 4).alias(
            "pct_kept"
        ),
        "tok_in",
        "tok_out",
    )


def render_crawl_funnel_ctes(
    suffix: str,
    *,
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
    cap: int = L42_MAX_POSTING,
    thresh: float = 0.5,
    k: int = SHINGLE_K,
) -> str:
    """DuckDB CTE fragment for ONE generation of the crawl funnel — the
    one text of the gate chain: l42 and l42b's registered oracle composes
    it once (suffix ""), l42c's twice (one per generation), and fuzz
    grammar 21 sweeps its parameter space (the way grammar 15 sweeps the
    sketch family's), so the SQL the fuzzing checks is the SQL those
    three oracles run.
    Assumes CTEs ``corpus{suffix}`` (doc_id, text) and ``batch{suffix}``
    (new_id, text, curl) are already defined; emits the chain through
    ``f4{suffix}`` (per-doc survival flags) and ``tot{suffix}`` (the
    one-row funnel totals). Every stage mirrors :func:`crawl_flags`
    bit-for-bit on the portable md5 family: same URL-canonical keeper
    rule, same corpus-hash probe, same in-batch keeper, same capped band
    index (hot buckets dropped at count > cap), same 4dp-rounded
    exact-Jaccard verify."""
    S = suffix
    if n_hashes % n_bands != 0:
        raise ValueError(f"{n_hashes} slots do not band into {n_bands}")
    shingle = shingle_set_sql(k)
    sig = md5_signature_sql(n_hashes)
    jac = (
        f"CAST(len(list_intersect(ssh{S}.sh, csh{S}.sh)) AS DOUBLE)"
        f" / (len(ssh{S}.sh) + len(csh{S}.sh)"
        f" - len(list_intersect(ssh{S}.sh, csh{S}.sh)))"
    )
    return f"""
    f0{S} AS (
      SELECT new_id, text, curl,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS tok_n,
             md5(text) AS h,
             max(length(text)) OVER (PARTITION BY curl) AS best_len
      FROM batch{S}
    ),
    f1{S} AS (
      SELECT new_id, text, tok_n, h,
             new_id = min(CASE WHEN length(text) = best_len THEN new_id END)
                      OVER (PARTITION BY curl) AS s1
      FROM f0{S}
    ),
    f2{S} AS (
      SELECT f1{S}.*,
             s1 AND h NOT IN (SELECT DISTINCT md5(text) FROM corpus{S}) AS s2
      FROM f1{S}
    ),
    f3{S} AS (
      SELECT f2{S}.*,
             s2 AND new_id = min(CASE WHEN s2 THEN new_id END)
                             OVER (PARTITION BY h) AS s3
      FROM f2{S}
    ),
    ssh{S} AS (SELECT new_id AS doc_id, {shingle} AS sh FROM f3{S} WHERE s3),
    csh{S} AS (SELECT doc_id, {shingle} AS sh FROM corpus{S}),
    ssig{S} AS (SELECT doc_id, [{sig}] AS mh FROM ssh{S}),
    csig{S} AS (SELECT doc_id, [{sig}] AS mh FROM csh{S}),
    sbands{S} AS ({md5_bands_sql(f"ssig{S}", n_hashes, n_bands)}),
    cbands{S} AS ({md5_bands_sql(f"csig{S}", n_hashes, n_bands)}),
    hot{S} AS (
      SELECT band, band_hash FROM cbands{S}
      GROUP BY band, band_hash HAVING count(*) > {cap}
    ),
    capped{S} AS (
      SELECT c.* FROM cbands{S} c
      WHERE NOT EXISTS (
        SELECT 1 FROM hot{S} h
        WHERE h.band = c.band AND h.band_hash = c.band_hash
      )
    ),
    cand{S} AS (
      SELECT DISTINCT s.doc_id AS new_id, c.doc_id AS corp_id
      FROM sbands{S} s JOIN capped{S} c
        ON s.band = c.band AND s.band_hash = c.band_hash
    ),
    near{S} AS (
      SELECT DISTINCT cand{S}.new_id
      FROM cand{S}
      JOIN ssh{S} ON ssh{S}.doc_id = cand{S}.new_id
      JOIN csh{S} ON csh{S}.doc_id = cand{S}.corp_id
      WHERE round({jac}, 4) >= {thresh}
    ),
    f4{S} AS (
      SELECT f3{S}.*,
             s3 AND new_id NOT IN (SELECT new_id FROM near{S}) AS s4
      FROM f3{S}
    ),
    tot{S} AS (
      SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
             CAST(sum(tok_n) AS BIGINT) AS t0,
             CAST(sum(CASE WHEN s1 THEN tok_n ELSE 0 END) AS BIGINT) AS t1,
             CAST(sum(CASE WHEN s2 THEN tok_n ELSE 0 END) AS BIGINT) AS t2,
             CAST(sum(CASE WHEN s3 THEN tok_n ELSE 0 END) AS BIGINT) AS t3,
             CAST(sum(CASE WHEN s4 THEN tok_n ELSE 0 END) AS BIGINT) AS t4
      FROM f4{S}
    )"""


def render_crawl_waterfall_select(suffixes: list[tuple[int, str]]) -> str:
    """The stacked-waterfall SELECT over one ``tot{suffix}`` CTE per
    generation: (batch_no, stage_no, stage, n_in, n_out, n_dropped,
    pct_kept, tok_in, tok_out) — the l42 waterfall shape plus the
    generation column."""
    stages = [
        (1, "url_canonical"),
        (2, "exact_vs_corpus"),
        (3, "exact_in_batch"),
        (4, "neardup_vs_corpus"),
    ]
    parts = [
        f"SELECT {bn} AS batch_no, {i} AS stage_no, '{stage}' AS stage, "
        f"n{i - 1} AS n_in, n{i} AS n_out, t{i - 1} AS tok_in, "
        f"t{i} AS tok_out FROM tot{S}"
        for bn, S in suffixes
        for i, stage in stages
    ]
    return (
        "SELECT batch_no, stage_no, stage, n_in, n_out, "
        "n_in - n_out AS n_dropped, "
        "round(CAST(n_out AS DOUBLE) / n_in, 4) AS pct_kept, "
        "tok_in, tok_out FROM (\n"
        + "\n      UNION ALL\n".join(parts)
        + "\n    ) ORDER BY batch_no, stage_no"
    )


# The first crawl generation as SQL over ``d`` (doc_id, text, lang,
# source): :func:`_l42_batch`'s arms, one UNION ALL arm each. The batch
# CTE of l42/l42b's oracle and the ``batch_g1`` CTE of l42c's.
_CRAWL_BATCH1_SQL = """
      SELECT doc_id + 2000000 AS new_id, text,
             'https://'||source||'.example.com/'||lang||'/doc-'||(doc_id%40) AS curl
      FROM d WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 3000000, text || ' rev',
             'https://'||source||'.example.com/'||lang||'/doc-'||(doc_id%40)
      FROM d WHERE doc_id % 10 = 7
      UNION ALL
      SELECT doc_id + 4000000, text || ' rev',
             'https://'||source||'.example.com/'||lang||'/doc-'||(doc_id%40)||'-alt'
      FROM d WHERE doc_id % 10 = 7
      UNION ALL
      SELECT doc_id + 5000000,
             'fresh crawl '||doc_id||' carries entirely new token material '||(doc_id*7),
             'https://'||source||'.example.com/'||lang||'/fresh-'||doc_id
      FROM d WHERE doc_id % 10 = 1
      UNION ALL
      SELECT doc_id + 6000000, text || ' resend with extra tail',
             'https://'||source||'.example.com/'||lang||'/doc-'||(doc_id%40)
      FROM d WHERE doc_id % 10 = 9
      UNION ALL
      SELECT doc_id + 6500000, text || ' v0',
             'https://'||source||'.example.com/'||lang||'/doc-'||(doc_id%40)
      FROM d WHERE doc_id % 10 = 9
"""


_L42_ORACLE = f"""
    WITH d AS (SELECT doc_id, text, lang, source FROM documents),
    corpus AS (SELECT doc_id, text FROM d),
    batch AS ({_CRAWL_BATCH1_SQL}),
    {render_crawl_funnel_ctes("")}
    SELECT * EXCLUDE (batch_no)
    FROM ({render_crawl_waterfall_select([(1, "")])})
    """


@register(
    "l42_incremental_crawl",
    oracle=_L42_ORACLE,
    doc="L42: the INCREMENTAL crawl composite (r11 verdict task 5) — the "
    "end-to-end funnel a recurring crawl runs against a standing corpus, "
    "registered as ONE query the way l11 proves the batch curation path: "
    "URL-canonical dedup (l25's gate) → exact dedup vs the corpus "
    "content-hash index (l38's probe) → exact dedup within the batch "
    "(l38's window keeper) → near-dup vs the corpus band index with "
    "exact-Jaccard verify (l40's probe shape on l2f's PORTABLE md5 "
    "hash family — which is what buys this composite a FULL value "
    "oracle: DuckDB reproduces every signature, band, candidate and "
    "verdict bit-for-bit). Output is the l34-shaped waterfall in docs "
    "AND whitespace tokens per gate — the budget accounting a release "
    "ships. Fixture increment: re-shipped exact copies (caught by the "
    "corpus index), a twice-shipped revision (one in-batch dup; the "
    "keeper then falls to the near-dup probe against its source), "
    "genuinely fresh docs (kept), and a URL-colliding resend pair "
    "(the longer capture survives the URL gate). The corpus "
    "participates ONLY as two probe-able indexes — never re-paired "
    "with itself, never shuffled for the probe (the batch side "
    "broadcasts) — so per-crawl cost is O(|batch| + index probe): "
    "l38's incremental property, composed. Replay idempotence (the "
    "t13b shape) is pinned by test: append the survivors to the "
    "corpus, re-ship the SAME batch, and the funnel keeps zero docs. "
    "At 100 TB the indexes are persisted artifacts (l26c/m14's "
    "publish pattern). l40's hot-bucket posting cap IS applied at "
    "index-build time here, and the portable hash family lets the "
    "value oracle replicate the capped index itself (the hot/capped "
    "CTEs), so the candidate set matches bit-for-bit INCLUDING the "
    "cap — see crawl_flags. Downstream "
    "stages of the composition are proven by their own apply faces: "
    "l26c tokenizes survivors via the persisted merge table, m14 "
    "manifests their media via the persisted archive column.",
    tags=("llm", "dedup", "composite"),
)
def incremental_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source"
        ),
        "doc_id",
    )
    return crawl_waterfall(d.select("doc_id", "text"), _l42_batch(d))


def _crawl_index_artifact_base(sf_dir: str) -> str:
    """Keyed by the index config: hash family, band geometry, posting
    cap."""
    config = f"crawlidx-v3-md5x{N_MINHASHES}-b{N_BANDS}-cap{L42_MAX_POSTING}"
    return artifact_dir(
        sf_dir, "documents", "mric_crawl_index_artifacts", config
    )


L42_CAP_WARN_FRAC = 0.05  # annotate when > 5% of buckets are capped


def publish_crawl_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-missing for the crawl probe indexes: write the distinct
    content-hash set, the capped band table, and the full per-bucket
    count table to a staging dir, AUDIT what was written from the
    artifacts' own invariants — the hash set is genuinely distinct and
    non-null; no band bucket exceeds the posting cap; band ids lie in
    [0, N_BANDS); the capped band table agrees bucket-for-bucket with
    the count table's under-cap rows — then one atomic rename. The
    audit reads only the staged parquet, exactly what a later reader
    can re-verify.

    The audit also WRITES a row (the `audit` table in the artifact):
    bucket totals plus the l41-style duplication annotation (r12
    verdict task 3) — when more than L42_CAP_WARN_FRAC of band buckets
    exceeded the posting cap, the corpus is in a duplication regime
    (e.g. 100 lightly-edited variants per text) where the near-dup
    gate is largely NEUTRALIZED by drop-as-boilerplate. That regime is
    valid (the ×100 verbatim-copy corpus is the proof), so the publish
    annotates and warns rather than refusing — but a consumer reading
    `duplication_warning = true` knows to run l41's profile and pick a
    cluster-representative form (l32/l2e) instead of trusting the
    probe."""
    import os
    import warnings

    def write(staging: str) -> None:
        d = spread(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
            "doc_id",
        )
        index = build_crawl_index(d)
        for name, df_ in zip(("hashes", "bands", "counts"), index):
            df_.write.mode("overwrite").parquet(os.path.join(staging, name))
        h = spark.read.parquet(os.path.join(staging, "hashes"))
        h_row = h.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("h").alias("nd"),
            F.sum(F.col("h").isNull().cast("int")).alias("nulls"),
        ).collect()[0]
        b = spark.read.parquet(os.path.join(staging, "bands"))
        b_row = b.agg(
            F.count(F.lit(1)).alias("n"),
            F.max("band").alias("max_band"),
            F.min("band").alias("min_band"),
            F.sum(
                (F.col("band_hash").isNull() | F.col("doc_id").isNull()).cast(
                    "int"
                )
            ).alias("nulls"),
        ).collect()[0]
        # Cross-table invariant: the capped band table must hold EXACTLY
        # the postings of the count table's under-cap buckets — a packer
        # that dropped the wrong buckets (or a stale counts write) shows up
        # as a mismatch row. Both sides are bucket-grain (tiny next to the
        # postings); one join, one job. The full outer join keeps every
        # staged bucket, so the largest staged posting list comes off the
        # same rows.
        c = spark.read.parquet(os.path.join(staging, "counts"))
        staged_counts = b.groupBy("band", "band_hash").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_b")
        )
        mismatches, max_posting = (
            c.filter(F.col("n") <= L42_MAX_POSTING)
            .join(staged_counts, ["band", "band_hash"], "full_outer")
            .agg(F.count_if(~F.col("n").eqNullSafe(F.col("n_b"))), F.max("n_b"))
            .collect()[0]
        )
        # The duplication-regime annotation (counts over ALL buckets).
        c_row = c.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum((F.col("n") > L42_MAX_POSTING).cast("int")).alias(
                "n_capped"
            ),
        ).collect()[0]
        n_buckets = c_row["n_buckets"] or 0
        n_capped = c_row["n_capped"] or 0
        capped_frac = (n_capped / n_buckets) if n_buckets else 1.0
        dup_warning = capped_frac > L42_CAP_WARN_FRAC
        # Empty-band-table note: a corpus that is wall-to-wall verbatim
        # copies (the ×100 stress corpus: ~100 copies of every text) puts
        # EVERY bucket over the posting cap, so an empty capped index is
        # semantically correct — copies are the exact-hash index's job, and
        # drop-as-boilerplate says the near-dup probe matches nothing. The
        # aggregates over an empty frame come back NULL, hence the `or 0`
        # coalesces (a real bug found by that corpus: `None == 0` failed a
        # valid publish).
        ok = (
            h_row["n"] == h_row["nd"]
            and (h_row["nulls"] or 0) == 0
            and (b_row["nulls"] or 0) == 0
            and (
                b_row["n"] == 0
                or (0 <= b_row["min_band"] and b_row["max_band"] < N_BANDS)
            )
            and (max_posting or 0) <= L42_MAX_POSTING
            and mismatches == 0
        )
        if not ok:
            raise ValueError(
                f"crawl-index audit failed (hashes {tuple(h_row)}, bands "
                f"{tuple(b_row)}, max_posting {max_posting}, "
                f"count mismatches {mismatches}) — NOT published"
            )
        spark.createDataFrame(
            [(n_buckets, n_capped, float(capped_frac), dup_warning)],
            "n_buckets bigint, n_capped bigint, capped_frac double, "
            "duplication_warning boolean",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staging, "audit")
        )
        if dup_warning:
            warnings.warn(
                f"crawl-index publish: {n_capped}/{n_buckets} band buckets "
                f"({capped_frac:.1%}) exceed the posting cap "
                f"({L42_MAX_POSTING}) — the near-dup gate is largely "
                "neutralized in this duplication regime; run l41's profile "
                "and consider a cluster-representative dedup form",
                stacklevel=4,  # the caller of publish_crawl_index
            )

    base = _crawl_index_artifact_base(sf_dir)
    return publish(os.path.join(base, "published"), write)


@register(
    "l42b_incremental_crawl_persisted",
    oracle=_L42_ORACLE,
    doc="L42b: l42's PRODUCTION face — the fourth and last artifact "
    "kind (l26c = tokenizer, m14 = media, l43 = model, l42b = INDEX "
    "state): publish_crawl_index builds the content-hash set and the "
    "capped portable band table ONCE per corpus fingerprint (write → "
    "audit-the-artifact's-own-invariants → one atomic rename), and the "
    "steady-state funnel probes the PERSISTED parquet indexes — no "
    "index build anywhere on the apply path (pinned by test: "
    "build_crawl_index monkeypatched to raise once the artifact "
    "exists). Identical gate semantics to l42 via the shared "
    "crawl_flags — and therefore the IDENTICAL value oracle: DuckDB "
    "re-derives the indexes from documents and must agree with the "
    "funnel that read them from parquet, which closes the loop a "
    "persisted index actually needs closed (a stale or corrupted "
    "index would diverge from the re-derivation immediately). The "
    "corpus is still scanned ONCE on the apply path — the Jaccard "
    "verify's shingle lookup — which is the honest steady-state cost "
    "(the verify reads payloads; only the INDEXES amortize). At "
    "100 TB: per-crawl cost drops from rebuild-everything to "
    "O(|batch| + capped probe + one corpus scan for survivors' "
    "verify); the ×100 probe curve's dominant term (the 16-md5 "
    "signature pass over the corpus, SCALE.md round-12) moves from "
    "every-crawl to once.",
    tags=("llm", "dedup", "composite", "artifact"),
)
def incremental_crawl_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = publish_crawl_index(spark, sf_dir)
    d = spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source"
        ),
        "doc_id",
    )
    corpus_h = spark.read.parquet(f"{path}/hashes")
    capped_index = spark.read.parquet(f"{path}/bands")
    flags = crawl_flags(
        d.select("doc_id", "text"),
        _l42_batch(d),
        corpus_h=corpus_h,
        capped_index=capped_index,
    )
    return _crawl_waterfall_from_flags(flags)


# ---------------------------------------------------------------------------
# L42c: incremental MAINTENANCE of the crawl indexes (r12 verdict task 1)
# ---------------------------------------------------------------------------


def _l42c_batch2(d: DataFrame) -> DataFrame:
    """The SECOND crawl generation — designed so the appended index is
    load-bearing, not decorative: re-ships of batch-1 survivors (%10==1
    fresh docs, verbatim under new URLs → caught by the exact gate ONLY
    if their hashes were folded into the index), a near-dup of each
    batch-1 survivor (one appended token → Jaccard ≈ 0.86, caught by the
    near-dup gate ONLY via the appended band postings), genuinely new
    second-wave docs (%10==5 → kept), and the same wave shipped twice
    under different URLs (in-batch exact gate keeps one)."""
    url = lambda tail: F.concat(  # noqa: E731
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        tail,
    )
    fresh = F.concat(
        F.lit("fresh crawl "),
        F.col("doc_id").cast("string"),
        F.lit(" carries entirely new token material "),
        (F.col("doc_id") * 7).cast("string"),
    )
    wave2 = F.concat(
        F.lit("second wave crawl "),
        F.col("doc_id").cast("string"),
        F.lit(" brings another batch of new material "),
        (F.col("doc_id") * 3).cast("string"),
    )

    def arm(mod: int, shift: int, text: F.Column, tail: F.Column) -> DataFrame:
        return d.filter(F.col("doc_id") % 10 == mod).select(
            (F.col("doc_id") + shift).alias("new_id"),
            text.alias("text"),
            url(tail).alias("curl"),
        )

    did = F.col("doc_id").cast("string")
    return (
        arm(1, 7_000_000, fresh, F.concat(F.lit("/fresh2-"), did))
        .unionByName(
            arm(
                1,
                8_000_000,
                F.concat(fresh, F.lit(" tailnote")),
                F.concat(F.lit("/fresh3-"), did),
            )
        )
        .unionByName(arm(5, 9_000_000, wave2, F.concat(F.lit("/wave2-"), did)))
        .unionByName(arm(5, 9_500_000, wave2, F.concat(F.lit("/wave2b-"), did)))
    )


_L42C_BATCH2_SQL = """
      SELECT doc_id + 7000000 AS new_id,
             'fresh crawl '||doc_id||' carries entirely new token material '||(doc_id*7) AS text,
             'https://'||source||'.example.com/'||lang||'/fresh2-'||doc_id AS curl
      FROM d WHERE doc_id % 10 = 1
      UNION ALL
      SELECT doc_id + 8000000,
             'fresh crawl '||doc_id||' carries entirely new token material '||(doc_id*7)||' tailnote',
             'https://'||source||'.example.com/'||lang||'/fresh3-'||doc_id
      FROM d WHERE doc_id % 10 = 1
      UNION ALL
      SELECT doc_id + 9000000,
             'second wave crawl '||doc_id||' brings another batch of new material '||(doc_id*3),
             'https://'||source||'.example.com/'||lang||'/wave2-'||doc_id
      FROM d WHERE doc_id % 10 = 5
      UNION ALL
      SELECT doc_id + 9500000,
             'second wave crawl '||doc_id||' brings another batch of new material '||(doc_id*3),
             'https://'||source||'.example.com/'||lang||'/wave2b-'||doc_id
      FROM d WHERE doc_id % 10 = 5
"""

_L42C_ORACLE = f"""
    WITH d AS (SELECT doc_id, text, lang, source FROM documents),
    corpus_g1 AS (SELECT doc_id, text FROM d),
    batch_g1 AS ({_CRAWL_BATCH1_SQL}),
    {render_crawl_funnel_ctes("_g1")},
    surv_g1 AS (SELECT new_id AS doc_id, text FROM f4_g1 WHERE s4),
    corpus_g2 AS (
      SELECT doc_id, text FROM corpus_g1
      UNION ALL
      SELECT doc_id, text FROM surv_g1
    ),
    batch_g2 AS ({_L42C_BATCH2_SQL}),
    {render_crawl_funnel_ctes("_g2")}
    {render_crawl_waterfall_select([(1, "_g1"), (2, "_g2")])}
    """


def _crawl_maint_artifact_base(sf_dir: str) -> str:
    """Keyed by l42b's index config, under its own root: the maintained
    artifact's content also depends on the fold history (v1, v2, ...)."""
    config = (
        f"crawlmaint-v2-md5x{N_MINHASHES}-b{N_BANDS}-cap{L42_MAX_POSTING}"
    )
    return artifact_dir(
        sf_dir, "documents", "mric_crawl_maint_artifacts", config
    )


def make_crawl_index_append_sink(
    spark: SparkSession,
    sf_dir: str,
    base: str,
    state: dict[str, int],
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
    cap: int = L42_MAX_POSTING,
):
    """The foreachBatch handler that gives the crawl indexes true
    incremental MAINTENANCE (`artifacts.versioned_sink`, the versioned
    commit t10/t13b use too, applied to INDEX state): each crawl
    batch runs the funnel against the CURRENT committed index version,
    and its survivors are folded into the next immutable version —
    hashes ∪ survivor hashes; band postings ∪ survivor postings with
    the posting cap RE-ENFORCED against the merged per-bucket counts
    (this is why the counts table persists ALL buckets including hot
    ones: a bucket whose postings were dropped as hot must STAY hot —
    its true count only grows — and a bucket pushed over the cap by
    the append must drop its old postings too; re-counting the capped
    table instead would resurrect both). The fold also appends the
    survivors' (doc_id, text) to the artifact's newdocs log (what a
    production crawl writes to the corpus store anyway — the Jaccard
    verify needs their payloads) and records the batch's waterfall.

    Invariant, proven by test and by the value oracle: the folded
    vN+1 indexes equal `build_crawl_index` run from scratch on
    corpus ∪ all survivors — probe-after-append == inline-on-grown-
    corpus. Exactly-once: batch_id keys the version (idempotent skip
    on replay), and a crash mid-write leaves only an uncommitted staging
    dir, which the version recovery (it lists only ``vN`` dirs) and the
    replayed batch ignore. The day-zero index is published once, as
    ``_bootstrap``, inside the first version's write.

    At 100 TB: per-append cost is O(|batch|) signature work + a
    bucket-grain count merge + ONE index-sized union-anti-join write —
    no corpus re-signature anywhere (the ×100 probe curve's dominant
    term, SCALE.md round-12, now amortizes across the corpus's whole
    life, not just until the next append).

    The fold caps against the PERSISTED count tables, not through
    :func:`bucket_sizes`: it has no row-level input to count."""
    import os

    from mric_bak_etl_spark.tables import materialize

    def fold(batch_df: DataFrame, vdir: str | None, staging: str) -> None:
        docs = spread(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
            "doc_id",
        )
        if vdir is None:
            # Bootstrap: build the day-zero index ONCE and WRITE it,
            # then read the parquet back for the probe and the merge.
            # Without this, corpus_h/capped/counts are all lazy plans
            # over the full corpus signature pass, and the three index
            # writes + the band probe + the count merge each re-run it
            # — the ×10 scale probe measured the difference as 274 s →
            # one-pass for the same fold (the SCALE.md materialize
            # lesson: parquet IS the materialization for corpus-sized
            # state; localCheckpoint pins poison repeated runs).
            def write_bootstrap(boot_staging: str) -> None:
                index = build_crawl_index(
                    docs, n_hashes=n_hashes, n_bands=n_bands, cap=cap
                )
                for name, df_ in zip(("hashes", "bands", "counts"), index):
                    df_.write.mode("overwrite").parquet(
                        os.path.join(boot_staging, name)
                    )

            boot = publish(os.path.join(base, "_bootstrap"), write_bootstrap)
            corpus = docs
            corpus_h = spark.read.parquet(os.path.join(boot, "hashes"))
            capped = spark.read.parquet(os.path.join(boot, "bands"))
            counts = spark.read.parquet(os.path.join(boot, "counts"))
            newdocs = docs.filter(F.lit(False)).select(
                F.col("doc_id").cast("long").alias("doc_id"), "text"
            )
        else:
            newdocs = spark.read.parquet(os.path.join(vdir, "newdocs"))
            corpus = docs.select(
                F.col("doc_id").cast("long").alias("doc_id"), "text"
            ).unionByName(newdocs)
            corpus_h = spark.read.parquet(os.path.join(vdir, "hashes"))
            capped = spark.read.parquet(os.path.join(vdir, "bands"))
            counts = spark.read.parquet(os.path.join(vdir, "counts"))
        flags = materialize(
            crawl_flags(
                corpus,
                batch_df,
                corpus_h=corpus_h,
                capped_index=capped,
                n_hashes=n_hashes,
                n_bands=n_bands,
                cap=cap,
            )
        )
        survivors = flags.filter("s4").select(
            F.col("new_id").cast("long").alias("doc_id"), "text"
        )
        surv_bands = portable_band_hashes(
            portable_minhash_signatures(
                survivors.select("doc_id", shingles().alias("sh")),
                n_hashes=n_hashes,
            ),
            n_bands=n_bands,
        )
        surv_counts = surv_bands.groupBy("band", "band_hash").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        merged_counts = (
            counts.unionByName(surv_counts)
            .groupBy("band", "band_hash")
            .agg(F.sum("n").cast("bigint").alias("n"))
        )
        hot = merged_counts.filter(F.col("n") > cap).select(
            "band", "band_hash"
        )
        merged_bands = capped.unionByName(surv_bands).join(
            F.broadcast(hot), ["band", "band_hash"], "left_anti"
        )
        merged_hashes = corpus_h.unionByName(
            survivors.select(F.md5("text").alias("h"))
        ).distinct()
        merged_newdocs = newdocs.unionByName(survivors)
        waterfall = _crawl_waterfall_from_flags(flags)
        for name, df_ in (
            ("hashes", merged_hashes),
            ("bands", merged_bands),
            ("counts", merged_counts),
            ("newdocs", merged_newdocs),
            ("waterfall", waterfall),
        ):
            df_.write.mode("overwrite").parquet(os.path.join(staging, name))

    return versioned_sink(base, state, fold)


def maintain_crawl_index(spark: SparkSession, sf_dir: str) -> str:
    """Drive the append sink across the two fixture crawl generations
    (build-if-missing; committed versions skip idempotently — the same
    call is the recovery path after a crash)."""
    import os

    base = _crawl_maint_artifact_base(sf_dir)
    os.makedirs(base, exist_ok=True)
    state = {"version": 0}
    fold = make_crawl_index_append_sink(spark, sf_dir, base, state)
    d = spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source"
        ),
        "doc_id",
    )
    fold(_l42_batch(d), 0)
    fold(_l42c_batch2(d), 1)
    return base


@register(
    "l42c_crawl_index_maintenance",
    oracle=_L42C_ORACLE,
    doc="L42c: TRUE INCREMENTAL MAINTENANCE for the crawl indexes (r12 "
    "verdict task 1) — the append face that turns l42b's publish-once "
    "artifact into the shape a DAILY crawl runs: generation 1 probes "
    "the freshly built indexes and its survivors are FOLDED into the "
    "persisted hash + band + count artifacts (the t10/t13b "
    "versioned-commit foreachBatch scaffold: batch_id-keyed idempotent "
    "replay, atomic-rename version dirs); generation 2 — re-ships of "
    "gen-1 survivors, near-dups of gen-1 survivors, and genuinely new "
    "second-wave docs — probes the APPENDED v1 indexes, so its "
    "exact-vs-corpus and neardup-vs-corpus drops are load-bearing "
    "evidence the fold worked (they catch docs that exist ONLY in the "
    "appended state). The posting cap is re-enforced against the "
    "MERGED per-bucket counts (persisted over ALL buckets including "
    "hot ones — once-hot stays hot, newly-hot drops its old postings), "
    "which is exactly what makes the fold equal a from-scratch rebuild "
    "on the grown corpus: probe-after-append == inline-on-grown-corpus, "
    "pinned by test AND by this query's value oracle — DuckDB re-derives "
    "generation 2's indexes from corpus+survivors inline (the only way "
    "SQL can express it) and must agree with the funnel that probed the "
    "folded parquet. Output: both generations' waterfalls (docs AND "
    "tokens per gate). At 100 TB this closes the last gap between the "
    "engine and a production crawl: per-day cost is O(|batch|) + a "
    "bucket-grain count merge — the corpus is never re-signatured after "
    "day one.",
    tags=("llm", "dedup", "composite", "artifact", "streaming"),
)
def crawl_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = maintain_crawl_index(spark, sf_dir)
    w1 = spark.read.parquet(f"{base}/v1/waterfall")
    w2 = spark.read.parquet(f"{base}/v2/waterfall")
    return (
        w1.select(F.lit(1).alias("batch_no"), "*")
        .unionByName(w2.select(F.lit(2).alias("batch_no"), "*"))
    )
