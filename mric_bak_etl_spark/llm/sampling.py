"""Deterministic corpus sampling (training-data curation).

`df.sample()` is seed-dependent and partition-order-dependent — two runs
on different cluster layouts disagree, which is unacceptable for
reproducible dataset releases. The curation-pipeline answer is HASH
THRESHOLDING: keep a row iff a stable content hash of its key falls under
the rate threshold. Deterministic across engines, partitionings, and
reruns; naturally stratifiable (per-slice thresholds); and a pure
projection+filter — no shuffle, no state, embarrassingly parallel at any
scale.

The hash here is the lowercase hex md5 of the key rendered as a string —
bit-identical in Spark and DuckDB, so the sample is oracle-checkable
(sample membership is part of the contract, not just the summary).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mric_bak_etl_spark.artifacts import artifact_dir, publish
from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.tables import load_table

# Per-language sampling rates as hex-prefix thresholds over md5's first 8
# nibbles (uniform on [0, 16^8)): '80000000' = 50%, '20000000' = 12.5%.
_RATE_THRESHOLDS = {"en": "80000000", "es": "40000000"}
_DEFAULT_THRESHOLD = "20000000"


def hash_bucket(key: Column) -> Column:
    """First 8 hex chars of md5(key-as-string) — the sampling coordinate."""
    return F.substring(F.md5(key.cast("string")), 1, 8)


@register(
    "l6_stratified_sample",
    oracle="""
    WITH sampled AS (
      SELECT doc_id, lang,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
      FROM documents
      WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
            CASE lang WHEN 'en' THEN '80000000'
                      WHEN 'es' THEN '40000000'
                      ELSE '20000000' END
    )
    SELECT lang,
           count(*)    AS n_sampled,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM sampled
    GROUP BY lang
    ORDER BY lang
    """,
    doc="L6: deterministic stratified sampling via md5 hash thresholding — "
    "per-language rates (en 50%, es 25%, rest 12.5%); reproducible across "
    "engines/partitionings/reruns unlike seed-based sample(); zero "
    "shuffle. The summary per slice (count + id range) is the oracle; "
    "membership itself is cross-engine identical by construction.",
    tags=("llm", "sampling"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    threshold = F.when(
        F.col("lang") == "en", _RATE_THRESHOLDS["en"]
    ).when(F.col("lang") == "es", _RATE_THRESHOLDS["es"]).otherwise(
        _DEFAULT_THRESHOLD
    )
    sampled = d.filter(hash_bucket(F.col("doc_id")) < threshold)
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "l11_curation_pipeline",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, source, n_chars, text
      FROM documents
      WHERE n_chars BETWEEN 100 AND 2000
    ),
    deduped AS (
      SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
             arg_min(source, doc_id) AS source,
             arg_min(n_chars, doc_id) AS n_chars
      FROM scored GROUP BY md5(text)
    ),
    sampled AS (
      SELECT * FROM deduped
      WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'c0000000'
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)   AS n_docs,
           round(avg(n_chars), 4)     AS avg_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM sampled
    GROUP BY lang
    ORDER BY lang
    """,
    doc="L11: end-to-end curation pipeline — the composed training-data "
    "path: length gate → exact dedup (keep min doc_id per content hash, "
    "metadata carried with min_by keyed on the keeper id, deterministic even if duplicates diverge in metadata) → "
    "deterministic 75% hash-threshold sample → per-language corpus "
    "stats. One shuffle for the dedup group, one for the final stats; "
    "the filter and sample are zero-shuffle projections. Each stage is "
    "individually verified (tx_quality_score, l1, l6, l5); this entry "
    "verifies their COMPOSITION.",
    tags=("llm", "sampling", "composite"),
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scored = d.filter((F.col("n_chars") >= 100) & (F.col("n_chars") <= 2000))
    deduped = scored.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("source", "doc_id").alias("source"),
        F.min_by("n_chars", "doc_id").alias("n_chars"),
    )
    sampled = deduped.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8) < "c0000000"
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
    )


@register(
    "l15_mixture_rebalance",
    oracle="""
    WITH stats AS (
      SELECT lang, count(*) AS cnt FROM documents GROUP BY lang
    ),
    tot AS (SELECT sum(cnt) AS total, count(*) AS n_langs FROM stats),
    rates AS (
      SELECT lang, cnt,
             least(1.0, (0.5 * total / n_langs) / cnt) AS rate
      FROM stats, tot
    ),
    kept AS (
      SELECT d.lang, d.doc_id
      FROM documents d JOIN rates USING (lang)
      WHERE ((doc_id * 2654435761) % 2147483648) / 2147483648.0 < rate
    )
    SELECT r.lang,
           CAST(r.cnt AS BIGINT) AS n_docs,
           floor(r.rate * 1000000 + 0.5) / 1000000 AS keep_rate,
           CAST(count(k.doc_id) AS BIGINT) AS n_kept
    FROM rates r LEFT JOIN kept k ON r.lang = k.lang
    GROUP BY r.lang, r.cnt, r.rate
    ORDER BY r.lang
    """,
    doc="L15: data-mixture rebalancing — per-language acceptance rates "
    "steering the corpus toward a UNIFORM language mixture at a 50% "
    "global budget: rate = min(1, target_share/actual_share * budget). "
    "The rate table is a tiny broadcast; acceptance is a pure-arithmetic "
    "Knuth multiplicative hash on doc_id (no strings, no seed-dependent "
    "sample()), so membership is bit-identical across engines and "
    "cluster layouts — the reproducibility contract a dataset release "
    "needs. Scale: one small agg for rates, then a shuffle-free filter.",
    tags=("llm", "sampling"),
)
def mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import materialize

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # Language-cardinality-sized; its consumers (totals, the rate join,
    # the report join) otherwise re-scan the corpus each.
    stats = materialize(d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")))
    tot = stats.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_langs")
    )
    rates = stats.crossJoin(F.broadcast(tot)).select(
        "lang",
        "cnt",
        F.least(
            F.lit(1.0), (F.lit(0.5) * F.col("total") / F.col("n_langs")) / F.col("cnt")
        ).alias("rate"),
    )
    u = ((F.col("doc_id") * 2654435761) % 2147483648) / 2147483648.0
    kept = (
        d.join(F.broadcast(rates.select("lang", "rate")), "lang")
        .filter(u < F.col("rate"))
        .select("lang", "doc_id")
    )
    return (
        rates.alias("r")
        .join(kept.alias("k"), "lang", "left")
        .groupBy("lang", "cnt", "rate")
        .agg(F.count("k.doc_id").cast("bigint").alias("n_kept"))
        .select(
            "lang",
            F.col("cnt").cast("bigint").alias("n_docs"),
            (F.floor(F.col("rate") * 1000000 + 0.5) / 1000000).alias("keep_rate"),
            "n_kept",
        )
    )


@register(
    "l16_quality_classifier",
    oracle="""
    WITH feat AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_tokens,
             list_aggregate(
               list_transform(string_split(text, ' '), x -> length(x)),
               'sum') AS sum_len,
             len(list_filter(string_split(text, ' '),
                 x -> x IN ('table', 'row', 'value', 'scan'))) AS n_marker
      FROM documents
    ),
    scored AS (
      SELECT lang,
             2.0 * (n_marker * 1.0 / n_tokens)
               + 0.05 * (sum_len * 1.0 / n_tokens)
               - 0.0005 * n_tokens AS score
      FROM feat
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE score >= 0.5) AS BIGINT) AS n_kept,
           round(avg(score), 4) AS avg_score,
           round(min(score), 6) AS min_score,
           round(max(score), 6) AS max_score
    FROM scored GROUP BY lang ORDER BY lang
    """,
    doc="L16: model-based quality filtering — the fastText-classifier "
    "stage of a web-corpus pipeline, stubbed as a deterministic linear "
    "model over engineered features (marker-token ratio, mean token "
    "length, document length). Pure +,*,/ IEEE arithmetic — no "
    "transcendentals — so per-doc scores are bit-identical across "
    "engines and the keep/drop decision at the threshold is stable. "
    "Embarrassingly parallel projection (higher-order array exprs, "
    "no UDF, no shuffle) feeding one small per-language agg; a real "
    "model swaps the linear stub for a broadcast weight vector with "
    "the same plan shape.",
    tags=("llm", "quality"),
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("lang", "text")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    sum_len = F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    n_marker = F.size(
        F.filter(toks, lambda x: x.isin("table", "row", "value", "scan"))
    )
    score = (
        F.lit(2.0) * (n_marker.cast("double") / n_tokens)
        + F.lit(0.05) * (sum_len.cast("double") / n_tokens)
        - F.lit(0.0005) * n_tokens
    )
    return (
        d.select("lang", score.alias("score"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count(F.when(F.col("score") >= 0.5, 1))
            .cast("bigint")
            .alias("n_kept"),
            F.round(F.avg("score"), 4).alias("avg_score"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
        )
    )


@register(
    "l21_bottomk_sample",
    oracle="""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang
      FROM documents
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      LIMIT 50
    )
    ORDER BY doc_id
    """,
    doc="L21: deterministic fixed-SIZE sample — bottom-k by a content-"
    "independent hash key (md5 of the doc id): the distributed "
    "equivalent of reservoir sampling, but reproducible across runs, "
    "engines and partitionings (a true reservoir depends on encounter "
    "order, which Spark does not guarantee). Complements l6's hash-"
    "THRESHOLD sampling: threshold gives an exact per-row rate but a "
    "binomial size; bottom-k gives an exact size with every subset "
    "equally likely under the hash's uniformity. Plans as "
    "TakeOrderedAndProject — per-partition k-heaps, only k rows per "
    "partition cross the wire — so a 50-row sample of a 100 TB corpus "
    "shuffles ~k x partitions rows, never the corpus. The md5 tie "
    "falls back to doc_id so the sample stays unique-keyed even if "
    "two ids ever hashed equal.",
    tags=("llm", "sampling"),
)
def bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            "lang",
            F.md5(F.col("doc_id").cast("string").cast("binary")).alias("hkey"),
        )
        .orderBy("hkey", "doc_id")
        .limit(50)
        .select("doc_id", "lang")
    )


@register(
    "l27_weighted_sample",
    oracle="""
    SELECT doc_id, lang,
           round(ln(
             (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
               + 1) / 4294967296.0
           ) / n_chars, 6) AS es_key
    FROM documents
    ORDER BY es_key DESC, doc_id
    LIMIT 50
    """,
    doc="L27: WEIGHTED fixed-size sampling (Efraimidis-Spirakis A-ES) — "
    "each document draws a uniform u and gets key u^(1/w); the top-k "
    "keys are a weighted random sample without replacement, with "
    "inclusion probability proportional to weight (here w = n_chars: "
    "longer documents preferred — the 'sample by quality score' step "
    "of data mixing). The uniform comes from the doc-id's md5 (first "
    "8 hex chars over 2^32), so the sample is REPRODUCIBLE across "
    "runs, engines and partitionings — the same determinism argument "
    "as l21, which this generalizes (all-equal weights degrade to "
    "l21's uniform bottom-k). Ranking uses ln(u)/w (monotone in "
    "u^(1/w), numerically tame); plans as TakeOrderedAndProject — "
    "per-partition k-heaps, k rows per partition cross the wire, "
    "never the corpus. Both engines parse the identical hex prefix "
    "to the identical integer, so keys match exactly.",
    tags=("llm", "sampling"),
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    hexint = F.expr(
        "CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 8), "
        "16, 10) AS BIGINT)"
    )
    u = (hexint + 1) / F.lit(4294967296.0)
    es_key = F.round(F.log(u) / F.col("n_chars"), 6)
    return (
        d.select("doc_id", "lang", es_key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(50)
    )


# l30: Knuth's multiplicative hash keeps the split portable — the DuckDB
# oracle computes the identical bucket arithmetically. Production corpora
# hash a stable document KEY (url/content digest) with xxhash64; the
# constant-multiplier form here is the same idea minus the cross-engine
# hash dependency. 2654435761 = floor(2^32 / phi), doc_id-scaled values
# stay far below 2^63 at any fixture scale.
L30_SPLIT_MULT = 2654435761
L30_TRAIN_CUT, L30_VAL_CUT = 80, 90


@register(
    "l30_train_test_split",
    oracle=f"""
    WITH tagged AS (
      SELECT CASE
               WHEN (doc_id * {L30_SPLIT_MULT}) % 100 < {L30_TRAIN_CUT}
                 THEN 'train'
               WHEN (doc_id * {L30_SPLIT_MULT}) % 100 < {L30_VAL_CUT}
                 THEN 'val'
               ELSE 'test'
             END AS split,
             n_chars, lang
      FROM documents
    )
    SELECT split,
           CAST(count(*) AS BIGINT)           AS n_docs,
           round(avg(n_chars), 4)             AS avg_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM tagged
    GROUP BY split
    ORDER BY split
    """,
    doc="L30: deterministic train/val/test split — every document maps "
    "to a bucket by multiplicative hash of its id (80/10/10), so the "
    "assignment is a map-side expression: stable across runs, "
    "partitioning, and cluster size, with no sampling state and no "
    "shuffle to decide membership. Splitting at the DOCUMENT grain is "
    "the leakage boundary: all chunks/augmentations derived from a doc "
    "inherit its split by recomputing the same hash, so no near-"
    "duplicate of a test doc can land in train via a different chunk "
    "(pair with l13's decontamination for cross-corpus leakage). The "
    "per-split profile (count, mean length, language spread) is the "
    "balance check a split ships with. Only the report aggregates "
    "shuffle — grouping on a 3-value key.",
    tags=("llm", "sampling"),
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * L30_SPLIT_MULT) % 100
    split = (
        F.when(bucket < L30_TRAIN_CUT, "train")
        .when(bucket < L30_VAL_CUT, "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars", "lang")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.count_distinct("lang").cast("bigint").alias("n_langs"),
        )
    )


# l31: temperature-based mixture weights, the multilingual-corpus
# sampling rule published with XLM-R (Conneau et al. 2020): sample
# language i with probability proportional to p_i^alpha. alpha=1 keeps
# the natural distribution, alpha->0 approaches uniform; 0.3 is the
# published multilingual default. Integer-free math so the oracle
# mirrors exactly.
L31_ALPHA = 0.3
L31_BUDGET = 1000  # documents drawn per epoch under the mixture


@register(
    "l31_temperature_mixing",
    oracle=f"""
    WITH stats AS (
      SELECT lang, CAST(count(*) AS DOUBLE) AS cnt FROM documents GROUP BY lang
    ),
    tot AS (SELECT sum(cnt) AS total FROM stats),
    w AS (
      SELECT lang, cnt,
             pow(cnt / total, {L31_ALPHA}) AS raw_w
      FROM stats, tot
    ),
    z AS (SELECT sum(raw_w) AS z FROM w)
    SELECT lang,
           CAST(cnt AS BIGINT)                          AS n_docs,
           round(raw_w / z, 6)                          AS sample_weight,
           round({L31_BUDGET} * raw_w / z, 4)           AS expected_draws,
           round({L31_BUDGET} * raw_w / z / cnt, 4)     AS effective_epochs
    FROM w, z
    ORDER BY lang
    """,
    doc="L31: temperature-based corpus mixing — per-slice sampling "
    "weights w_i = p_i^alpha / Z (alpha=0.3, the published "
    "multilingual rule: natural distribution at alpha=1, uniform as "
    "alpha->0), plus the two numbers a data planner actually reads "
    "off: expected draws per slice under a fixed budget, and "
    "effective epochs (>1 means the low-resource slice repeats and "
    "will be memorized first). Complements l15, which enforces a "
    "UNIFORM cap by hash-sampling rows — l31 computes the smooth "
    "mixture l15's rates would implement when fed these weights. Pure "
    "slice-grain arithmetic: one count aggregate over the corpus, "
    "then slice-count-sized math; nothing rescans documents.",
    tags=("llm", "sampling"),
)
def temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    stats = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    from pyspark.sql import Window

    every = Window.partitionBy()
    w = stats.withColumn(
        "raw_w", F.pow(F.col("cnt") / F.sum("cnt").over(every), L31_ALPHA)
    ).withColumn("z", F.sum("raw_w").over(every))
    return w.select(
        "lang",
        F.col("cnt").cast("bigint").alias("n_docs"),
        F.round(F.col("raw_w") / F.col("z"), 6).alias("sample_weight"),
        F.round(L31_BUDGET * F.col("raw_w") / F.col("z"), 4).alias(
            "expected_draws"
        ),
        F.round(
            L31_BUDGET * F.col("raw_w") / F.col("z") / F.col("cnt"), 4
        ).alias("effective_epochs"),
    )


# l33: batch-gradient-descent logistic regression, L33_ROUNDS fixed
# rounds, lr=L33_LR, zero init. Both engines round the weight vector to
# 12dp at the END of every round (the g5 recipe): exp/avg differ across
# libm implementations in the last ulps, and without the clamp the
# rounds of drift could flip the 6dp output rounding. The 12dp clamp
# itself uses Python round() driver-side vs DuckDB ROUND() in the
# oracle; their tie behavior differs (half-to-even vs half-away), a
# residual divergence only on an EXACT binary tie at the 12th decimal
# of a float64 gradient update — like l29's 2^-44 hash-collision
# window, documented rather than engineered around.
L33_ROUNDS = 10
L33_LR = 5.0

_L33_FEATS = """
    feats AS (
      SELECT CASE WHEN n_chars / 500.0 + 0.5 * ((doc_id % 10) / 10.0) > 0.82
                  THEN 1.0 ELSE 0.0 END AS y,
             n_chars / 500.0            AS x1,
             (doc_id % 10) / 10.0       AS x2
      FROM documents
    ),
    w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2)
"""

_L33_ITER = """
    w{i} AS (
      SELECT round(b - {lr} * avg(s - y), 12)        AS b,
             round(w1 - {lr} * avg((s - y) * x1), 12) AS w1,
             round(w2 - {lr} * avg((s - y) * x2), 12) AS w2
      FROM (
        SELECT w.b, w.w1, w.w2, f.y, f.x1, f.x2,
               1 / (1 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2))) AS s
        FROM feats f CROSS JOIN w{prev} w
      )
      GROUP BY b, w1, w2
    )"""


def _logreg_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l33's feature projection (planted linear concept; see l33 doc),
    localCheckpointed once so the gradient rounds don't re-derive it."""
    from mric_bak_etl_spark.tables import materialize

    d = load_table(spark, sf_dir, "documents")
    return materialize(
        d.select(
            F.when(
                F.col("n_chars") / 500.0
                + 0.5 * ((F.col("doc_id") % 10) / 10.0)
                > 0.82,
                1.0,
            )
            .otherwise(0.0)
            .alias("y"),
            (F.col("n_chars") / 500.0).alias("x1"),
            ((F.col("doc_id") % 10) / 10.0).alias("x2"),
        )
    )


def _train_logreg(
    spark: SparkSession, sf_dir: str, feats: DataFrame | None = None
) -> tuple[float, float, float]:
    """l33's full-batch gradient-descent loop, factored so the training
    face (l33) and the artifact publisher (l43) share one trajectory:
    L33_ROUNDS rounds, lr=L33_LR, zero init, per-round 12dp weight
    rounding (what pins both engines bit-identical)."""
    if feats is None:
        feats = _logreg_feats(spark, sf_dir)
    b = w1 = w2 = 0.0
    for _ in range(L33_ROUNDS):
        z = F.lit(b) + F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2")
        s = 1.0 / (1.0 + F.exp(-z))
        g = feats.agg(
            F.avg(s - F.col("y")).alias("gb"),
            F.avg((s - F.col("y")) * F.col("x1")).alias("g1"),
            F.avg((s - F.col("y")) * F.col("x2")).alias("g2"),
        ).collect()[0]
        b = round(b - L33_LR * g["gb"], 12)
        w1 = round(w1 - L33_LR * g["g1"], 12)
        w2 = round(w2 - L33_LR * g["g2"], 12)
    return b, w1, w2


@register(
    "l33_logreg_train",
    oracle="WITH "
    + _L33_FEATS
    + ","
    + ",\n".join(
        _L33_ITER.format(i=i, prev=i - 1, lr=L33_LR)
        for i in range(1, L33_ROUNDS + 1)
    )
    + f"""
    SELECT round(w.b, 6)  AS bias,
           round(w.w1, 6) AS w_len,
           round(w.w2, 6) AS w_aux,
           round(avg(CASE WHEN (1 / (1 + exp(-(w.b + w.w1 * f.x1
                                              + w.w2 * f.x2))) > 0.5)
                               = (f.y = 1.0)
                          THEN 1.0 ELSE 0.0 END), 6) AS train_accuracy,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM feats f CROSS JOIN w{L33_ROUNDS} w
    GROUP BY w.b, w.w1, w.w2
    """,
    doc="L33: DISTRIBUTED TRAINING of the quality classifier l16 only "
    "scores — logistic regression by full-batch gradient descent, the "
    "canonical data-parallel shape: the k-sized weight vector "
    "broadcasts into a map-side sigmoid expression, the gradient is "
    "ONE map-side-combined aggregate row per round (avg of (p-y)*x_j "
    "— commutative, so executors combine partials and only k doubles "
    "cross the wire), and the driver holds nothing but the model "
    "(k=3 scalars — model state, not data; the l19/g1 boundary "
    "applies). The feature frame localCheckpoints once so the rounds "
    "don't re-derive the projection. Label: a PLANTED linear "
    "concept (x1 + 0.5*x2 > threshold, threshold at the corpus median "
    "so classes balance) — the synthetic corpus has no naturally "
    "learnable label, so the demo is optimizer-mechanics with a "
    "recoverable target: accuracy must land well above the ~53% "
    "majority rate and the learned w_len:w_aux ratio tracks the "
    "planted 1:0.5 direction. Oracle: the identical L33_ROUNDS rounds unrolled as single-row "
    "CTEs with per-round 12dp weight rounding pinning both engines to "
    "bit-identical trajectories. At 100 TB: same plan, gradient cost "
    "= one scan per round; mini-batching = a l21-style deterministic "
    "bottom-k sample per round.",
    tags=("llm", "iterative"),
)
def logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _logreg_feats(spark, sf_dir)
    b, w1, w2 = _train_logreg(spark, sf_dir, feats)
    z = F.lit(b) + F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2")
    s = 1.0 / (1.0 + F.exp(-z))
    return feats.agg(
        F.round(F.lit(b), 6).alias("bias"),
        F.round(F.lit(w1), 6).alias("w_len"),
        F.round(F.lit(w2), 6).alias("w_aux"),
        F.round(
            F.avg(
                F.when((s > 0.5) == (F.col("y") == 1.0), 1.0).otherwise(0.0)
            ),
            6,
        ).alias("train_accuracy"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )


def _model_artifact_base(sf_dir: str) -> str:
    """Keyed by the trainer config: rounds, learning rate."""
    config = f"logreg-v2-r{L33_ROUNDS}-lr{L33_LR}"
    return artifact_dir(sf_dir, "documents", "mric_model_artifacts", config)


def _audit_model_rows(rows) -> bool:
    """The weight-table contract: exactly one row, every weight non-null
    and finite. Run on the staged rows at publish; a load trusts the
    published dir's manifest (`artifacts.publish`)."""
    import math

    return len(rows) == 1 and all(
        rows[0][c] is not None and math.isfinite(rows[0][c])
        for c in ("bias", "w_len", "w_aux")
    )


def publish_model(spark: SparkSession, sf_dir: str) -> str:
    """Train-if-missing for the l33 classifier: write the 1-row weight
    table to staging, AUDIT what was written (`_audit_model_rows`), one
    atomic rename (`artifacts.publish`) — the s11 write-audit-publish
    shape on the third artifact kind (model state; l26c = tokenizer,
    m14 = media). The stored weights keep the full per-round-12dp
    trajectory values; consumers never re-round."""
    import os

    def write(staging: str) -> None:
        b, w1, w2 = _train_logreg(spark, sf_dir)
        spark.createDataFrame(
            [(b, w1, w2)], "bias double, w_len double, w_aux double"
        ).coalesce(1).write.mode("overwrite").parquet(staging)
        audited = spark.read.parquet(staging).collect()
        if not _audit_model_rows(audited):
            raise ValueError(
                f"model audit failed (rows={len(audited)}) — NOT published"
            )

    base = _model_artifact_base(sf_dir)
    return publish(os.path.join(base, "published"), write)


def load_model(spark: SparkSession, sf_dir: str) -> tuple[float, float, float]:
    """The apply-only artifact read: one row, three doubles — model
    state, not data (the l19/g1 driver-boundary rule). A published dir
    that does not match its manifest was planted or tampered with:
    `artifacts.publish` refuses it loudly."""
    (r,) = spark.read.parquet(publish_model(spark, sf_dir)).collect()
    return r["bias"], r["w_len"], r["w_aux"]


_L43_FEATS = """
    feats AS (
      SELECT lang,
             CASE WHEN n_chars / 500.0 + 0.5 * ((doc_id % 10) / 10.0) > 0.82
                  THEN 1.0 ELSE 0.0 END AS y,
             n_chars / 500.0            AS x1,
             (doc_id % 10) / 10.0       AS x2
      FROM documents
    ),
    w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2)
"""


@register(
    "l43_quality_score_persisted",
    oracle="WITH "
    + _L43_FEATS
    + ","
    + ",\n".join(
        _L33_ITER.format(i=i, prev=i - 1, lr=L33_LR)
        for i in range(1, L33_ROUNDS + 1)
    )
    + f"""
    SELECT f.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE
             1 / (1 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2))) > 0.5)
             AS BIGINT) AS n_kept,
           round(avg(1 / (1 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2)))), 4)
             AS avg_p
    FROM feats f CROSS JOIN w{L33_ROUNDS} w
    GROUP BY f.lang
    ORDER BY f.lang
    """,
    doc="L43: the quality classifier's PRODUCTION face — the third and "
    "final artifact kind (l26c = tokenizer merges, m14 = media blobs, "
    "l43 = MODEL WEIGHTS): l33 trains the logistic model, publish_model "
    "ships its 3 doubles once per corpus fingerprint (write → audit → "
    "one atomic rename under the user-owned cache; loads must match "
    "the publish manifest), and the steady-state scoring job is what "
    "a crawl actually runs — read one row, inline the weights into a "
    "closed-form sigmoid expression, ONE corpus scan feeding a "
    "map-side-combined per-language aggregate. No training stage "
    "anywhere on the apply path (pinned by test: _train_logreg "
    "monkeypatched to raise once the artifact exists) and no driver "
    "state beyond the 3 scalars. Oracle: DuckDB re-learns the "
    "identical trajectory (l33's unrolled per-round-12dp CTE chain — "
    "the l26b re-learning-oracle pattern) and scores/aggregates the "
    "same way, so keep counts and 4dp mean scores are value-checked "
    "end to end. At 100 TB: training amortizes to zero across crawls; "
    "per-crawl cost is one scan + a |langs|-row exchange; the weight "
    "broadcast is literal constant folding.",
    tags=("llm", "quality", "artifact"),
)
def quality_score_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    b, w1, w2 = load_model(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    x1 = F.col("n_chars") / 500.0
    x2 = (F.col("doc_id") % 10) / 10.0
    p = 1.0 / (1.0 + F.exp(-(F.lit(b) + F.lit(w1) * x1 + F.lit(w2) * x2)))
    return (
        d.select("lang", p.alias("p"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count(F.when(F.col("p") > 0.5, 1))
            .cast("bigint")
            .alias("n_kept"),
            F.round(F.avg("p"), 4).alias("avg_p"),
        )
    )


@register(
    "l34_curation_waterfall",
    oracle="""
    WITH flagged AS (
      SELECT doc_id, lang,
             (n_chars BETWEEN 100 AND 2000) AS len_ok,
             min(CASE WHEN n_chars BETWEEN 100 AND 2000 THEN doc_id END)
               OVER (PARTITION BY md5(text)) AS keeper_id,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'c0000000'
               AS sampled,
             lang IN ('en', 'es', 'de', 'fr') AS lang_ok
      FROM documents
    ),
    survive AS (
      SELECT len_ok                                        AS s1,
             len_ok AND doc_id = keeper_id                 AS s2,
             len_ok AND doc_id = keeper_id AND sampled     AS s3,
             len_ok AND doc_id = keeper_id AND sampled AND lang_ok AS s4
      FROM flagged
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT)                          AS n0,
             CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
      FROM survive
    )
    SELECT stage_no, stage, n_in, n_out,
           n_in - n_out                       AS n_dropped,
           round(CAST(n_out AS DOUBLE) / n_in, 4) AS pct_kept
    FROM (
      SELECT 1 AS stage_no, 'length_gate' AS stage, n0 AS n_in, n1 AS n_out FROM tot
      UNION ALL
      SELECT 2, 'exact_dedup', n1, n2 FROM tot
      UNION ALL
      SELECT 3, 'hash_sample_75', n2, n3 FROM tot
      UNION ALL
      SELECT 4, 'lang_allowlist', n3, n4 FROM tot
    )
    ORDER BY stage_no
    """,
    doc="L34: curation waterfall — the per-gate survivor report every "
    "dataset release ships next to l11's end-state summary: for each "
    "stage (length gate -> exact dedup -> 75% hash sample -> language "
    "allowlist), rows in, rows out, rows dropped, and keep rate. "
    "Computed in ONE corpus pass: every gate becomes a boolean column "
    "(the dedup keeper via a window min over the content hash, "
    "restricted to length-surviving docs — the same keeper l11 "
    "elects), cumulative survival is boolean conjunction, and a "
    "single conditional-count aggregate yields the whole funnel; the "
    "waterfall rows then unpivot from that one-row total. The naive "
    "form re-materializes the corpus once per stage (4 scans, 4 "
    "shuffles); this is one scan + one content-hash window shuffle at "
    "any corpus size. Ordering gates cheap-to-expensive matters at "
    "scale only for SHORT-CIRCUIT execution; counting them all in one "
    "pass like this is what lets a release audit EVERY gate's "
    "marginal effect without re-running the pipeline.",
    tags=("llm", "sampling", "composite"),
)
def curation_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    len_ok = F.col("n_chars").between(100, 2000)
    w = Window.partitionBy(F.md5("text"))
    flagged = d.select(
        "doc_id",
        "lang",
        len_ok.alias("len_ok"),
        F.min(F.when(len_ok, F.col("doc_id"))).over(w).alias("keeper_id"),
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
            < "c0000000"
        ).alias("sampled"),
        F.col("lang").isin("en", "es", "de", "fr").alias("lang_ok"),
    )
    s1 = F.col("len_ok")
    s2 = s1 & (F.col("doc_id") == F.col("keeper_id"))
    s3 = s2 & F.col("sampled")
    s4 = s3 & F.col("lang_ok")
    tot = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum(s1.cast("int")).cast("bigint").alias("n1"),
        F.sum(s2.cast("int")).cast("bigint").alias("n2"),
        F.sum(s3.cast("int")).cast("bigint").alias("n3"),
        F.sum(s4.cast("int")).cast("bigint").alias("n4"),
    )
    stages = tot.select(
        F.expr(
            "stack(4, "
            "1, 'length_gate',    n0, n1, "
            "2, 'exact_dedup',    n1, n2, "
            "3, 'hash_sample_75', n2, n3, "
            "4, 'lang_allowlist', n3, n4) AS (stage_no, stage, n_in, n_out)"
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
    )


@register(
    "l35_epoch_ordering",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang,
             (doc_id * 2654435761) % 2147483648 AS shuffle_key
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, shuffle_key,
             row_number() OVER (ORDER BY shuffle_key, doc_id) AS rn
      FROM keyed
    )
    SELECT CAST(rn AS BIGINT)          AS epoch_rank,
           doc_id, lang,
           CAST(shuffle_key AS BIGINT) AS shuffle_key
    FROM ranked WHERE rn % 37 = 0 ORDER BY epoch_rank
    """,
    doc="L35: deterministic epoch ordering — the reproducible global "
    "training order a dataset release must pin (loaders that rely on "
    "engine-partition order or seeded in-memory shuffles produce a "
    "different epoch on every cluster layout): each document gets a "
    "multiplicative-hash shuffle key (the l30/l15 portable-hash "
    "family, so the ORDER itself is cross-engine checkable, not just "
    "its summary), and the contiguous global position comes from "
    "o5's distributed numbering — range-partition on the key, number "
    "locally, add per-partition prefix offsets — never a "
    "single-partition row_number over the corpus. Epoch 2 rehashes "
    "with a different constant; the data never moves twice. "
    "Every-37th-row projection keeps the verified output small while "
    "pinning positions across the whole range.",
    tags=("llm", "sampling", "scale"),
)
def epoch_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.operators.sort import global_row_number
    from mric_bak_etl_spark.tables import sized_parallelism

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        ((F.col("doc_id") * 2654435761) % 2147483648).alias("shuffle_key"),
    )
    n = sized_parallelism(sf_dir, "documents")
    ranked = global_row_number(d, n, "shuffle_key", "doc_id").select(
        F.col("rn").alias("epoch_rank"),
        "doc_id",
        "lang",
        F.col("shuffle_key").cast("bigint").alias("shuffle_key"),
    )
    return ranked.filter(F.col("epoch_rank") % 37 == 0)
