"""Text analysis for training-data pipelines (SURVEY.md §2B L4/L5 + the
north-star text suite: language-ID, quality scoring, token counting,
fingerprinting).

Everything is built from codegen'd Catalyst expressions — split/explode/
higher-order array functions/regexp — no Python in any hot path; these are
exactly the ops that must stay JVM-side when the documents table is 100 TB.

Scale notes: tokenize+explode multiplies rows by ~tokens/doc before the TF
aggregation — partial aggregation absorbs most of it map-side, but for
vocabulary-scale outputs (not top-k) expect the shuffle to carry one row
per (partition, term). Per-document scores (quality, langid, fingerprint,
token counts) are embarrassingly parallel projections: no shuffle at all.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mric_bak_etl_spark.artifacts import artifact_dir, publish
from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.tables import load_table, spread

# Tiny built-in marker lexicons for the language-ID heuristic. Deliberately
# small and deterministic — the mechanism (token-overlap scoring) is what
# scales; swap lexicons for real fastText-style models via the multimodal
# UDF path when available.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
}

_STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]

# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation —
# the GPT-2-style pre-split shape, minus unicode categories.
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokenization as a reusable expression."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, r"\s+")


def _marker_score(toks: Column, markers: list[str]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


@register(
    "l4_tokenize_tf",
    oracle="""
    SELECT term, count(*) AS tf
    FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS term FROM documents)
    WHERE term <> ''
    GROUP BY term
    ORDER BY tf DESC, term ASC
    LIMIT 20
    """,
    doc="L4: tokenize → explode → term-frequency, top-20 — split+explode+"
    "groupBy with map-side partial agg; term ASC tiebreak keeps top-k "
    "deterministic.",
    tags=("llm", "text"),
)
def tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: single-row-group input would otherwise tokenize+explode the
    # whole corpus in one task (tables.spread).
    d = spread(load_table(spark, sf_dir, "documents").select("text"))
    return (
        d.select(F.explode(tokens()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("term").asc())
        .limit(20)
    )


@register(
    "l5_slice_stats",
    oracle="""
    SELECT lang, source,
           count(*)                                            AS n_docs,
           round(avg(n_chars), 4)                              AS avg_chars,
           CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    doc="L5: corpus slice statistics by (lang, source) — the partition-"
    "health view a curation pipeline watches; one narrow shuffle.",
    tags=("llm", "text"),
)
def slice_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.sum(F.size(tokens())).cast("bigint").alias("total_tokens"),
        )
    )


@register(
    "tx_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split_regex(text, '\\s+')) AS INTEGER)      AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS INTEGER) AS bpe_tokens
    FROM documents
    ORDER BY doc_id
    """,
    doc="Token counting: whitespace tokens and a BPE-ish regex pre-"
    "tokenization count (letter runs / digit runs / punctuation) — the "
    "budget estimator for training-data sizing; pure projection, no "
    "shuffle.",
    tags=("llm", "text"),
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.size(tokens()).alias("ws_tokens"),
            F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias("bpe_tokens"),
        )
    )


def _langid_cases() -> tuple[Column, Column]:
    toks = tokens()
    scores = {
        lang: _marker_score(toks, markers) for lang, markers in _LANG_MARKERS.items()
    }
    # CJK presence trumps token markers (matches the oracle's CASE order);
    # then argmax over marker scores with fixed en>es>de>fr precedence.
    best = F.greatest(*scores.values())
    detected = (
        F.when(F.col("text").rlike(r"[一-鿿]"), "zh")
        .when(best == 0, "unknown")
        .when(scores["en"] == best, "en")
        .when(scores["es"] == best, "es")
        .when(scores["de"] == best, "de")
        .otherwise("fr")
    )
    return detected, best


@register(
    "tx_langid",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang AS labeled_lang, text,
             len(list_filter(string_split_regex(text, '\\s+'),
                 t -> list_contains(['the','a','of','and','is'], t)))  AS s_en,
             len(list_filter(string_split_regex(text, '\\s+'),
                 t -> list_contains(['el','la','de','que','y'], t)))   AS s_es,
             len(list_filter(string_split_regex(text, '\\s+'),
                 t -> list_contains(['der','die','und','das','ist'], t))) AS s_de,
             len(list_filter(string_split_regex(text, '\\s+'),
                 t -> list_contains(['le','la','et','les','est'], t))) AS s_fr
      FROM documents
    )
    SELECT doc_id, labeled_lang,
           CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
                WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'unknown'
                WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                ELSE 'fr' END AS detected_lang,
           CAST(greatest(s_en, s_es, s_de, s_fr) AS INTEGER) AS marker_hits
    FROM scored
    ORDER BY doc_id
    """,
    doc="Language-ID: n-gram/stopword-marker scoring with deterministic "
    "argmax + CJK charset short-circuit. The lexicons are demo-sized; the "
    "shape (token-overlap scores → argmax, zero Python) is the 100 TB "
    "mechanism.",
    tags=("llm", "text"),
)
def langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    detected, best = _langid_cases()
    return (
        d.select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            detected.alias("detected_lang"),
            best.cast("int").alias("marker_hits"),
        )
    )


@register(
    "tx_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(text, '\\s+')) AS INTEGER) AS n_tokens,
           round(CAST(length(text) AS DOUBLE)
                 / len(string_split_regex(text, '\\s+')), 4)      AS mean_token_len,
           round(CAST(len(list_filter(string_split_regex(text, '\\s+'),
                       t -> list_contains(['the','a','of','and','is','to','in'], t)))
                 AS DOUBLE) / len(string_split_regex(text, '\\s+')), 4) AS stopword_ratio,
           round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                 AS DOUBLE) / length(text), 4)                    AS punct_ratio
    FROM documents
    ORDER BY doc_id
    """,
    doc="Quality scoring: token count, mean token length, stopword ratio, "
    "punctuation ratio — the standard cheap heuristics (Gopher/C4-style "
    "rules) as pure projections; threshold downstream with a filter.",
    tags=("llm", "text"),
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    return (
        d.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            F.round(F.length("text").cast("double") / n_tokens, 4).alias(
                "mean_token_len"
            ),
            F.round(
                F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
                .cast("double")
                / n_tokens,
                4,
            ).alias("stopword_ratio"),
            F.round(
                F.length(F.regexp_replace("text", r"[a-zA-Z0-9\s]", "")).cast("double")
                / F.length("text"),
                4,
            ).alias("punct_ratio"),
        )
    )


@register(
    "tx_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               string_split_regex(text, '\\s+'))), ' ')) AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
    doc="Document fingerprinting: canonicalize (distinct sorted tokens) → "
    "md5 — an order-insensitive content fingerprint for fast exact-ish "
    "dedup joins; both engines agree on md5 so this is oracle-exact.",
    tags=("llm", "text"),
)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    canonical = F.array_join(F.array_sort(F.array_distinct(tokens())), " ")
    return d.select("doc_id", F.md5(canonical).alias("fingerprint"))


# Fixed-size token chunking with overlap — the LLM-training preprocessing
# step that turns documents into model-context-sized windows. Shared by the
# JVM-side operator (l7) and the Python-UDTF variant (x3, multimodal.py).
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks

# DuckDB mirror of the chunk fan-out (list slicing is 1-based, end-inclusive;
# Spark's slice(start, length) clamps the same way at the tail).
CHUNK_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(text, '\\s+') AS t,
             len(string_split_regex(text, '\\s+')) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, t,
             CASE WHEN n <= 32 THEN 1
                  ELSE CAST(ceil((n - 32) / 24.0) AS INT) + 1 END AS n_chunks
      FROM toks
    )
    SELECT doc_id,
           CAST(chunk_no AS INT) AS chunk_no,
           array_to_string(t[chunk_no * 24 + 1 : chunk_no * 24 + 32], ' ')
             AS chunk_text,
           CAST(len(t[chunk_no * 24 + 1 : chunk_no * 24 + 32]) AS BIGINT)
             AS n_chunk_tokens
    FROM c, LATERAL (SELECT unnest(range(n_chunks)) AS chunk_no) g
    ORDER BY doc_id, chunk_no
"""


def chunk_documents(d: DataFrame) -> DataFrame:
    """tokens → chunk count (closed form) → explode → slice — all codegen'd.

    Chunk i covers tokens [i*stride+1, i*stride+CHUNK]; the last chunk is
    the clamped tail. No Python, no shuffle: a pure per-row fan-out
    projection, the 100 TB-safe shape (explode multiplies rows ~n/stride×
    before any exchange).
    """
    t = d.select(
        "doc_id", tokens().alias("toks")
    ).withColumn("n", F.size("toks"))
    t = t.withColumn(
        "n_chunks",
        F.when(F.col("n") <= CHUNK_TOKENS, F.lit(1)).otherwise(
            F.ceil((F.col("n") - CHUNK_TOKENS) / float(CHUNK_STRIDE)).cast("int") + 1
        ),
    )
    exploded = t.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_no"),
    )
    sliced = F.slice(
        F.col("toks"), F.col("chunk_no") * CHUNK_STRIDE + 1, F.lit(CHUNK_TOKENS)
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_no").cast("int").alias("chunk_no"),
        F.array_join(sliced, " ").alias("chunk_text"),
        F.size(sliced).cast("bigint").alias("n_chunk_tokens"),
    )


@register(
    "l7_chunking",
    oracle=CHUNK_ORACLE,
    doc="L7: document chunking — fixed 32-token windows, stride 24 (8-token "
    "overlap), the context-window packing step of a training-data "
    "pipeline. Entirely built-in expressions (split/sequence/explode/"
    "slice/array_join): per-row fan-out with no Python and no shuffle; "
    "chunk boundaries are closed-form so the fan-out is exact on both "
    "engines. See x3_python_udtf for the same semantics via the UDTF "
    "escape hatch.",
    tags=("llm", "text"),
)
def chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return chunk_documents(d)


@register(
    "l8_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE term <> '' GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf,
           round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
    FROM tf JOIN df USING (term), n
    ORDER BY tfidf DESC, doc_id, term
    LIMIT 20
    """,
    doc="L8: TF-IDF — term frequency per (doc, term), document frequency "
    "derived FROM the tf relation (one tokenize pass, not two), idf as a "
    "broadcast-joined per-term weight, top-20 by score. Two shuffles "
    "total: (doc_id, term) and term; the doc-count scalar broadcasts. At "
    "corpus scale the df table is vocabulary-sized — broadcast while it "
    "fits, else it shares the term partitioning with the tf side.",
    tags=("llm", "text"),
)
def tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    n_docs = d.count()  # driver-side scalar: one cheap count action
    tf = (
        d.select("doc_id", F.explode(tokens()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(F.broadcast(df), "term")
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
            ).alias("tfidf"),
        )
        .orderBy(F.desc("tfidf"), "doc_id", "term")
        .limit(20)
    )


SHARD_TOKENS = 512  # target token budget per training shard


@register(
    "l9_sequence_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             len(list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> '')) AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT lang, doc_id, n_tok,
             CAST(floor(coalesce(sum(n_tok) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
               AS BIGINT) AS shard
      FROM t
    )
    SELECT lang, shard,
           CAST(count(*) AS BIGINT)  AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM packed
    GROUP BY lang, shard
    ORDER BY lang, shard
    """,
    doc="L9: sequence packing — documents greedily packed into ~512-token "
    "training shards: shard id = floor(running-token-total / budget), a "
    "running-sum window partitioned BY LANGUAGE so packing parallelizes "
    "(one global cumulative sum would serialize the corpus into a single "
    "task at any scale — the partition key is the packing domain). "
    "Deterministic doc_id order makes shard assignment reproducible "
    "across runs/engines.",
    tags=("llm", "text"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text"))
    t = d.select(
        "doc_id",
        "lang",
        F.size(F.filter(tokens(), lambda x: x != "")).alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = t.select(
        "lang",
        "n_tok",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / float(SHARD_TOKENS))
        .cast("bigint")
        .alias("shard"),
    )
    return (
        packed.groupBy("lang", "shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )


@register(
    "tx_bigram_freq",
    oracle="""
    WITH toks AS (
      SELECT string_split_regex(text, '\\s+') AS t FROM documents
    ),
    bigrams AS (
      SELECT t[i] || ' ' || t[i + 1] AS bigram
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g
      WHERE t[i] <> '' AND t[i + 1] <> ''
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS freq
    FROM bigrams
    GROUP BY bigram
    ORDER BY freq DESC, bigram ASC
    LIMIT 20
    """,
    doc="TX: word-bigram frequencies (language-model prep / collocation "
    "mining) — adjacent-token pairs built with transform over an index "
    "sequence + explode (pure codegen, no self-join of exploded tokens, "
    "which would shuffle the corpus against itself); top-20 with "
    "deterministic tiebreak. Row fan-out ≈ tokens/doc before the "
    "map-side-partial count.",
    tags=("llm", "text"),
)
def bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("text"))
    t = d.select(tokens().alias("t"))
    # Guard 1-token docs: sequence(1, 0) would run DESCENDING in Spark and
    # index 0 errors; emit no bigrams instead.
    idx = F.when(
        F.size("t") > 1, F.sequence(F.lit(1), F.size("t") - 1)
    ).otherwise(F.array().cast("array<int>"))
    bigrams = t.select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", F.element_at("t", i), F.element_at("t", i + 1)
                ),
            )
        ).alias("bigram")
    ).filter(~F.col("bigram").startswith(" ") & ~F.col("bigram").endswith(" "))
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("bigram").asc())
        .limit(20)
    )


@register(
    "l13_decontamination",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram
      FROM tok, unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS t(i)
    ),
    eval_grams AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % 53 = 0
    )
    SELECT g.doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_shared_grams
    FROM grams g JOIN eval_grams e USING (gram)
    WHERE g.doc_id % 53 <> 0
    GROUP BY g.doc_id
    ORDER BY n_shared_grams DESC, doc_id
    LIMIT 50
    """,
    doc="L13: benchmark decontamination — training docs sharing any 5-gram "
    "with the held-out eval slice (doc_id % 53, standing in for a "
    "benchmark set), ranked by overlap. The GPT-3-style 13-gram filter at "
    "fixture token lengths. Eval n-grams are DISTINCT'd then broadcast "
    "(eval sets are tiny vs the corpus); at 100 TB replace the broadcast "
    "with a bloom filter built from the eval grams — same plan shape, "
    "no false-negative risk on the hit path.",
    tags=("llm", "dedup"),
)
def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(split(text, ' ')) - 4, 0)),"
                " i -> array_join(slice(split(text, ' '), i, 5), ' '))"
            )
        ).alias("gram"),
    )
    eval_grams = grams.filter(F.col("doc_id") % 53 == 0).select("gram").distinct()
    return (
        grams.filter(F.col("doc_id") % 53 != 0)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").cast("bigint").alias("n_shared_grams"))
        .orderBy(F.desc("n_shared_grams"), "doc_id")
        .limit(50)
    )


@register(
    "l14_pmi_collocations",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    uni AS (
      SELECT t.tok, count(*) AS c1
      FROM tok, unnest(toks) AS t(tok)
      GROUP BY t.tok
    ),
    bi AS (
      SELECT toks[i] AS w1, toks[i+1] AS w2, count(*) AS c2
      FROM tok, unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS t(i)
      GROUP BY 1, 2
    ),
    n1 AS (SELECT sum(c1) AS total1 FROM uni),
    n2 AS (SELECT sum(c2) AS total2 FROM bi)
    SELECT w1, w2, CAST(c2 AS BIGINT) AS pair_count,
           round(ln((c2 * 1.0 / total2)
                    / ((u1.c1 * 1.0 / total1) * (u2.c1 * 1.0 / total1))), 4)
             AS pmi
    FROM bi
    JOIN uni u1 ON w1 = u1.tok
    JOIN uni u2 ON w2 = u2.tok
    CROSS JOIN n1 CROSS JOIN n2
    WHERE c2 >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 30
    """,
    doc="L14: PMI collocations — pointwise mutual information over "
    "adjacent token pairs: log of observed bigram probability vs "
    "independence. One tokenize pass feeds BOTH count relations (bigrams "
    "via index-sequence transform, no self-join of the token stream); "
    "the unigram table broadcasts into the bigram join twice; the corpus "
    "totals are 1-row broadcast scalars. Collocation mining / tokenizer-"
    "merge scoring at corpus scale.",
    tags=("llm", "text"),
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import materialize

    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(F.split("text", " ").alias("toks"))
    # Vocabulary-sized: materialized once; its three consumers (two PMI
    # join sides + the total) otherwise re-tokenize the corpus each.
    uni = materialize(
        toks.select(F.explode("toks").alias("tok")).groupBy("tok").agg(
            F.count(F.lit(1)).alias("c1")
        )
    )
    bi = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(toks) - 1, 0)),"
                    " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
                )
            ).alias("pair")
        )
        .select("pair.w1", "pair.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .filter(F.col("c2") >= 5)
    )
    total1 = uni.agg(F.sum("c1").alias("total1"))
    # total bigram positions = total tokens - one per doc (split() never
    # yields an empty array) — derived arithmetically instead of a third
    # tokenize pass; the doc count is a column-less metadata-cheap scan.
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    total2_src = total1.crossJoin(n_docs).select(
        (F.col("total1") - F.col("nd")).alias("total2")
    )
    u1 = uni.select(F.col("tok").alias("t1"), F.col("c1").alias("c1_w1"))
    u2 = uni.select(F.col("tok").alias("t2"), F.col("c1").alias("c1_w2"))
    return (
        bi.join(F.broadcast(u1), F.col("w1") == F.col("t1"))
        .join(F.broadcast(u2), F.col("w2") == F.col("t2"))
        .crossJoin(F.broadcast(total1))
        .crossJoin(F.broadcast(total2_src))
        .select(
            "w1",
            "w2",
            F.col("c2").cast("bigint").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("c2") / F.col("total2"))
                    / ((F.col("c1_w1") / F.col("total1")) * (F.col("c1_w2") / F.col("total1")))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(30)
    )


@register(
    "tx_repetition",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t.tok
      FROM documents, unnest(string_split(text, ' ')) AS t(tok)
    ),
    per AS (
      SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok
    ),
    doc AS (
      SELECT doc_id, sum(c) AS n_tok, max(c) AS max_tok,
             count(*) AS n_distinct
      FROM per GROUP BY doc_id
    )
    SELECT doc_id,
           round(max_tok * 1.0 / n_tok, 6) AS top_token_share,
           round(n_distinct * 1.0 / n_tok, 6) AS distinct_ratio
    FROM doc
    ORDER BY top_token_share DESC, doc_id
    LIMIT 100
    """,
    doc="TX: repetition detection (Gopher-style repetition filters) — "
    "per-document top-token share and distinct-token ratio; documents "
    "dominated by one token or with collapsed vocabulary are generation "
    "artifacts / boilerplate. Two-level aggregation: (doc, token) counts "
    "then per-doc moments — both levels partial-aggregate map-side, and "
    "the second level is keyed on a prefix of the first's key so the "
    "shuffle is reused.",
    tags=("llm", "text"),
)
def repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    per = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tok"),
            F.max("c").alias("max_tok"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .select(
            "doc_id",
            F.round(F.col("max_tok") / F.col("n_tok"), 6).alias("top_token_share"),
            F.round(F.col("n_distinct") / F.col("n_tok"), 6).alias("distinct_ratio"),
        )
        .orderBy(F.desc("top_token_share"), "doc_id")
        .limit(100)
    )


@register(
    "tx_redaction",
    oracle="""
    SELECT lang,
           CAST(count(*) FILTER (WHERE n_hits > 0) AS BIGINT) AS docs_affected,
           CAST(sum(n_hits) AS BIGINT) AS total_redactions,
           CAST(sum(len(redacted)) AS BIGINT) AS redacted_chars
    FROM (
      SELECT lang,
             len(regexp_extract_all(text, '\\b(a|the)\\b')) AS n_hits,
             regexp_replace(text, '\\b(a|the)\\b', '<STOP>', 'g') AS redacted
      FROM documents
    )
    GROUP BY lang
    ORDER BY lang
    """,
    doc="TX: regex redaction/scrubbing — the PII-scrub shape (count "
    "matches, rewrite in place, audit totals per slice). The fixture "
    "corpus has no emails/digits, so function words stand in for the "
    "PII patterns; the plan is the real thing: regexp_count + "
    "regexp_replace as codegen'd projections (one text pass, no UDF), "
    "then a tiny grouped audit. Both engines run the same RE on the "
    "same strings — counts and rewritten lengths must agree exactly.",
    tags=("llm", "text"),
)
def redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    pat = r"\b(a|the)\b"
    hit = docs.select(
        "lang",
        F.regexp_count("text", F.lit(pat)).alias("n_hits"),
        F.length(F.regexp_replace("text", pat, "<STOP>")).alias("redacted_len"),
    )
    return (
        hit.groupBy("lang")
        .agg(
            F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_affected"),
            F.sum("n_hits").cast("bigint").alias("total_redactions"),
            F.sum("redacted_len").cast("bigint").alias("redacted_chars"),
        )
    )


@register(
    "l18_unigram_lm",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split_regex(text, '\\s+')) AS t
      FROM documents
    ),
    vocab AS (
      SELECT t, count(*) AS cnt FROM tok GROUP BY t
    ),
    tot AS (SELECT sum(cnt) AS n FROM vocab),
    scored AS (
      SELECT tok.doc_id, tok.lang,
             avg(-ln(vocab.cnt * 1.0 / tot.n)) AS nll
      FROM tok JOIN vocab USING (t) CROSS JOIN tot
      GROUP BY tok.doc_id, tok.lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(nll), 4) AS avg_nll,
           round(min(nll), 4) AS min_nll,
           round(max(nll), 4) AS max_nll
    FROM scored GROUP BY lang ORDER BY lang
    """,
    doc="L18: unigram language-model scoring — per-document mean negative "
    "log-likelihood under the corpus's own unigram distribution, the "
    "classic KenLM-shaped quality/fluency signal (high NLL = rare-token "
    "soup, low = repetitive boilerplate). The vocabulary is one "
    "token-grain agg (vocab-sized, broadcastable); scoring is "
    "explode → broadcast-join → per-doc avg, so the 100 TB cost is one "
    "pass over tokens with map-side partials — no pairwise anything. "
    "Per-doc NLL averages a handful of ln() terms; engine-level ln "
    "parity holds to the ulp, and the per-lang rollup rounds.",
    tags=("llm", "quality"),
)
def unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tok = d.select("doc_id", "lang", F.explode(tokens()).alias("t"))
    from mric_bak_etl_spark.tables import materialize

    # Vocab-sized, consumed by the total AND the scoring join:
    # materialized once instead of re-tokenizing the corpus per consumer.
    vocab = materialize(tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt")))
    tot = vocab.agg(F.sum("cnt").alias("n"))
    scored = (
        tok.join(F.broadcast(vocab), "t")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(F.avg(-F.log(F.col("cnt") / F.col("n"))).alias("nll"))
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("nll"), 4).alias("avg_nll"),
            F.round(F.min("nll"), 4).alias("min_nll"),
            F.round(F.max("nll"), 4).alias("max_nll"),
        )
    )


@register(
    "tx_boilerplate",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, lang, array_to_string(toks[i:i+4], ' ') AS gram
      FROM tok, unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS t(i)
    ),
    df AS (
      SELECT gram, count(DISTINCT doc_id) AS docfreq FROM grams GROUP BY gram
    ),
    per_doc AS (
      SELECT g.doc_id, g.lang,
             count(*) AS n_grams,
             count(*) FILTER (WHERE df.docfreq >= 20) AS n_boiler
      FROM grams g JOIN df USING (gram)
      GROUP BY g.doc_id, g.lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_boiler * 1.0 / n_grams), 4) AS avg_boiler_frac,
           CAST(count(*) FILTER (WHERE n_boiler * 2 > n_grams) AS BIGINT)
             AS n_mostly_boiler
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
    doc="TX: boilerplate detection — the C4-style corpus-frequency filter: "
    "a 5-gram appearing in ≥20 distinct documents is boilerplate "
    "(headers, navigation chrome, license blurbs), and each document is "
    "scored by its boilerplate fraction. Mechanically l13 turned inward: "
    "one explode to gram grain, one doc-frequency agg, one hash join "
    "back on the gram — no broadcast here because the corpus's own "
    "doc-frequency table scales with the corpus (vs l13's tiny eval "
    "set); at 100 TB both sides partition by gram hash and the join is "
    "the one wide shuffle.",
    tags=("text", "quality"),
)
def boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    grams = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(split(text, ' ')) - 4, 0)),"
                " i -> array_join(slice(split(text, ' '), i, 5), ' '))"
            )
        ).alias("gram"),
    )
    docfreq = grams.groupBy("gram").agg(
        F.countDistinct("doc_id").alias("docfreq")
    )
    per_doc = (
        grams.join(docfreq, "gram")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("docfreq") >= 20, 1)).alias("n_boiler"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg(F.col("n_boiler") / F.col("n_grams")), 4).alias(
                "avg_boiler_frac"
            ),
            F.count(F.when(F.col("n_boiler") * 2 > F.col("n_grams"), 1))
            .cast("bigint")
            .alias("n_mostly_boiler"),
        )
    )


VOCAB_TOP_K = 500


@register(
    "l20_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
      FROM documents
    ),
    tok_clean AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    vocab AS (
      SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY count(*) DESC, term ASC) AS rn
        FROM tok_clean GROUP BY term
      ) WHERE rn <= {VOCAB_TOP_K}
    ),
    scored AS (
      SELECT t.doc_id,
             count(*)                                            AS n_tokens,
             sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)     AS n_oov
      FROM tok_clean t LEFT JOIN vocab v USING (term)
      GROUP BY t.doc_id
    )
    SELECT CAST(count(*) AS BIGINT)                            AS n_docs,
           round(avg(CAST(n_oov AS DOUBLE) / n_tokens), 6)     AS mean_oov_rate,
           CAST(sum(CASE WHEN CAST(n_oov AS DOUBLE) / n_tokens > 0.5
                         THEN 1 ELSE 0 END) AS BIGINT)         AS n_high_oov
    FROM scored
    """,
    doc=f"L20: OOV-rate profiling — a frequency-built vocabulary (top "
    f"{VOCAB_TOP_K} terms, deterministic count-then-term tiebreak) "
    "left-anti-scored against every document's tokens: per-doc "
    "out-of-vocabulary share, corpus mean, and the count of docs past "
    "an OOV gate. The tokenizer-coverage audit run before committing a "
    "vocab/tokenizer to a training corpus. One tokenize pass feeds both "
    "the vocab build and the scoring; the vocab is vocabulary-sized and "
    "broadcasts — the corpus shuffles only (doc_id, term) pairs once.",
    tags=("llm", "text"),
)
def oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = d.select("doc_id", F.explode(tokens()).alias("term")).filter(
        F.col("term") != ""
    )
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    vocab = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= VOCAB_TOP_K)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    scored = (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    rate = F.col("n_oov").cast("double") / F.col("n_tokens")
    return scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(rate), 6).alias("mean_oov_rate"),
        F.sum((rate > 0.5).cast("bigint")).cast("bigint").alias("n_high_oov"),
    )


@register(
    "tx_entropy",
    oracle="""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS c
      FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
        FROM documents
      )
      WHERE term <> ''
      GROUP BY doc_id, term
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
    FROM tf GROUP BY doc_id ORDER BY doc_id
    """,
    doc="TX: per-document token Shannon entropy — the diversity signal "
    "quality filters pair with tx_repetition's top-token share: near-"
    "zero entropy means a degenerate document (one token repeated), "
    "max entropy ln(n) means no repetition at all. Computed in TWO "
    "hash aggs from one tokenize pass using the algebraic form "
    "H = ln(n) - (Σ c·ln c)/n, so no per-document probability "
    "normalization pass is needed — (doc, term) counts map-side-"
    "combine, then collapse to the doc grain. Both shuffles carry "
    "narrow count rows; nothing is quadratic in vocabulary.",
    tags=("text", "quality"),
)
def entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode(tokens()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .count()
    )
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("count").cast("bigint").alias("n_tokens"),
            F.round(
                F.log(F.sum("count"))
                - F.sum(F.col("count") * F.log("count")) / F.sum("count"),
                4,
            ).alias("entropy"),
        )
    )


@register(
    "l22_slice_divergence",
    oracle="""
    WITH tf AS (
      SELECT CASE WHEN source = 'src0' THEN 'a' ELSE 'b' END AS slice,
             term, count(*) AS c
      FROM (
        SELECT source, unnest(string_split_regex(text, '\\s+')) AS term
        FROM documents
      )
      WHERE term <> ''
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT term,
             sum(CASE WHEN slice = 'a' THEN c ELSE 0 END) AS ca,
             sum(CASE WHEN slice = 'b' THEN c ELSE 0 END) AS cb
      FROM tf GROUP BY term
    ),
    probs AS (
      SELECT term,
             ca / (sum(ca) OVER ()) AS p,
             cb / (sum(cb) OVER ()) AS q
      FROM wide
    )
    SELECT round(0.5 * sum(CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2))
                                ELSE 0 END)
               + 0.5 * sum(CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2))
                                ELSE 0 END), 6) AS js_divergence,
           CAST(count(*) AS BIGINT)                    AS vocab_union,
           CAST(sum(CASE WHEN p > 0 AND q > 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                       AS vocab_shared
    FROM probs
    """,
    doc="L22: corpus-slice divergence — Jensen-Shannon divergence "
    "between the token distributions of two slices (src0 vs the "
    "rest): the mixture-drift monitor a training-data pipeline runs "
    "when a new source lands or a filter changes (JS is symmetric, "
    "bounded by ln 2, and zero-safe — absent-token terms drop out of "
    "their side's sum, so no smoothing constant to tune). One "
    "tokenize pass; counts pivot to (term, c_a, c_b) in a single "
    "narrow-row shuffle on term; slice totals are a broadcast 1-row "
    "aggregate joined back (no single-task global window — the e5/h15 "
    "lesson); the JS sum collapses everything to one row. Nothing is "
    "pairwise and no side is collected.",
    tags=("llm", "sampling", "quality"),
)
def slice_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    wide = (
        d.select(
            F.when(F.col("source") == "src0", "a").otherwise("b").alias("slice"),
            F.explode(tokens()).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.sum(F.when(F.col("slice") == "a", 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("slice") == "b", 1).otherwise(0)).alias("cb"),
        )
    )
    from mric_bak_etl_spark.tables import materialize

    # The term-grain pivot is the working set (vocabulary-sized,
    # bounded) consumed by both the totals and the JS sum — materialize
    # once so the tokenize scan runs once, not per consumer.
    wide = materialize(wide)
    totals = wide.agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    probs = wide.crossJoin(F.broadcast(totals)).select(
        (F.col("ca") / F.col("ta")).alias("p"),
        (F.col("cb") / F.col("tb")).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    return probs.agg(
        F.round(
            0.5 * F.sum(F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / m)).otherwise(0.0))
            + 0.5 * F.sum(F.when(F.col("q") > 0, F.col("q") * F.log(F.col("q") / m)).otherwise(0.0)),
            6,
        ).alias("js_divergence"),
        F.count(F.lit(1)).alias("vocab_union"),
        F.sum(
            F.when((F.col("p") > 0) & (F.col("q") > 0), 1).otherwise(0)
        ).cast("bigint").alias("vocab_shared"),
    )


@register(
    "l24_bigram_lm",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(text, '\\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id, lang, t[i] AS w1, t[i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g
      WHERE t[i] <> '' AND t[i + 1] <> ''
    ),
    c12 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(c) AS cc FROM c12 GROUP BY 1),
    v AS (
      SELECT count(DISTINCT tok) AS vv
      FROM (SELECT unnest(t) AS tok FROM toks)
      WHERE tok <> ''
    ),
    scored AS (
      SELECT b.doc_id, b.lang,
             -ln((c.c + 1.0) / (k.cc + v.vv)) AS nll
      FROM bg b
      JOIN c12 c ON c.w1 = b.w1 AND c.w2 = b.w2
      JOIN c1 k ON k.w1 = b.w1
      CROSS JOIN v
    ),
    per_doc AS (
      SELECT doc_id, lang, avg(nll) AS doc_nll
      FROM scored GROUP BY 1, 2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(doc_nll), 4)   AS avg_nll
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
    doc="L24: bigram language-model scoring — the first-order upgrade of "
    "l18's unigram fluency score: per-document mean negative "
    "log-likelihood under the corpus's OWN bigram distribution with "
    "add-one smoothing, P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V). Context "
    "counts c(w1) derive FROM the bigram relation (one groupBy-sum — "
    "no second tokenize pass), V is a broadcast scalar, and scoring "
    "joins each doc's bigrams to the count tables on narrow string "
    "keys; everything map-side-combines. Degenerate repeated-phrase "
    "docs score artificially FLUENT under their own corpus statistics "
    "— production decontaminates the LM corpus first (l1/l2) exactly "
    "because of this feedback; the mechanism here is what scales. "
    "Summarized to the (lang, avg NLL) grain.",
    tags=("llm", "text"),
)
def bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    t = d.select("doc_id", "lang", tokens().alias("t"))
    idx = F.when(
        F.size("t") > 1, F.sequence(F.lit(1), F.size("t") - 1)
    ).otherwise(F.array().cast("array<int>"))
    from mric_bak_etl_spark.tables import materialize

    # The bigram relation is the working set every downstream consumer
    # reads (pair counts, context counts, scoring join) — materialize it
    # once (a persisted table at cluster scale) so the tokenize+explode
    # pass runs once, not per consumer.
    bg = materialize(
        t.select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("t", i).alias("w1"),
                        F.element_at("t", i + 1).alias("w2"),
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", "lang", "p.w1", "p.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    c1 = c12.groupBy("w1").agg(F.sum("c").alias("cc"))
    vocab = (
        t.select(F.explode("t").alias("tok"))
        .filter(F.col("tok") != "")
        .agg(F.countDistinct("tok").alias("vv"))
    )
    scored = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "lang",
            (-F.log((F.col("c") + 1.0) / (F.col("cc") + F.col("vv")))).alias("nll"),
        )
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(F.avg("nll").alias("doc_nll"))
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("doc_nll"), 4).alias("avg_nll"),
        )
    )


# BPE trainer geometry (l26): merge rounds over the frequency-weighted
# word table (standard BPE trains on word counts, never the raw corpus),
# restricted to clean lowercase words so merged symbols stay regex-inert
# in the shared fold expression.
BPE_ROUNDS = 6
BPE_VOCAB_WORDS = 150

# The leftmost non-overlapping merge fold, shared semantics in both
# engines: accumulator is the space-joined symbol string; a step either
# fuses the pending last symbol with x (when they equal the round's best
# pair) or appends x. Plain string replace() CANNOT express this — on a
# symbol run like "a a a a" one replace pass merges (1,2) and (4,5),
# where BPE's leftmost scan merges (1,2) and (3,4).
_MERGE_FOLD_DUCK = (
    "list_reduce(string_split(syms, ' '), (acc, x) -> "
    "CASE WHEN regexp_extract(acc, '([^ ]+)$', 1) = {A} AND x = {B} "
    "THEN regexp_replace(acc, '([^ ]+)$', {AB}) "
    "ELSE acc || ' ' || x END)"
)


def _merge_fold_spark(a: str, b: str) -> str:
    """The same leftmost non-overlapping fold as a Spark expression over
    a symbol-array column ``s`` — shared by training (l26) and apply
    (l26b) so both faces execute identical merge semantics. Safe to
    embed ``a``/``b`` as literals: symbols are [a-z]+ by the vocabulary
    filter, regex-inert."""
    ab = a + b
    return (
        "aggregate(slice(s, 2, size(s) - 1), s[0], (acc, x) -> "
        f"CASE WHEN regexp_extract(acc, '([^ ]+)$', 1) = '{a}' AND x = '{b}' "
        f"THEN regexp_replace(acc, '([^ ]+)$', '{ab}') "
        "ELSE concat(acc, ' ', x) END)"
    )


def _bpe_train_ctes() -> str:
    """The shared unrolled training CTE chain (freqs, w0, p/b/w 1..N):
    b{r} is round r's learned merge pair, w{r} the word table after it.
    l26's oracle selects the merges; l26b's reuses the same chain and
    APPLIES them to the full corpus vocabulary."""
    rounds = []
    for r in range(1, BPE_ROUNDS + 1):
        prev = f"w{r - 1}"
        fold = _MERGE_FOLD_DUCK.format(
            A=f"b{r}.a", B=f"b{r}.b", AB=f"b{r}.a || b{r}.b"
        )
        rounds.append(f"""
    p{r} AS (
      SELECT s[i] AS a, s[i + 1] AS b, sum(freq) AS c
      FROM (SELECT string_split(syms, ' ') AS s, freq FROM {prev}),
           LATERAL (SELECT unnest(range(1, len(s))) AS i) g
      GROUP BY 1, 2
    ),
    b{r} AS (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1),
    w{r} AS (SELECT word, freq, {fold} AS syms FROM {prev}, b{r})""")
    return f"""freqs AS (
      SELECT term AS word, count(*) AS freq
      FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS term
            FROM documents)
      WHERE regexp_matches(term, '^[a-z]+$')
      GROUP BY term
      ORDER BY freq DESC, word LIMIT {BPE_VOCAB_WORDS}
    ),
    w0 AS (
      SELECT word, freq,
             array_to_string(string_split(word, ''), ' ') AS syms
      FROM freqs
    ),{",".join(rounds)}"""


def _bpe_oracle() -> str:
    finals = " UNION ALL ".join(
        f"SELECT {r} AS rank, a, b, CAST(c AS BIGINT) AS pair_freq FROM b{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return f"""
    WITH {_bpe_train_ctes()}
    SELECT CAST(rank AS INT) AS rank, a, b, pair_freq
    FROM ({finals}) ORDER BY rank
    """


def _bpe_apply_oracle() -> str:
    """l26b: re-learn the merges via the shared training chain, then
    apply each round's merge — the identical leftmost fold — to the FULL
    distinct clean-word vocabulary (not just the training top-150), and
    roll per-word token counts up to document grain."""
    applies = []
    for r in range(1, BPE_ROUNDS + 1):
        fold = _MERGE_FOLD_DUCK.format(
            A=f"b{r}.a", B=f"b{r}.b", AB=f"b{r}.a || b{r}.b"
        )
        applies.append(
            f"""
    v{r} AS (SELECT word, {fold} AS syms FROM v{r - 1}, b{r})"""
        )
    return f"""
    WITH {_bpe_train_ctes()},
    docwords AS (
      SELECT doc_id, term AS word
      FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
            FROM documents)
      WHERE regexp_matches(term, '^[a-z]+$')
    ),
    v0 AS (
      SELECT word, array_to_string(string_split(word, ''), ' ') AS syms
      FROM (SELECT DISTINCT word FROM docwords)
    ),{",".join(applies)},
    enc AS (
      SELECT word,
             len(string_split(syms, ' ')) AS n_tokens,
             replace(syms, ' ', '') = word AS ok
      FROM v{BPE_ROUNDS}
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)      AS n_words,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           bool_and(ok)                  AS round_trip
    FROM docwords JOIN enc USING (word)
    GROUP BY doc_id
    ORDER BY doc_id
    """


@register(
    "l26_bpe_merges",
    oracle=_bpe_oracle(),
    doc="L26: BPE tokenizer training — the merge-learning loop under "
    "every modern tokenizer, run distributed for "
    f"{BPE_ROUNDS} rounds over the frequency-weighted word table "
    f"(top {BPE_VOCAB_WORDS} clean words; standard BPE never touches "
    "the raw corpus, only word counts — vocabulary-sized state). Each "
    "round: adjacent symbol-pair counts weighted by word frequency "
    "(explode + map-side-combined agg), argmax with (count DESC, "
    "pair ASC) tiebreak — a 1-row driver probe per round, the g1/l19 "
    "iteration pattern — then a leftmost non-overlapping merge fold "
    "applied to every word's symbol string as a pure expression. The "
    "fold semantics are load-bearing: naive string replace merges "
    "runs differently ('a a a a' → BPE merges positions 1-2 and 3-4, "
    "replace() merges 1-2 and 4-5); both engines execute the "
    "identical fold, DuckDB via list_reduce in an unrolled "
    f"{BPE_ROUNDS}-round CTE. Output = the learned merge table "
    "(rank, pair, weighted frequency) — the artifact a tokenizer "
    "ships. Word-table state is materialized per round "
    "(vocabulary-sized), so lineage stays flat.",
    tags=("llm", "text", "iterative"),
)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import materialize

    d = spread(load_table(spark, sf_dir, "documents").select("text"))
    freqs = (
        d.select(F.explode(tokens()).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word"))
        .limit(BPE_VOCAB_WORDS)
    )
    # The merge loop's working set is the 150-row word table — schedule
    # it as ONE partition (6 rounds x several stages over 32 partitions
    # of ~5 rows each is pure task-scheduling overhead; at a real vocab
    # scale sized_parallelism applies instead).
    words = materialize(
        freqs.coalesce(1).select(
            "word",
            "freq",
            F.array_join(F.split("word", ""), " ").alias("syms"),
        )
    )

    # Optimization r13 (guide §1.2: remove redundant jobs, §5: persist
    # only what lineage needs): the loop used to pay 3 Spark jobs per
    # round — the 1-row argmax collect, a localCheckpoint of the folded
    # word table, and a RE-RUN of the round's whole pair aggregation
    # when the returned union plan materialized. The fold chain over the
    # ONE pinned 150-row word table is a trivial narrow expression, so
    # per-round checkpoints buy nothing (lineage is BPE_ROUNDS selects
    # deep, linear); and the argmax values are already on the driver
    # from the round probe, so the merge table is emitted as literal
    # rows instead of re-aggregating per round at materialize time.
    # Values are bit-identical; jobs drop from ~18 to ~7 per call
    # (measured: l26b 3.33 s -> see OPTIMIZATION_r13.md).
    best_rows: list[tuple[int, str, str, int]] = []
    for r in range(1, BPE_ROUNDS + 1):
        pairs = (
            words.select(F.split("syms", " ").alias("s"), "freq")
            .select(
                F.explode(
                    F.expr(
                        "CASE WHEN size(s) > 1 THEN transform("
                        "sequence(0, size(s) - 2), i -> struct(s[i] AS a, s[i+1] AS b)) "
                        "ELSE array() END"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("c"))
        )
        best_df = pairs.orderBy(F.col("c").desc(), "a", "b").limit(1)
        best = best_df.collect()[0]  # 1-row round probe (g1/l19 pattern)
        best_rows.append((r, best["a"], best["b"], int(best["c"])))
        fold = _merge_fold_spark(best["a"], best["b"])
        words = words.select(
            F.split("syms", " ").alias("s"), "word", "freq"
        ).select("word", "freq", F.expr(fold).alias("syms"))

    return spark.createDataFrame(
        best_rows, "rank int, a string, b string, pair_freq bigint"
    )


@register(
    "l26b_bpe_encode",
    oracle=_bpe_apply_oracle(),
    doc="L26b: the APPLY face of the tokenizer — encode the corpus with "
    "l26's trained merge table and verify the engine-neutral "
    "invariants: detokenize round-trip identity (concatenating each "
    "word's merged symbols reproduces the word, bool_and-ed per doc) "
    "and exact per-document token counts. The merge table is the "
    "shipped artifact: BPE_ROUNDS rows, collected once and re-applied "
    "as a chain of pure fold expressions (the IDENTICAL leftmost "
    "non-overlapping fold training used — shared via "
    "_merge_fold_spark, so train and apply can't drift). Encoding "
    "runs over the DISTINCT clean-word vocabulary — the full corpus "
    "vocabulary, not just the training top words; out-of-vocabulary "
    "words simply merge less — then broadcast-joins back onto the "
    "corpus words, so the corpus itself never shuffles for the "
    "encode; the only exchange is the final doc-grain rollup "
    "(map-side combinable). Oracle: the shared unrolled training CTE "
    "re-learns the merges and applies the same fold per round to the "
    "same vocabulary. At 100 TB: merge tables are KB-sized and "
    "broadcast; vocabulary encode is |vocab|-sized, corpus cost is "
    "one tokenize + one broadcast join per crawl.",
    tags=("llm", "text", "iterative"),
)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The merge table is the tokenizer artifact — tiny (BPE_ROUNDS rows),
    # collected in rank order; applying it is driver-side expression
    # construction, not data movement.
    merges = [
        (r["a"], r["b"])
        for r in bpe_merges(spark, sf_dir).orderBy("rank").collect()
    ]
    return _encode_corpus(spark, sf_dir, merges)


def _encode_corpus(
    spark: SparkSession, sf_dir: str, merges: list[tuple[str, str]]
) -> DataFrame:
    """The apply face shared by l26b (freshly trained merges) and l26c
    (persisted-artifact merges): encode the distinct corpus vocabulary
    with the merge table via the SAME leftmost fold training used
    (_merge_fold_spark), broadcast-join the encoded vocabulary back
    onto the corpus words, and roll up to document grain. The corpus
    never shuffles for the encode; the only exchange is the final
    map-side-combinable doc rollup."""
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    words = d.select("doc_id", F.explode(tokens()).alias("word")).filter(
        F.col("word").rlike("^[a-z]+$")
    )
    vocab = (
        words.select("word")
        .distinct()
        .select("word", F.array_join(F.split("word", ""), " ").alias("syms"))
    )
    for a, b in merges:
        vocab = vocab.select(F.split("syms", " ").alias("s"), "word").select(
            "word", F.expr(_merge_fold_spark(a, b)).alias("syms")
        )
    enc = vocab.select(
        "word",
        F.size(F.split("syms", " ")).cast("bigint").alias("n_tokens"),
        (F.translate("syms", " ", "") == F.col("word")).alias("ok"),
    )
    return (
        words.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.bool_and("ok").alias("round_trip"),
        )
    )


def _merge_artifact_base(sf_dir: str) -> str:
    """Keyed by the trainer config: merge rounds, vocab words."""
    config = f"bpe-v2-r{BPE_ROUNDS}-w{BPE_VOCAB_WORDS}"
    return artifact_dir(sf_dir, "documents", "mric_bpe_artifacts", config)


def publish_merge_table(spark: SparkSession, sf_dir: str) -> str:
    """Train-if-missing: return the published merge-table path, training
    and publishing only when absent — write to a staging dir, AUDIT what
    was actually written (exactly BPE_ROUNDS rows, ranks 1..N, non-null
    pairs), then one atomic rename (`artifacts.publish`: the s11
    write-audit-publish shape applied to a model artifact)."""

    def write(staging: str) -> None:
        bpe_merges(spark, sf_dir).write.mode("overwrite").parquet(staging)
        err = _audit_merge_rows(spark.read.parquet(staging).collect())
        if err:
            raise ValueError(
                f"merge-table audit failed ({err}) — NOT published"
            )

    base = _merge_artifact_base(sf_dir)
    return publish(os.path.join(base, "published"), write)


def _audit_merge_rows(rows) -> str | None:
    """The merge-table contract: exactly BPE_ROUNDS rows, ranks 1..N,
    non-null pair halves. Returns a description of the violation, or
    None. Cheap (BPE_ROUNDS rows) — run on the staged rows at publish;
    a load trusts the published dir's manifest (`artifacts.publish`)."""
    ranks = sorted(r["rank"] for r in rows)
    if ranks != list(range(1, BPE_ROUNDS + 1)):
        return f"ranks={ranks}"
    if any(not r["a"] or not r["b"] for r in rows):
        return "null merge-pair half"
    return None


def load_merge_table(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    """The apply-only artifact read: BPE_ROUNDS rows in rank order — the
    KB-sized file a tokenizer ships. No training stage anywhere on this
    path once the artifact exists (tests/test_llm.py pins that by making
    training raise). A published dir that does not match its manifest
    was planted or tampered with: `artifacts.publish` refuses it loudly
    rather than silently poisoning every downstream encode."""
    path = publish_merge_table(spark, sf_dir)
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r["a"], r["b"]) for r in rows]


@register(
    "l26c_bpe_encode_persisted",
    oracle=_bpe_apply_oracle(),
    doc="L26c: l26b's PRODUCTION face — what a crawl actually runs. l26b "
    "is honest as a self-contained oracle pair but re-trains the merge "
    "table on every call (6 pair-count aggregations + per-round argmax "
    "probes); a pipeline trains ONCE, ships the artifact, and every "
    "encode job loads it. This query consumes a PERSISTED merge table: "
    "publish_merge_table trains at most once per corpus fingerprint "
    "(write → audit-what-was-written → one atomic rename, the s11 "
    "write-audit-publish shape applied to a model artifact; the "
    "artifact key pins corpus identity + trainer config — the l38/l40 "
    "probe-the-persisted-index pattern applied to tokenizers), and the "
    "steady-state work is: read BPE_ROUNDS parquet rows, build the "
    "fold expressions, encode — identical semantics to l26b via the "
    "shared _encode_corpus/_merge_fold_spark, verified by the same "
    "re-learning oracle, and pinned apply-only by test (training "
    "monkeypatched to raise once the artifact exists). At 100 TB: the "
    "merge table is KB-sized and broadcast; per-crawl cost is one "
    "tokenize + one broadcast join — training amortizes to zero across "
    "crawls.",
    tags=("llm", "text", "artifact"),
)
def bpe_encode_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _encode_corpus(spark, sf_dir, load_merge_table(spark, sf_dir))


@register(
    "l36_source_overlap",
    oracle="""
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             array_to_string(w[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')
               AS shingle
      FROM toks, unnest(range(1, len(w) - 3)) AS u(i)
      WHERE len(w) >= 5
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_shingles
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY source_a, source_b
    ORDER BY n_shared_shingles DESC, source_a, source_b
    LIMIT 25
    """,
    doc="L36: source-overlap contamination matrix — the SOURCE-grain "
    "diagnostic the doc-grain dedup family can't give: for every pair "
    "of ingestion sources, the count of distinct word 5-gram shingles "
    "they share. A hot pair means boilerplate or mirrored content "
    "propagating between feeds — the signal that decides whether to "
    "drop a SOURCE, not just its duplicate documents (the Common-"
    "Crawl-vs-curated-dump triage every corpus audit does). Pair "
    "space is bounded by |sources|^2 — organizationally small — so "
    "unlike doc-grain dedup no hot-bucket cap is needed; the shingle "
    "set dedupes to (source, shingle) BEFORE the pair join, so one "
    "viral page inside a source counts once. Docs under 5 tokens are "
    "excluded on BOTH engines (Spark's sequence() would otherwise "
    "DESCEND for a negative span — a real cross-engine trap — while "
    "DuckDB's range() returns empty). Top-25 pairs with a full "
    "deterministic tiebreak.",
    tags=("llm", "text"),
)
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("source", "text")
    toks = d.select(
        "source", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= 5)
    sh = (
        toks.select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 4),
                    lambda i: F.concat_ws(" ", F.slice("w", i, 5)),
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    a = sh.select(
        F.col("source").alias("source_a"), F.col("shingle").alias("sh_a")
    )
    b = sh.select(
        F.col("source").alias("source_b"), F.col("shingle").alias("sh_b")
    )
    pairs = a.join(
        b,
        (F.col("sh_a") == F.col("sh_b"))
        & (F.col("source_a") < F.col("source_b")),
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_shingles"))
        .orderBy(
            F.desc("n_shared_shingles"), "source_a", "source_b"
        )
        .limit(25)
    )


@register(
    "l37_length_histogram",
    oracle="""
    SELECT lang,
           CAST(least(n_chars // 100, 9) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT)                 AS n_docs,
           CAST(min(n_chars) AS BIGINT)             AS min_chars,
           CAST(max(n_chars) AS BIGINT)             AS max_chars
    FROM documents
    GROUP BY lang, bucket
    ORDER BY lang, bucket
    """,
    doc="L37: length histogram — equi-width document-length buckets "
    "(100-char bins, top bin open-ended) per language: the "
    "distribution profile behind every truncation/padding decision "
    "(dq3 profiles moments; training-data budgeting needs the SHAPE — "
    "a bimodal length mix packs differently than a unimodal one, and "
    "a lang whose mass sits in bin 0 is fragments, not prose). "
    "Arithmetic bucketing (floor-div + cap) instead of width_bucket "
    "keeps the expression portable and pushes as a plain projection: "
    "one map-side pass, one (lang, bucket)-grain shuffle, output "
    "bounded by langs x 10 at any corpus size. Per-bucket min/max "
    "double as bin-boundary proofs (min >= bucket*100, max < "
    "(bucket+1)*100 except the open top bin).",
    tags=("llm", "text"),
)
def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 100), F.lit(9)).cast(
        "bigint"
    )
    return (
        d.select("lang", bucket.alias("bucket"), "n_chars")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )
