"""Vector similarity search over embedding columns (SURVEY.md §2B L3).

Two strategies over ``array<float>`` embeddings:

- **brute-force cosine top-k** — exact; one pass, zip_with dot product +
  TakeOrderedAndProject. The baseline and the verifier.
- **LSH-bucketed ANN** — sign-bit bucketing (random-hyperplane LSH where
  the hyperplanes are axis-aligned dimension picks, fully deterministic and
  engine-independent, so it IS oracle-checkable): search only the query's
  bucket. The 100 TB shape: bucket = shuffle key, query side broadcast.

Scale notes: brute force at 100 TB is a full scan per query — fine for
batch scoring (it pipelines, no shuffle), wrong for interactive lookup.
The bucketed variant prunes to ~n/2^b candidates; production systems add
multi-probe (flip one bit) to recover recall, which is `a9`-style union of
hamming-1 buckets — the probe list is tiny and broadcast. An IVF variant
(k-means centroids → nearest-centroid bucket) has the same join shape;
centroid fitting is out of scope here (no MLlib dependency), the bucketed
path demonstrates the physical plan that matters.

All cosine math is done in DOUBLE on both engines (DuckDB computes FLOAT[]
cosine in float32 otherwise — off by ~1e-7, which breaks value hashes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mric_bak_etl_spark.artifacts import artifact_dir, publish
from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.tables import load_table, spread

QUERY_VEC_ID = 0  # deterministic query: the embedding of vec_id 0
TOP_K = 10
SIGN_DIMS = (0, 13, 27, 41)  # axis-aligned "hyperplanes" for the LSH demo


def _as_double(col: str = "embedding") -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _cosine(v_a: Column, v_b: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(v_a, v_b, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    n_a = F.sqrt(F.aggregate(v_a, F.lit(0.0), lambda a, x: a + x * x))
    n_b = F.sqrt(F.aggregate(v_b, F.lit(0.0), lambda a, x: a + x * x))
    return dot / (n_a * n_b)


def brute_force_topk(
    embeddings: DataFrame, query: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Exact cosine top-k: broadcast the 1-row query against the corpus —
    no shuffle of the big side; TakeOrderedAndProject keeps k per partition.
    """
    joined = embeddings.crossJoin(F.broadcast(query.select(F.col("v").alias("qv"))))
    return (
        joined.select(
            "vec_id",
            F.round(_cosine(F.col("v"), F.col("qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


@register(
    "l3_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
    FROM e, q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT {TOP_K}
    """,
    doc="L3: brute-force cosine top-k (query = embedding of vec_id 0) — "
    "broadcast 1-row query, zip_with dot product, TakeOrderedAndProject; "
    "exact baseline every ANN variant is measured against.",
    tags=("llm", "vector"),
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    query = e.filter(F.col("vec_id") == QUERY_VEC_ID)
    # spread: single-row-group input scores every vector in one task
    # otherwise (tables.spread); at scale input splits provide this.
    corpus = spread(e.filter(F.col("vec_id") != QUERY_VEC_ID))
    return brute_force_topk(corpus, query)


def sign_bucket(v: Column, dims: tuple[int, ...] = SIGN_DIMS) -> Column:
    """LSH bucket id: sign bits of the picked dimensions packed to an int.
    Deterministic and engine-independent (no hash function involved)."""
    return sum(
        F.when(F.element_at(v, d + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, d in enumerate(dims)
    ).cast("int")


@register(
    "l3b_ann_lsh_bucket",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             (CASE WHEN embedding[{SIGN_DIMS[0] + 1}] > 0 THEN 1 ELSE 0 END
            + CASE WHEN embedding[{SIGN_DIMS[1] + 1}] > 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[{SIGN_DIMS[2] + 1}] > 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[{SIGN_DIMS[3] + 1}] > 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    q AS (SELECT v AS qv, bucket AS qbucket FROM e WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
    FROM e, q
    WHERE xor(e.bucket, q.qbucket) IN (0, 1, 2, 4, 8)
      AND e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT {TOP_K}
    """,
    doc="L3: ANN via sign-bit LSH bucketing with multi-probe — candidates "
    "pruned to the query's bucket plus its hamming-1 neighbors (5 of 16 "
    "buckets) before exact scoring; the bucket id is the shuffle/"
    "partition key at scale, and the probe list is tiny + broadcast. "
    "Recall vs brute force asserted in tests.",
    tags=("llm", "vector"),
)
def ann_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    ).withColumn("bucket", sign_bucket(F.col("v")))
    query = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("bucket").alias("qbucket")
    )
    # Multi-probe: query bucket + every hamming-1 bucket (flip one sign bit).
    probes = [0] + [1 << i for i in range(len(SIGN_DIMS))]
    candidates = e.join(
        F.broadcast(query),
        F.col("bucket").bitwiseXOR(F.col("qbucket")).isin(probes),
    ).filter(F.col("vec_id") != QUERY_VEC_ID)
    return (
        candidates.select(
            "vec_id", F.round(_cosine(F.col("v"), F.col("qv")), 4).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


@register(
    "l3c_grouped_centroids",
    oracle="""
    WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dims AS (SELECT label, unnest(v) AS x,
                    generate_subscripts(v, 1) AS dim
             FROM e)
    SELECT label, CAST(count(DISTINCT dim) AS INTEGER) AS dim_count,
           round(avg(CASE WHEN dim = 1 THEN x END), 4) AS centroid_d1,
           round(avg(x), 4) AS mean_component
    FROM dims
    GROUP BY label
    ORDER BY label
    """,
    doc="L3 support: per-label centroid statistics — element-wise vector "
    "mean via posexplode+groupBy, the building block for IVF centroid "
    "assignment; shuffle carries (label, dim) partial sums only.",
    tags=("llm", "vector"),
)
def grouped_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "label", _as_double().alias("v")
    )
    dims = e.select("label", F.posexplode("v").alias("dim0", "x"))
    per_dim = dims.groupBy("label", "dim0").agg(
        F.avg("x").alias("dim_mean"), F.count(F.lit(1)).alias("n")
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("int").alias("dim_count"),
            F.round(
                F.sum(F.when(F.col("dim0") == 0, F.col("dim_mean")).otherwise(0.0)), 4
            ).alias("centroid_d1"),
            F.round(F.avg("dim_mean"), 4).alias("mean_component"),
        )
    )


CENTROID_MOD = 97  # coarse codebook = vectors with vec_id % 97 == 1


@register(
    "l3d_ivf_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {CENTROID_MOD} = 1),
    q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                          c.cid ASC) AS rn
        FROM e, c) WHERE rn = 1
    ),
    probe AS (
      SELECT cid FROM (
        SELECT cid, row_number() OVER (ORDER BY cs DESC, cid ASC) AS rn
        FROM (SELECT c.cid,
                     round(list_cosine_similarity(c.cv, q.qv), 6) AS cs
              FROM c, q)) WHERE rn <= 2
    )
    SELECT e.vec_id, round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
    FROM e JOIN assign USING (vec_id) JOIN probe USING (cid), q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, vec_id ASC
    LIMIT {TOP_K}
    """,
    doc="L3d: IVF ANN — coarse quantization: a deterministic codebook "
    "(every 97th vector), each vector assigned to its nearest centroid "
    "(cosine rounded to 6dp + cid tiebreak so assignment is "
    "engine-stable), query probes the 2 nearest cells, exact scoring on "
    "cell members only. At scale the assignment is a broadcast "
    "(codebook) map-side pass done ONCE at ingest and stored as a "
    "partition column — probing then reads 2/N of the corpus; nprobe is "
    "the recall/cost dial. Complements l3b (LSH): IVF groups by data "
    "geometry, LSH by random projection.",
    tags=("llm", "vector"),
)
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    # Codebook + query travel as ONE broadcast row: array<struct<cid,cv>>
    # plus qv. Cell assignment is then array_max over per-cell structs —
    # a map-side expression (same engine-stable (cs 6dp, cid) order as
    # the former per-vector row_number window, which shuffled the whole
    # corpus×k cross join) — and the 2-cell probe list is an array
    # expression over the same broadcast row. One corpus scan, zero
    # corpus shuffle before the final top-k heap.
    cents_arr = (
        e.filter(F.col("vec_id") % CENTROID_MOD == 1)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        .agg(F.sort_array(F.collect_list(F.struct("cid", "cv"))).alias("cents"))
    )
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    side = F.broadcast(
        cents_arr.crossJoin(q).select(
            "cents",
            "qv",
            F.slice(
                F.sort_array(
                    F.transform(
                        "cents",
                        lambda c: F.struct(
                            (-F.round(_cosine(c["cv"], F.col("qv")), 6)).alias("ncs"),
                            c["cid"].alias("cid"),
                        ),
                    )
                ),
                1,
                2,
            ).alias("probe"),
        )
    )
    best = F.array_max(
        F.transform(
            "cents",
            lambda c: F.struct(
                F.round(_cosine(F.col("v"), c["cv"]), 6).alias("cs"),
                (-c["cid"]).alias("ncid"),
                c["cid"].alias("cid"),
            ),
        )
    )
    candidates = (
        spread(e)
        .crossJoin(side)
        .withColumn("cell", best["cid"])
        .filter(
            F.exists("probe", lambda p: p["cid"] == F.col("cell"))
            & (F.col("vec_id") != QUERY_VEC_ID)
        )
    )
    return (
        candidates.select(
            "vec_id", F.round(_cosine(F.col("v"), F.col("qv")), 4).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


@register(
    "l10_embedding_hygiene",
    oracle="""
    WITH e AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    m AS (
      SELECT label,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS norm,
             list_max(list_transform(v, x -> abs(x)))      AS absmax,
             v
      FROM e
    ),
    q AS (
      SELECT label, norm,
             list_sum(list_transform(
               v, x -> abs(x - round(x * 127.0 / absmax) * absmax / 127.0)))
               / len(v) AS quant_err
      FROM m
    )
    SELECT label,
           CAST(count(*) AS BIGINT)   AS n_vectors,
           round(avg(norm), 6)        AS avg_norm,
           round(avg(quant_err), 8)   AS avg_int8_err
    FROM q
    GROUP BY label
    ORDER BY label
    """,
    doc="L10: embedding hygiene — per-vector L2 norm and symmetric int8 "
    "quantization error (round-trip |x - dequant(quant(x))|), averaged "
    "per label: the storage-sizing numbers (norm distribution drives "
    "cosine-vs-dot choice; quant error drives whether int8 ANN serving "
    "is safe). Pure higher-order array expressions (transform/"
    "aggregate) — per-row projection, no Python, no shuffle before the "
    "small final agg.",
    tags=("llm", "vector"),
)
def embedding_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "label", _as_double().alias("v")
    )
    m = e.select(
        "label",
        "v",
        F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)).alias("norm"),
        F.aggregate("v", F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))).alias(
            "absmax"
        ),
    )
    q = m.select(
        "label",
        "norm",
        (
            F.aggregate(
                "v",
                F.lit(0.0),
                lambda a, x: a
                + F.abs(
                    x - F.round(x * 127.0 / F.col("absmax")) * F.col("absmax") / 127.0
                ),
            )
            / F.size("v")
        ).alias("quant_err"),
    )
    return (
        q.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(F.avg("norm"), 6).alias("avg_norm"),
            F.round(F.avg("quant_err"), 8).alias("avg_int8_err"),
        )
    )


@register(
    "l17_semdedup",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cent AS (
      SELECT label, list(x ORDER BY dim) AS c FROM (
        SELECT label, dim, avg(x) AS x FROM (
          SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS dim
          FROM e
        ) GROUP BY label, dim
      ) GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label,
             round(list_cosine_similarity(e.v, cent.c), 6) AS cos
      FROM e JOIN cent USING (label)
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY label
                                   ORDER BY cos DESC, vec_id) AS rn
      FROM scored
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(*) FILTER (WHERE rn > 1 AND cos >= 0.25) AS BIGINT)
             AS n_dropped,
           CAST(min(CASE WHEN rn = 1 THEN vec_id END) AS BIGINT) AS keeper_id,
           round(max(cos), 4) AS max_cos
    FROM ranked GROUP BY label ORDER BY label
    """,
    doc="L17: SemDeDup-style semantic dedup — cluster embeddings (label = "
    "the cluster key; at scale, an IVF/k-means assignment as in l3d), "
    "score each member's cosine to its cluster centroid, keep the "
    "closest representative and drop other members above the similarity "
    "threshold. Centroids via posexplode+avg carry (label, dim) partial "
    "sums only; the centroid table is tiny and broadcasts back; ranking "
    "rounds cosine to 6 decimals with vec_id tiebreak so keeper choice "
    "is engine-stable despite float summation-order noise. One shuffle "
    "for centroids, one window per cluster — never a pairwise self-join.",
    tags=("llm", "dedup", "vector"),
)
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double().alias("v")
    )
    dims = e.select("label", F.posexplode("v").alias("dim0", "x"))
    cent = (
        dims.groupBy("label", "dim0")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim0", "m"))),
                lambda s: s["m"],
            ).alias("c")
        )
    )
    dot = F.aggregate(
        F.zip_with("v", "c", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    scored = (
        e.join(F.broadcast(cent), "label")
        .select(
            "vec_id",
            "label",
            F.round(dot / (norm(F.col("v")) * norm(F.col("c"))), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("cos"), "vec_id")
    ranked = scored.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.count(F.when((F.col("rn") > 1) & (F.col("cos") >= 0.25), 1))
            .cast("bigint")
            .alias("n_dropped"),
            F.min(F.when(F.col("rn") == 1, F.col("vec_id")))
            .cast("bigint")
            .alias("keeper_id"),
            F.round(F.max("cos"), 4).alias("max_cos"),
        )
    )


KMEANS_K_MOD = 125  # deterministic seeds: vec_id % 125 == 0 → k=4 centroids
KMEANS_ROUNDS = 2  # Lloyd update rounds (assign → update, twice) + final assign

_KM_ASSIGN = """
    a{i} AS (
      SELECT vec_id, v, cid, cs FROM (
        SELECT e.vec_id, e.v, c.cid,
               round(list_cosine_similarity(e.v, c.cv), 6) AS cs,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                          c.cid ASC) AS rn
        FROM e, c{prev} c) WHERE rn = 1
    )"""

_KM_UPDATE = """
    c{i} AS (
      SELECT cid, list(av ORDER BY pos) AS cv FROM (
        SELECT a.cid, t.i AS pos, round(avg(a.v[t.i]), 6) AS av
        FROM a{i} a, range(1, 65) t(i) GROUP BY a.cid, t.i
      ) GROUP BY cid
    )"""


def _km_pack(cent: DataFrame) -> DataFrame:
    """Centroids travel as ONE row holding an array<struct<cid, cv>> —
    k×dim doubles — broadcast-cross-joined onto the corpus each round."""
    return cent.agg(
        F.sort_array(F.collect_list(F.struct("cid", "cv"))).alias("cents")
    )


def _km_assign(e: DataFrame, cent_arr: DataFrame) -> DataFrame:
    """Assignment is a pure map-side expression (array_max over
    (cs, -cid, cid) structs = max cosine, ties to smallest cid — the
    oracle's row_number order), so the corpus is NEVER shuffled for
    assignment."""
    best = F.array_max(
        F.transform(
            "cents",
            lambda c: F.struct(
                F.round(_cosine(F.col("v"), c["cv"]), 6).alias("cs"),
                (-c["cid"]).alias("ncid"),
                c["cid"].alias("cid"),
            ),
        )
    )
    return (
        e.crossJoin(F.broadcast(cent_arr))
        .withColumn("best", best)
        .select(
            "vec_id", "v",
            F.col("best.cid").alias("cid"), F.col("best.cs").alias("cs"),
        )
    )


def _km_update(assigned: DataFrame) -> DataFrame:
    """The only per-round shuffle: the (k·dim)-group centroid mean,
    map-side-combined from |corpus|·dim exploded rows down to k·dim
    groups."""
    return (
        assigned.select("cid", F.posexplode("v").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("val"), 6).alias("av"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "av"))),
                lambda s: s["av"],
            ).alias("cv")
        )
    )


def fit_spherical_kmeans(e: DataFrame) -> DataFrame:
    """The l19 trainer as a reusable stage (l3f persists its output):
    deterministic seeds (vec_id % KMEANS_K_MOD == 0), KMEANS_ROUNDS
    Lloyd rounds with 6dp centroid rounding so both engines iterate on
    bit-identical state. Returns the packed 1-row centroid frame. The
    whole fit is ONE lazy plan — no driver round-trips, no per-round
    jobs."""
    cents = _km_pack(
        e.filter(F.col("vec_id") % KMEANS_K_MOD == 0).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("cv")
        )
    )
    for _ in range(KMEANS_ROUNDS):
        cents = _km_pack(_km_update(_km_assign(e, cents)))
    return cents


@register(
    "l19_kmeans",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 125 = 0),
    """
    + ",\n    ".join(
        (_KM_ASSIGN.format(i=i, prev=i - 1).strip() + ",\n    " + _KM_UPDATE.format(i=i).strip())
        for i in range(1, KMEANS_ROUNDS + 1)
    )
    + ",\n    "
    + _KM_ASSIGN.format(i=KMEANS_ROUNDS + 1, prev=KMEANS_ROUNDS).strip()
    + f"""
    SELECT cid AS cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           round(avg(cs), 4)        AS mean_cos
    FROM a{KMEANS_ROUNDS + 1}
    GROUP BY cid ORDER BY cluster
    """,
    doc="L19: spherical k-means (Lloyd's, k=4, 2 update rounds, cosine "
    "assignment) — the clustering pass under SemDeDup (l17 takes labels "
    "as given; this BUILDS them) and IVF codebook training (l3d takes "
    "the codebook as given). Deterministic end-to-end: seeds are fixed "
    "vectors (vec_id % 125 = 0), assignment breaks ties by "
    "(cos 6dp DESC, cid ASC), centroid elements round to 6dp each "
    "round so both engines iterate on bit-identical state. Each round "
    "is one broadcast of k×64 doubles + one map-side assignment + one "
    "(k·dim)-group mean — the corpus shuffles NOTHING; per-round cost "
    "is one scan. The DuckDB oracle unrolls the same rounds as CTEs.",
    tags=("llm", "vector"),
)
def kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import sized_parallelism

    # Bytes-proportional parallelism, NOT core count: each Lloyd round
    # schedules every stage once, so a tiny corpus spread over all cores
    # pays per-task latency × cores × stages while tasks run microseconds
    # (measured at sf0.1: 32-way 2.3 s → 8-way 1.4 s, identical result).
    # The same rule scales to bytes/32 MB tasks at cluster data sizes.
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    ).repartition(sized_parallelism(sf_dir, "embeddings"))
    cents = fit_spherical_kmeans(e)
    return (
        _km_assign(e, cents)
        .groupBy(F.col("cid").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("cs"), 4).alias("mean_cos"),
        )
    )


# Product-quantization geometry (l3e): dim 64 = PQ_M subspaces x PQ_D dims,
# PQ_K centroids per subspace. Codebook rows are a deterministic data
# sample (vec_id % 31 == 1, 16 smallest) — production trains it with l19's
# k-means per subspace; the pipeline shape is identical.
PQ_M = 8
PQ_D = 8
PQ_K = 16


def _sq_l2_sql(a: str, b: str, n: int = PQ_D, base: int = 0) -> str:
    """Explicit n-term squared-L2 as generated SQL text — the same term
    ORDER and element-wise double casts run in Spark (F.expr, base=0
    subscripts) and DuckDB (base=1 subscripts), so both engines execute
    identical IEEE ops in identical order and the distances (hence the
    argmin codes) match EXACTLY, not approximately. Only the subscript
    base differs between the engines' array semantics."""
    terms = [
        f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE)) "
        f"* (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        for i in range(base, n + base)
    ]
    return " + ".join(terms)


# The PQ encode as CTE text, build_pq_codebook + _pq_subspace_dists +
# pq_encode in DuckDB: ``dists`` (vec_id, s, c, dd) is every vector's
# squared-L2 to every subspace centroid, ``codes`` (vec_id, s, code) its
# argmin per subspace (ties to the lower c, as min_by(c, struct(dd, c))).
# The one text of l3e's and l3f's oracles.
_PQ_CODES_ORACLE = f"""
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding
      FROM embeddings WHERE vec_id % 31 = 1 ORDER BY vec_id LIMIT {PQ_K}
    ),
    subs AS (SELECT unnest(range(0, {PQ_M})) AS s),
    subcb AS (
      SELECT s, c, embedding[s*{PQ_D}+1 : s*{PQ_D}+{PQ_D}] AS cent
      FROM cb, subs
    ),
    vecsub AS (
      SELECT vec_id, s, embedding[s*{PQ_D}+1 : s*{PQ_D}+{PQ_D}] AS sub
      FROM embeddings, subs
    ),
    dists AS (
      SELECT vec_id, v.s, c, {_sq_l2_sql("sub", "cent", base=1)} AS dd
      FROM vecsub v JOIN subcb cb ON cb.s = v.s
    ),
    codes AS (
      SELECT vec_id, s, c AS code
      FROM (
        SELECT vec_id, s, c,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, c) AS rn
        FROM dists
      ) WHERE rn = 1
    )"""


def build_pq_codebook(spark: SparkSession, e: DataFrame) -> DataFrame:
    """The PQ training stage (l3f persists its output): the 128-row
    (s, c, cent) subspace-centroid table, materialized so the codebook
    scan runs once per consumer. Deterministic data sample (production
    swaps in fit_spherical_kmeans per subspace; the pipeline shape is
    identical)."""
    from pyspark.sql import Window

    from mric_bak_etl_spark.tables import materialize

    cb = (
        e.filter(F.col("vec_id") % 31 == 1)
        .orderBy("vec_id")
        .limit(PQ_K)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("c"),
            "embedding",
        )
    )
    subs = spark.range(PQ_M).select(F.col("id").cast("int").alias("s"))
    return materialize(
        cb.crossJoin(subs).select(
            "s", "c",
            F.expr(f"slice(embedding, s*{PQ_D}+1, {PQ_D})").alias("cent"),
        )
    )


def _pq_subspace_dists(spark: SparkSession, e: DataFrame, subcb: DataFrame) -> DataFrame:
    """Per-(vector, subspace, centroid) exact squared-L2 — the shared
    ingest-time fan-out under both the corpus encode and the query
    distance table. Generated-SQL arithmetic (term-for-term identical in
    DuckDB) so codes match EXACTLY across engines."""
    subs = spark.range(PQ_M).select(F.col("id").cast("int").alias("s"))
    vecsub = (
        spread(e, "vec_id")
        .crossJoin(F.broadcast(subs))
        .select(
            "vec_id", "s",
            F.expr(f"slice(embedding, s*{PQ_D}+1, {PQ_D})").alias("sub"),
        )
    )
    return vecsub.join(F.broadcast(subcb), "s").select(
        "vec_id", "s", "c", F.expr(_sq_l2_sql("sub", "cent")).alias("dd")
    )


def pq_encode(spark: SparkSession, e: DataFrame, subcb: DataFrame) -> DataFrame:
    """The ingest-time PQ encode (l3f persists its output): each vector
    compresses to PQ_M one-byte codes — argmin as a min_by aggregate
    over the exploded subspace fan-out, map-side (codebook broadcast)."""
    return (
        _pq_subspace_dists(spark, e, subcb)
        .groupBy("vec_id", "s")
        .agg(F.expr("min_by(c, struct(dd, c))").alias("code"))
    )


@register(
    "l3e_pq_topk",
    oracle=f"""
    WITH {_PQ_CODES_ORACLE},
    qd AS (
      SELECT s, c, dd AS qdist FROM dists WHERE vec_id = 0
    ),
    adc AS (
      SELECT codes.vec_id, sum(qdist) AS dist
      FROM codes JOIN qd ON qd.s = codes.s AND qd.c = codes.code
      GROUP BY codes.vec_id
    )
    SELECT vec_id, round(dist, 4) AS pq_dist
    FROM adc ORDER BY dist, vec_id LIMIT 10
    """,
    doc="L3e: product-quantization ANN (the IVF-PQ scale path beyond "
    "l3d's coarse quantizer) — 64-dim vectors split into "
    f"{PQ_M} subspaces, each encoded as its nearest of {PQ_K} subspace "
    "centroids, so a vector compresses to 8 bytes and query distance "
    "becomes ADC: per-subspace (query, centroid) distances are "
    f"computed ONCE ({PQ_M}x{PQ_K} rows, broadcast) and each corpus "
    "vector's approximate distance is 8 table lookups + a sum — no "
    "full-vector math ever touches the corpus at query time. Encoding "
    "is map-side (codebook broadcast, argmin as a min_by aggregate "
    "over the exploded subspace fan-out); at 100 TB codes are "
    "precomputed at ingest and a query costs one broadcast-join + "
    "narrow agg over 8-byte codes. The DuckDB oracle mirrors the "
    "arithmetic TERM-FOR-TERM (shared generated SQL with explicit "
    "double casts), so codes and ADC distances match exactly — an "
    "approximate INDEX with an exact differential test. Codebook here "
    "is a deterministic data sample; production trains it per "
    "subspace with l19's k-means. Recall caveat, stated honestly: the "
    "fixture's embeddings are isotropic random — the PQ worst case (no "
    "cluster structure for the codebook to exploit), so candidate "
    "recall here is modest and asserted as a floor in tests; "
    "production PQ re-ranks the ADC candidate list with exact "
    "distances (l3's brute-force over candidates) and trains the "
    "codebook, recovering recall. The query's own row ranking first "
    "by ADC is the built-in self-retrieval sanity check.",
    tags=("llm", "similarity", "scale"),
)
def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    subcb = build_pq_codebook(spark, e)
    dists = _pq_subspace_dists(spark, e, subcb)
    codes = dists.groupBy("vec_id", "s").agg(
        F.expr("min_by(c, struct(dd, c))").alias("code")
    )
    qd = dists.filter(F.col("vec_id") == 0).select(
        F.col("s").alias("qs"), F.col("c").alias("qc"), F.col("dd").alias("qdist")
    )
    adc = (
        codes.join(
            F.broadcast(qd),
            (F.col("qs") == F.col("s")) & (F.col("qc") == F.col("code")),
        )
        .groupBy("vec_id")
        .agg(F.sum("qdist").alias("dist"))
    )
    return (
        adc.orderBy("dist", "vec_id")
        .limit(10)
        .select("vec_id", F.round("dist", 4).alias("pq_dist"))
    )


# ---------------------------------------------------------------------------
# L3f: the ANN ladder's persisted-artifact face (write-audit-publish on
# INDEX state: trained IVF centroids + corpus cell assignments + PQ
# codebook + corpus PQ codes, partitioned by cell)
# ---------------------------------------------------------------------------

ANN_NPROBE = 2      # IVF cells probed per query
ANN_SHORTLIST = 20  # ADC shortlist re-ranked with exact cosine


def _ann_artifact_base(sf_dir: str) -> str:
    """Keyed by the full index config: k-means seeding and rounds, PQ
    geometry, nprobe."""
    config = (
        f"annidx-v2-km{KMEANS_K_MOD}r{KMEANS_ROUNDS}"
        f"-pq{PQ_M}x{PQ_K}-np{ANN_NPROBE}"
    )
    return artifact_dir(sf_dir, "embeddings", "mric_ann_artifacts", config)


def publish_ann_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-missing for the ANN index artifacts — the ingest-time
    pass l3d/l3e's docstrings promise ("codes are precomputed at ingest",
    "assignment stored as a partition column") made real:

    - ``centroids``: the l19-TRAINED spherical-k-means centroids
      (fit_spherical_kmeans — the training stage the apply path must
      never re-run);
    - ``codebook``: the PQ subspace-centroid table (build_pq_codebook);
    - ``codes``: every corpus vector's PQ codes joined with its IVF cell
      assignment, written PARTITIONED BY cell — so a query's nprobe cell
      filter becomes parquet PARTITION PRUNING: the scan physically reads
      ~nprobe/k of the code files, no join needed to select candidates.

    Audit (from the staged parquet): at least one and at most one
    centroid per deterministic seed, no null ids, full-width 64-dim
    vectors; exactly PQ_M x PQ_K codebook rows of PQ_D-dim centroids;
    the code table covers every corpus vector exactly PQ_M times, codes
    in [0, PQ_K), and every cell id is a real centroid id. Then one
    atomic rename (`artifacts.publish`).

    At 100 TB: train on a sample, assign + encode in one corpus scan at
    ingest; a query then costs a k-row centroid read, a partition-pruned
    scan of nprobe cells' 8-byte codes, a 128-row broadcast, and an
    exact re-rank of ANN_SHORTLIST raw vectors — the corpus's float
    embeddings are never scanned at query time."""
    import os

    from mric_bak_etl_spark.tables import sized_parallelism

    def write(staging: str) -> None:
        e_raw = load_table(spark, sf_dir, "embeddings")
        e = e_raw.select("vec_id", _as_double().alias("v")).repartition(
            sized_parallelism(sf_dir, "embeddings")
        )
        cents_arr = fit_spherical_kmeans(e)
        centroids = cents_arr.select(F.explode("cents").alias("c")).select(
            F.col("c.cid").alias("cid"), F.col("c.cv").alias("cv")
        )
        centroids.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staging, "centroids")
        )
        assignments = _km_assign(e, cents_arr).select("vec_id", "cid")
        subcb = build_pq_codebook(spark, e_raw)
        subcb.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staging, "codebook")
        )
        codes = pq_encode(spark, e_raw, subcb)
        # One ingest-time shuffle (codes x assignments on vec_id) buys
        # every future query partition pruning on the cell column.
        codes.join(assignments, "vec_id").select(
            "cid", "vec_id", "s", "code"
        ).write.mode("overwrite").partitionBy("cid").parquet(
            os.path.join(staging, "codes")
        )

        n_corpus = e_raw.count()
        n_seeds = e_raw.filter(F.col("vec_id") % KMEANS_K_MOD == 0).count()
        c = spark.read.parquet(os.path.join(staging, "centroids"))
        c_row = c.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size("cv")).alias("min_dim"),
            F.max(F.size("cv")).alias("max_dim"),
            F.sum(F.col("cid").isNull().cast("int")).alias("nulls"),
        ).collect()[0]
        cb_row = spark.read.parquet(os.path.join(staging, "codebook")).agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size("cent")).alias("min_dim"),
            F.max(F.size("cent")).alias("max_dim"),
        ).collect()[0]
        k = spark.read.parquet(os.path.join(staging, "codes"))
        k_row = k.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("vec_id").alias("n_vecs"),
            F.min("code").alias("min_code"),
            F.max("code").alias("max_code"),
        ).collect()[0]
        bad_cells = (
            k.select("cid")
            .distinct()
            .join(c.select("cid"), "cid", "left_anti")
            .count()
        )
        # Lloyd rounds legitimately DROP clusters that go empty
        # (duplicate seed vectors collapse to one cid via the tiebreak —
        # the x10 verbatim-copy probe corpus found exactly this), so the
        # centroid count is bounded by the seed count, not equal to it.
        ok = (
            1 <= c_row["n"] <= n_seeds
            and (c_row["nulls"] or 0) == 0
            and c_row["min_dim"] == c_row["max_dim"] == 64
            and cb_row["n"] == PQ_M * PQ_K
            and cb_row["min_dim"] == cb_row["max_dim"] == PQ_D
            and k_row["n"] == n_corpus * PQ_M
            and k_row["n_vecs"] == n_corpus
            and (k_row["min_code"] or 0) >= 0
            and (k_row["max_code"] or 0) < PQ_K
            and bad_cells == 0
        )
        if not ok:
            raise ValueError(
                f"ANN-index audit failed (centroids {tuple(c_row)}, "
                f"codebook {tuple(cb_row)}, codes {tuple(k_row)}, unknown "
                f"cells {bad_cells}) — NOT published"
            )

    base = _ann_artifact_base(sf_dir)
    return publish(os.path.join(base, "published"), write)


def load_ann_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The apply-only artifact read. A published dir that does not match
    its manifest was planted or tampered with: `artifacts.publish`
    refuses it loudly, with no Spark job. Returns (centroids, codebook,
    codes), lazily, so the caller's cell filter prunes partitions."""
    import os

    path = publish_ann_index(spark, sf_dir)
    return tuple(
        spark.read.parquet(os.path.join(path, name))
        for name in ("centroids", "codebook", "codes")
    )


def _l3f_km_ctes() -> str:
    """The l19 training rounds + final assignment, unrolled for the l3f
    oracle (same _KM_ASSIGN/_KM_UPDATE fragments l19's own oracle uses,
    so the re-learned trajectory is bit-identical by construction)."""
    parts = [
        f"c0 AS (SELECT vec_id AS cid, v AS cv FROM e "
        f"WHERE vec_id % {KMEANS_K_MOD} = 0)"
    ]
    for i in range(1, KMEANS_ROUNDS + 1):
        parts.append(_KM_ASSIGN.format(i=i, prev=i - 1).strip())
        parts.append(_KM_UPDATE.format(i=i).strip())
    parts.append(
        _KM_ASSIGN.format(i=KMEANS_ROUNDS + 1, prev=KMEANS_ROUNDS).strip()
    )
    return ",\n    ".join(parts)


_L3F_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {_l3f_km_ctes()},
    qq AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
    probe AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (
                 ORDER BY round(list_cosine_similarity(c.cv, qq.qv), 6) DESC,
                          c.cid ASC) AS rn
        FROM c{KMEANS_ROUNDS} c, qq) WHERE rn <= {ANN_NPROBE}
    ),
    cand AS (
      SELECT a.vec_id FROM a{KMEANS_ROUNDS + 1} a JOIN probe USING (cid)
      WHERE a.vec_id <> {QUERY_VEC_ID}
    ),
    {_PQ_CODES_ORACLE},
    qd AS (
      SELECT s, c, dd AS qdist FROM dists WHERE vec_id = {QUERY_VEC_ID}
    ),
    adc AS (
      SELECT codes.vec_id, sum(qdist) AS dist
      FROM codes
      JOIN cand ON cand.vec_id = codes.vec_id
      JOIN qd ON qd.s = codes.s AND qd.c = codes.code
      GROUP BY codes.vec_id
    ),
    shortlist AS (
      SELECT vec_id FROM adc ORDER BY dist, vec_id LIMIT {ANN_SHORTLIST}
    )
    SELECT e.vec_id, round(list_cosine_similarity(e.v, qq.qv), 4) AS cosine
    FROM shortlist JOIN e USING (vec_id), qq
    ORDER BY cosine DESC, vec_id ASC
    LIMIT {TOP_K}
    """


@register(
    "l3f_ann_persisted",
    oracle=_L3F_ORACLE,
    doc="L3f: the ANN ladder's PERSISTED-ARTIFACT face (the fifth "
    "artifact kind: l26c = tokenizer, m14 = media, l43 = model, "
    "l42b/l42c = dedup indexes, l3f = ANN INDEX) — publish_ann_index "
    "trains the l19 spherical-k-means centroids and the l3e PQ "
    "codebook ONCE per corpus fingerprint, assigns + PQ-encodes the "
    "whole corpus in the same ingest pass, and writes the codes "
    "PARTITIONED BY IVF CELL; the query face is then apply-only "
    "IVF-PQ search, the production shape l3d/l3e each demonstrated "
    "half of: nearest-nprobe cells from the k persisted centroids "
    "(tiny read; the cell list is bounded model-state, not data), a "
    "PARTITION-PRUNED scan of just those cells' 8-byte codes, ADC "
    "scoring against a 128-row broadcast distance table, and an exact "
    "cosine re-rank of the ADC shortlist (recall-recovery, l3e's "
    "stated production fix). NO training anywhere on the apply path — "
    "pinned by test (fit_spherical_kmeans and build_pq_codebook "
    "monkeypatched to raise once the artifact exists). The value "
    "oracle RE-LEARNS everything inline — the l19 Lloyd rounds "
    "unrolled as CTEs (bit-identical 6dp trajectory), the PQ codes "
    "from the shared generated-SQL arithmetic — and must agree with "
    "the probe of the persisted parquet, the same closed loop "
    "l42b proved for index state. At 100 TB: query cost is k "
    "centroid rows + nprobe/k of the code bytes + ANN_SHORTLIST raw "
    "vectors; the corpus's float embeddings are never scanned at "
    "query time, and re-ingest amortizes training exactly like l26c "
    "amortizes BPE merges.",
    tags=("llm", "vector", "artifact"),
)
def ann_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents, subcb, codes = load_ann_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )
    # Probe selection: k rows x 1 query — a bounded model-state read
    # (the l19/g1 driver-boundary rule), collected so the cell filter
    # is a LITERAL list and the code scan partition-prunes.
    probe = [
        r["cid"]
        for r in cents.crossJoin(F.broadcast(q))
        .select(
            "cid", F.round(_cosine(F.col("cv"), F.col("qv")), 6).alias("cs")
        )
        .orderBy(F.col("cs").desc(), F.col("cid").asc())
        .limit(ANN_NPROBE)
        .collect()
    ]
    q_raw = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") == QUERY_VEC_ID
    )
    qd = _pq_subspace_dists(spark, q_raw, subcb).select(
        F.col("s").alias("qs"), F.col("c").alias("qc"),
        F.col("dd").alias("qdist"),
    )
    adc = (
        codes.filter(
            F.col("cid").isin(probe) & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .join(
            F.broadcast(qd),
            (F.col("qs") == F.col("s")) & (F.col("qc") == F.col("code")),
        )
        .groupBy("vec_id")
        .agg(F.sum("qdist").alias("dist"))
    )
    shortlist = adc.orderBy("dist", "vec_id").limit(ANN_SHORTLIST)
    return (
        shortlist.join(e, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(_cosine(F.col("v"), F.col("qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )
