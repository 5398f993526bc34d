"""Scalar function families (SURVEY.md §2B F1-F7) + SQL entry-point parity (Q1).

Reference lineage: the reference's entire expression surface is string
``split`` / ``Substring`` / ``Contains`` on blob names
(`src/bak_unload.ps1:29-35`) — covered by F1; F2-F7 are the standard
function families any downstream relational stage needs.

Scale notes (100 TB): every expression here is a built-in Catalyst
expression — JVM-side, whole-stage-codegen'd, null-safe, no Python
round-trip. That is the point of this module: the function surface stays on
the fast path; Python appears nowhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.session import scratch_dir
from mric_bak_etl_spark.tables import load_table, register_views


@register(
    "f1_strings",
    oracle="""
    SELECT doc_id,
           upper(lang)                                   AS lang_up,
           lower(source)                                 AS source_low,
           CAST(length(text) AS BIGINT)                  AS text_len,
           substring(text, 1, 12)                        AS head12,
           CAST(contains(text, 'data') AS BOOLEAN)       AS has_data,
           concat(lang, ':', source)                     AS lang_source,
           trim(concat(' ', source, ' '))                AS trimmed,
           string_split(text, ' ')[1]                    AS first_word,
           regexp_extract(text, '([a-z]+)', 1)           AS first_alpha_run,
           regexp_replace(text, '\\s+', '_', 'g')        AS squashed
    FROM documents
    ORDER BY doc_id
    """,
    doc="F1: string family — split/substring/contains (the reference's "
    "expression surface, src/bak_unload.ps1:29-35) plus concat/case/trim/"
    "regexp; all codegen'd Catalyst expressions.",
    tags=("functions",),
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.upper("lang").alias("lang_up"),
            F.lower("source").alias("source_low"),
            F.length("text").cast("bigint").alias("text_len"),
            F.substring("text", 1, 12).alias("head12"),
            F.col("text").contains("data").alias("has_data"),
            F.concat_ws(":", "lang", "source").alias("lang_source"),
            F.trim(F.concat(F.lit(" "), F.col("source"), F.lit(" "))).alias("trimmed"),
            F.split(F.col("text"), " ").getItem(0).alias("first_word"),
            F.regexp_extract("text", r"([a-z]+)", 1).alias("first_alpha_run"),
            F.regexp_replace("text", r"\s+", "_").alias("squashed"),
        )
    )


@register(
    "f2_datetime",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER)      AS order_year,
           CAST(month(o_orderdate) AS INTEGER)     AS order_month,
           CAST(day(o_orderdate) AS INTEGER)       AS order_day,
           date_trunc('month', o_orderdate)        AS month_start,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT)
                                                   AS days_since_epoch_start,
           CAST(epoch(o_orderdate) AS BIGINT)      AS unix_ts
    FROM orders
    ORDER BY o_orderkey
    """,
    doc="F2: date/time family — year/month/day extraction, date_trunc, "
    "datediff, to_date, unix epoch; session timezone pinned to UTC so "
    "epoch values match DuckDB's naive timestamps.",
    tags=("functions",),
)
def datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.dayofmonth("o_orderdate").alias("order_day"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            # Stringified: DATE round-trips differently through pandas on the
            # two engines (date objects vs datetime64), breaking value hashes.
            F.to_date("o_orderdate").cast("string").alias("order_date"),
            F.datediff(
                F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp_ntz")
            ).cast("bigint").alias("days_since_epoch_start"),
            F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).alias("unix_ts"),
        )
    )


@register(
    "f3_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 1)                       AS price_r1,
           round(abs(l_discount - 0.05), 4)                AS disc_dev,
           CAST(ceil(l_quantity) AS BIGINT)                AS qty_ceil,
           CAST(floor(l_quantity) AS BIGINT)               AS qty_floor,
           round(pow(1 + l_tax, 2), 6)                     AS tax_sq,
           round(sqrt(l_extendedprice), 6)                 AS price_sqrt,
           CAST(((l_orderkey % 7) + 7) % 7 AS BIGINT)      AS key_pmod7
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="F3: math family — round/abs/ceil/floor/pow/sqrt/pmod (pmod spelled "
    "((x%n)+n)%n in the oracle; DuckDB lacks pmod).",
    tags=("functions",),
)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 1).alias("price_r1"),
            F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
            F.ceil("l_quantity").alias("qty_ceil"),
            F.floor("l_quantity").alias("qty_floor"),
            F.round(F.pow(1 + F.col("l_tax"), 2), 6).alias("tax_sq"),
            F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
            F.pmod(F.col("l_orderkey"), F.lit(7)).cast("bigint").alias("key_pmod7"),
        )
    )


@register(
    "f4_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 250000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END                              AS price_band,
           coalesce(nullif(o_orderstatus, 'O'), 'open')     AS status_or_open,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN TRUE ELSE FALSE END
                                                            AS is_urgent
    FROM orders
    ORDER BY o_orderkey
    """,
    doc="F4: conditional family — CASE/when-otherwise, coalesce, nullif, IN.",
    tags=("functions",),
)
def conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.when(F.col("o_totalprice") >= 250000, "high")
            .when(F.col("o_totalprice") >= 100000, "mid")
            .otherwise("low")
            .alias("price_band"),
            F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("open")).alias(
                "status_or_open"
            ),
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_urgent"),
        )
    )


@register(
    "f5_arrays",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER)                       AS dim,
           CAST(embedding[1] AS DOUBLE)                          AS first_elem,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4)
                                                                 AS vec_sum,
           round(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4)
                                                                 AS vec_max,
           CAST(length(list_filter(embedding, x -> x > 0)) AS INTEGER)
                                                                 AS n_positive
    FROM embeddings
    ORDER BY vec_id
    """,
    doc="F5: array family over array<float> embeddings — size, element "
    "access, fold (aggregate), element-wise transform, filter; all "
    "higher-order Catalyst expressions, no UDF.",
    tags=("functions", "arrays"),
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        e.select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.col("embedding").getItem(0).cast("double").alias("first_elem"),
            F.round(
                F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x), 4
            ).alias("vec_sum"),
            F.round(F.array_max(as_double), 4).alias("vec_max"),
            F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_positive"),
        )
    )


@register(
    "f6_map_struct",
    oracle="""
    SELECT event_id,
           'k'                                              AS first_key,
           CAST(json_extract(props, '$.k') AS INTEGER)      AS k_value,
           event_type                                       AS s_type,
           round(value, 4)                                  AS s_value
    FROM events
    ORDER BY event_id
    """,
    doc="F6: map/struct — build map from parsed JSON, read via map_keys/"
    "element_at; pack/unpack a struct. Oracle computes the same scalars "
    "straight from JSON (results match; construction path is the point).",
    tags=("functions",),
)
def map_struct_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k_val = F.get_json_object("props", "$.k").cast("int")
    with_map = ev.select(
        "event_id",
        F.create_map(F.lit("k"), k_val).alias("m"),
        F.struct(F.col("event_type").alias("t"), F.col("value").alias("v")).alias("s"),
    )
    return (
        with_map.select(
            "event_id",
            F.map_keys("m").getItem(0).alias("first_key"),
            F.element_at("m", "k").alias("k_value"),
            F.col("s.t").alias("s_type"),
            F.round(F.col("s.v"), 4).alias("s_value"),
        )
    )


@register(
    "f7_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER)  AS k_get,
           CAST(json_extract(props, '$.k') AS INTEGER)  AS k_from_json,
           CAST(json_extract(props, '$.missing') AS INTEGER) AS missing_field
    FROM events
    ORDER BY event_id
    """,
    doc="F7: JSON family — get_json_object path extraction and from_json "
    "with an explicit schema (schema_of_json used in tests); missing "
    "paths yield NULL on both engines.",
    tags=("functions", "json"),
)
def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json(
        "props", T.StructType([T.StructField("k", T.IntegerType())])
    )
    return (
        ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k_get"),
            parsed.getField("k").alias("k_from_json"),
            F.get_json_object("props", "$.missing").cast("int").alias("missing_field"),
        )
    )


@register(
    "q1_sql_parity",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="Q1: SQL entry point — the flagship aggregate expressed as a SQL "
    "string over temp views; Catalyst parses to the same logical plan as "
    "the DataFrame API (verified in tests by comparing optimized plans).",
    tags=("sql",),
)
def sql_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, only=("lineitem", "part"))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@register(
    "f8_string_distance",
    oracle="""
    SELECT p_brand,
           round(avg(levenshtein(p_name, p_type)), 4) AS avg_name_type_dist,
           CAST(min(levenshtein(p_name, p_brand)) AS INT) AS min_name_brand_dist
    FROM part
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    doc="F8: string-distance functions — levenshtein edit distance as a "
    "codegen'd expression (fuzzy-matching / dedup-blocking primitive), "
    "aggregated per brand. Quadratic per-pair in string length but "
    "embarrassingly parallel across rows; at scale run on LSH-blocked "
    "candidates, never the cross product.",
    tags=("function", "string"),
)
def string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(
            F.round(F.avg(F.levenshtein("p_name", "p_type")), 4).alias(
                "avg_name_type_dist"
            ),
            F.min(F.levenshtein("p_name", "p_brand")).cast("int").alias(
                "min_name_brand_dist"
            ),
        )
    )


@register(
    "f9_hashing",
    oracle="""
    SELECT CAST(count(DISTINCT md5(text)) AS BIGINT)    AS n_md5,
           CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_sha256,
           min(md5(text))                               AS min_md5
    FROM documents
    """,
    doc="F9: cryptographic hash functions — md5/sha2 as codegen'd "
    "expressions, the content-addressing primitives under exact dedup "
    "(l1) and snapshot fingerprinting (r16). Engine-independent outputs "
    "(unlike xxhash64), hence directly oracle-comparable.",
    tags=("function", "string"),
)
def hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.countDistinct(F.md5("text")).cast("bigint").alias("n_md5"),
        F.countDistinct(F.sha2("text", 256)).cast("bigint").alias("n_sha256"),
        F.min(F.md5("text")).alias("min_md5"),
    )


@register(
    "f10_array_advanced",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id < 50
    )
    SELECT vec_id,
           round(list_max(v), 6)                         AS max_elem,
           round(v[1] + v[64], 6)                        AS ends_sum,
           list_position(v, list_max(v))                 AS argmax_pos,
           round(list_sum(list_sort(v)[60:64]), 6)       AS top5_sum
    FROM e
    ORDER BY vec_id
    """,
    doc="F10: advanced array functions — sort, position/argmax, "
    "element_at by index, sliced sum-of-top-k over the embedding "
    "vectors; all codegen'd per-row expressions (the building blocks "
    "of vector post-processing without any UDF). Per-row cost is "
    "O(d log d) for the sort — fine at d=64; at large d move top-k "
    "into an aggregate.",
    tags=("function", "array"),
)
def array_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return (
        e.select(
            "vec_id",
            F.round(F.array_max("v"), 6).alias("max_elem"),
            F.round(F.element_at("v", 1) + F.element_at("v", 64), 6).alias("ends_sum"),
            F.array_position("v", F.array_max("v")).alias("argmax_pos"),
            F.round(
                F.aggregate(
                    F.slice(F.array_sort("v"), 60, 5), F.lit(0.0), lambda a, x: a + x
                ),
                6,
            ).alias("top5_sum"),
        )
    )


@register(
    "f11_datetime_advanced",
    oracle="""
    SELECT CAST(quarter(o_orderdate) AS INT)            AS q,
           CAST(count(*) AS BIGINT)                     AS n_orders,
           CAST(min(last_day(CAST(o_orderdate AS DATE))) AS VARCHAR)
                                                        AS first_month_end,
           CAST(max(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH) AS DATE)::VARCHAR
                                                        AS max_plus_quarter,
           CAST(sum(CASE WHEN dayofweek(o_orderdate) IN (0, 6)
                    THEN 1 ELSE 0 END) AS BIGINT)       AS weekend_orders
    FROM orders
    GROUP BY q
    ORDER BY q
    """,
    doc="F11: advanced date/time — quarter bucketing, last_day (month-end "
    "snapping for calendar joins), add_months arithmetic, weekend "
    "detection. DATE-typed outputs stringified for the cross-engine "
    "compare; dayofweek normalized (Spark is 1=Sunday, DuckDB "
    "0=Sunday). All codegen'd; at scale these are the derived columns a "
    "date dimension table precomputes once.",
    tags=("function", "datetime"),
)
def datetime_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.quarter("o_orderdate").cast("int").alias("q"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min(F.last_day("o_orderdate")).cast("string").alias("first_month_end"),
            F.max(F.add_months(F.col("o_orderdate").cast("date"), 3))
            .cast("string")
            .alias("max_plus_quarter"),
            F.sum(F.dayofweek("o_orderdate").isin(1, 7).cast("int"))
            .cast("bigint")
            .alias("weekend_orders"),
        )
    )


@register(
    "f12_bitwise",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey & 255 AS BIGINT)         AS band,
           CAST(o_orderkey | 4096 AS BIGINT)        AS bor,
           CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS bxor,
           CAST(o_orderkey << 2 AS BIGINT)          AS shl,
           CAST(o_orderkey >> 3 AS BIGINT)          AS shr,
           CAST(bit_count(o_orderkey) AS INT)       AS popcount
    FROM orders
    WHERE o_orderkey % 13 = 0
    ORDER BY o_orderkey
    """,
    doc="F12: bitwise family — AND/OR/XOR, shifts, popcount: the "
    "primitives under hash bucketing, bloom probes and bitmask flags "
    "(SimHash's hamming distance is bit_count(xor(a,b)), llm/dedup.py). "
    "All codegen'd JVM intrinsics (Long.bitCount etc.), zero shuffle.",
    tags=("functions",),
)
def bitwise_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).cast("bigint").alias("band"),
        k.bitwiseOR(F.lit(4096)).cast("bigint").alias("bor"),
        k.bitwiseXOR(F.col("o_custkey")).cast("bigint").alias("bxor"),
        F.shiftleft(k, 2).cast("bigint").alias("shl"),
        F.shiftright(k, 3).cast("bigint").alias("shr"),
        F.bit_count(k).cast("int").alias("popcount"),
    )


@register(
    "f13_date_spine",
    oracle="""
    WITH days AS (
      SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-06-30',
                                    INTERVAL 1 DAY))::DATE AS d
    ),
    cnt AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             count(*) AS n, sum(o_totalprice) AS tot
      FROM orders GROUP BY 1
    )
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           CAST(coalesce(n, 0) AS BIGINT) AS n_orders,
           round(coalesce(tot, 0.0), 4) AS revenue
    FROM days LEFT JOIN cnt ON days.d = cnt.d
    ORDER BY day
    """,
    doc="F13: date-spine gap fill — a generated calendar (sequence + "
    "explode, the relational generator: no driver-side loop, no UDF) "
    "left-joined to daily aggregates so missing days surface as explicit "
    "zeros; the shape under every time-series report and forward-fill "
    "(w5). The spine is tiny and broadcasts; dates stringified because "
    "DATE columns don't round-trip the cross-engine compare.",
    tags=("functions", "generator"),
)
def date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-06-30").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    cnt = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("o_totalprice").alias("tot"),
    )
    return (
        F.broadcast(spine)
        .join(cnt, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_orders"),
            F.round(F.coalesce("tot", F.lit(0.0)), 4).alias("revenue"),
        )
    )


@register(
    "f14_variant",
    oracle="""
    SELECT event_type,
           CAST(count(*) FILTER (WHERE k IS NOT NULL) AS BIGINT) AS n_with_k,
           CAST(min(k) AS INT) AS min_k,
           CAST(max(k) AS INT) AS max_k,
           round(avg(k), 4) AS avg_k
    FROM (
      SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS k
      FROM events
    )
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="F14: VARIANT semi-structured type (Spark 4) — parse_json into the "
    "binary-encoded VARIANT once, then typed variant_get path extraction; "
    "unlike f7's get_json_object (string re-parse per access) the parse "
    "cost is paid once per row however many paths are read, which is the "
    "semi-structured scale posture. Oracle reads the same paths with "
    "DuckDB's JSON extraction.",
    tags=("functions", "variant"),
)
def variant_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    typed = ev.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
    )
    return (
        typed.groupBy("event_type")
        .agg(
            F.count("k").cast("bigint").alias("n_with_k"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


@register(
    "f15_url",
    oracle="""
    WITH urls AS (
      SELECT 'https://' || source || '.example.com/' || lang || '/doc-'
               || doc_id || '?ref=r' || (doc_id % 7) AS url
      FROM documents
    ),
    parsed AS (
      SELECT regexp_extract(url, '^([a-z]+)://', 1) AS proto,
             regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
             regexp_extract(url, '^[a-z]+://[^/]+([^?]*)', 1) AS path,
             regexp_extract(url, 'ref=([^&]+)', 1) AS ref
      FROM urls
    )
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
           CAST(count(DISTINCT ref) AS BIGINT) AS n_refs,
           min(proto) AS proto
    FROM parsed GROUP BY host ORDER BY host
    """,
    doc="F15: URL functions — parse_url HOST/PATH/QUERY-key extraction "
    "over synthesized per-doc URLs (the domain-grouping primitive under "
    "web-corpus curation: per-host crawl stats, domain blocklists, "
    "URL-level dedup keys). parse_url is a codegen'd JVM expression; "
    "the oracle mirrors it with regexp extraction. Host-grain agg "
    "after a pure projection — one shuffle on a low-cardinality key.",
    tags=("functions", "url"),
)
def url_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=r"),
        (F.col("doc_id") % 7).cast("string"),
    )
    parsed = d.select(
        F.parse_url(url, F.lit("PROTOCOL")).alias("proto"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("ref")).alias("ref"),
    )
    return (
        parsed.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.countDistinct("path").cast("bigint").alias("n_paths"),
            F.countDistinct("ref").cast("bigint").alias("n_refs"),
            F.min("proto").alias("proto"),
        )
    )


@register(
    "f16_transcendental",
    oracle="""
    SELECT l_returnflag,
           round(avg(ln(l_quantity + 1.0)), 4)        AS avg_log_qty,
           round(avg(exp(-l_quantity / 10.0)), 4)     AS avg_exp_decay,
           round(avg(sqrt(l_extendedprice)), 4)       AS avg_sqrt_price,
           round(avg(pow(l_discount + 1.0, 1.5)), 6)  AS avg_pow_disc
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="F16: transcendental family — ln/exp/sqrt/pow as codegen'd JVM "
    "expressions (the log-scaling, decay-weighting and root transforms "
    "feature pipelines apply before aggregation). Cross-engine floating "
    "parity holds because both engines use correctly-rounded libm cores; "
    "aggregates still round defensively (summation order differs).",
    tags=("functions", "math"),
)
def transcendental_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.avg(F.log(F.col("l_quantity") + 1.0)), 4).alias("avg_log_qty"),
            F.round(F.avg(F.exp(-F.col("l_quantity") / 10.0)), 4).alias("avg_exp_decay"),
            F.round(F.avg(F.sqrt("l_extendedprice")), 4).alias("avg_sqrt_price"),
            F.round(F.avg(F.pow(F.col("l_discount") + 1.0, 1.5)), 6).alias("avg_pow_disc"),
        )
    )


_REACHABILITY_SQL = """
    WITH RECURSIVE edges AS (
      SELECT DISTINCT event_type AS src, next_type AS dst FROM (
        SELECT event_type,
               lead(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
      ) seq WHERE next_type IS NOT NULL
    ),
    reach(node, hops) AS (
      SELECT CAST('signup' AS {t}), 0
      UNION ALL
      SELECT e.dst, r.hops + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.hops < 4
    )
    SELECT node, CAST(min(hops) AS BIGINT) AS min_hops
    FROM reach GROUP BY node{order_by}
"""


@register(
    "q2_recursive_cte",
    oracle=_REACHABILITY_SQL.format(t="VARCHAR", order_by=" ORDER BY node"),
    doc="Q2: recursive CTE (Spark 4) — breadth-bounded reachability over "
    "the event-transition graph: which event types are reachable from "
    "'signup' and in how few hops. Spark executes WITH RECURSIVE as "
    "iterated UnionLoop steps (same engine mechanics l2e builds by hand "
    "for connected components — this is the declarative face); the "
    "depth guard bounds state on cyclic graphs exactly like an "
    "iteration cap. The same SQL text runs on DuckDB as the oracle, "
    "which alone adds an ORDER BY for readability.",
    tags=("sql", "recursive"),
)
def recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, only=("events",))
    return spark.sql(_REACHABILITY_SQL.format(t="STRING", order_by=""))


@register(
    "f17_encoding",
    oracle="""
    SELECT doc_id,
           to_base64(encode(substring(text, 1, 24)))       AS b64,
           lower(hex(substring(text, 1, 12)))              AS hexed,
           decode(from_base64(to_base64(encode(substring(text, 1, 24)))))
                                                           AS roundtrip,
           lower(to_hex(doc_id))                           AS id_hex
    FROM documents
    ORDER BY doc_id
    LIMIT 200
    """,
    doc="F17: binary encoding family — base64/hex encode-decode over text "
    "prefixes plus integer-to-hex: the wire formats payload columns "
    "cross system boundaries in (JSON-embedded binary, content "
    "addressing, URL-safe ids). The base64 round-trip lands back on the "
    "original string on both engines — an identity check that the "
    "binary<->string boundary is lossless.",
    tags=("functions", "encoding"),
)
def encoding_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    prefix = F.substring("text", 1, 24)
    b64 = F.base64(F.encode(prefix, "UTF-8"))
    return (
        d.select(
            "doc_id",
            b64.alias("b64"),
            F.lower(F.hex(F.substring("text", 1, 12))).alias("hexed"),
            F.decode(F.unbase64(b64), "UTF-8").alias("roundtrip"),
            F.lower(F.hex("doc_id")).alias("id_hex"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


@register(
    "f18_try_family",
    oracle="""
    SELECT
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(count(*) FILTER (WHERE try_cast(o_orderpriority AS INT) IS NULL)
           AS BIGINT)          AS n_bad_casts,
      CAST(count(*) FILTER (WHERE o_custkey % 5 = 0) AS BIGINT)
                               AS n_div_by_zero,
      round(sum(CASE WHEN o_custkey % 5 <> 0
                     THEN o_totalprice / (o_custkey % 5) END), 4)
                               AS sum_safe_div,
      CAST(count(try_cast(substring(o_orderpriority, 1, 1) AS INT))
           AS BIGINT)          AS n_good_prefix_casts
    FROM orders
    """,
    doc="F18: try_* error-safe family — try_cast and try_divide turn the "
    "malformed-value crash into a NULL (ANSI mode's row-level escape "
    "hatch): at 100 TB a single dirty row must not kill a 6-hour job, "
    "and NULL-counting the failures doubles as the data-quality metric. "
    "DuckDB mirrors try_divide with a CASE guard (its / already yields "
    "NULL on zero); both engines agree row-for-row on what fails.",
    tags=("functions", "errors"),
)
def try_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count(
            F.when(F.col("o_orderpriority").try_cast("int").isNull(), 1)
        )
        .cast("bigint")
        .alias("n_bad_casts"),
        F.count(F.when(F.col("o_custkey") % 5 == 0, 1))
        .cast("bigint")
        .alias("n_div_by_zero"),
        F.round(
            F.sum(F.try_divide("o_totalprice", F.col("o_custkey") % 5)), 4
        ).alias("sum_safe_div"),
        F.count(F.substring("o_orderpriority", 1, 1).try_cast("int"))
        .cast("bigint")
        .alias("n_good_prefix_casts"),
    )


@register(
    "f19_malformed_json",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN '{"lang": "' || lang || '", "n": '
                  ELSE '{"lang": "' || lang || '", "n": ' || n_chars || '}'
             END AS payload
      FROM documents
    )
    SELECT
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(count(*) FILTER (WHERE json_extract_string(
             try_cast(payload AS JSON), '$.n') IS NULL)
           AS BIGINT) AS n_corrupt,
      CAST(sum(CAST(json_extract_string(try_cast(payload AS JSON), '$.n')
                    AS BIGINT)) AS BIGINT) AS sum_n,
      CAST(count(DISTINCT CASE WHEN json_extract_string(
               try_cast(payload AS JSON), '$.n') IS NOT NULL
             THEN json_extract_string(try_cast(payload AS JSON), '$.lang')
             END) AS BIGINT) AS n_langs
    FROM raw
    """,
    doc="F19: malformed-record semantics — PERMISSIVE-mode ingestion in "
    "expression form: from_json salvages the parseable prefix of a "
    "corrupt payload (partial-row recovery) and NULLs what's missing "
    "instead of failing the job; the missing-required-field count is "
    "the quality metric and downstream aggregates skip it — the JSON "
    "mirror of f18's try_* discipline (a corrupted shard in a 100 TB "
    "feed must cost rows, not the job). Every 7th payload is truncated "
    "mid-object deterministically so both engines see identical dirt.",
    tags=("functions", "json", "errors"),
)
def malformed_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    payload = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit('{"lang": "'), F.col("lang"), F.lit('", "n": ')),
    ).otherwise(
        F.concat(
            F.lit('{"lang": "'),
            F.col("lang"),
            F.lit('", "n": '),
            F.col("n_chars").cast("string"),
            F.lit("}"),
        )
    )
    parsed = d.select(
        F.from_json(payload, "lang string, n bigint").alias("j")
    )
    return parsed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count(F.when(F.col("j.n").isNull(), 1)).cast("bigint").alias("n_corrupt"),
        F.sum("j.n").cast("bigint").alias("sum_n"),
        F.countDistinct(
            F.when(F.col("j.n").isNotNull(), F.col("j.lang"))
        ).cast("bigint").alias("n_langs"),
    )


@register(
    "f20_xml",
    oracle="""
    SELECT regexp_extract(xml, '<p>(.*?)</p>', 1) AS prio,
           CAST(count(*) AS BIGINT)               AS n,
           round(sum(CAST(regexp_extract(xml, '<t>(.*?)</t>', 1) AS DOUBLE)), 2)
             AS total
    FROM (
      SELECT '<o><p>' || o_orderpriority || '</p><t>' ||
             printf('%.2f', round(o_totalprice, 2)) || '</t></o>' AS xml
      FROM orders
    ) GROUP BY prio ORDER BY prio
    """,
    doc="F20: XML surface — documents synthesized as XML payloads, parsed "
    "back two ways: xpath_string (path query over the raw string, the "
    "quick-probe form) and from_xml with an explicit schema (the typed, "
    "error-isolating form, Spark 4) — both codegen-free but JVM-side "
    "(no Python). The oracle regenerates the same payloads and extracts "
    "with regexes (DuckDB has no XML reader), which pins the synthesized "
    "format end-to-end. Scale note: schema-on-read XML is CPU-heavy; "
    "parse ONCE into typed columns at bronze, never per-query.",
    tags=("functions", "xml"),
)
def xml_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit("<o><p>"), F.col("o_orderpriority"), F.lit("</p><t>"),
        F.trim(F.to_char(F.round("o_totalprice", 2).cast("decimal(18,2)"), F.lit("999999990.00"))),
        F.lit("</t></o>"),
    )
    parsed = o.select(
        F.xpath_string(xml, F.lit("/o/p")).alias("prio"),
        F.from_xml(xml, "p STRING, t DOUBLE").alias("x"),
    )
    return (
        parsed.groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("x.t"), 2).alias("total"),
        )
    )


@register(
    "f21_intervals",
    oracle="""
    SELECT o_orderkey,
           CAST(date_diff('month', TIMESTAMP '1995-01-01',
                          date_trunc('month', o_orderdate)) AS DOUBLE)
             AS months_since_epoch,
           CAST(o_orderdate + INTERVAL 2 MONTH + INTERVAL 3 DAY AS VARCHAR)
             AS review_due,
           CAST(o_orderdate + INTERVAL 90 MINUTE AS VARCHAR) AS followup_ts,
           CAST(date_diff('day', o_orderdate,
                          o_orderdate + INTERVAL 2 MONTH + INTERVAL 3 DAY)
                AS BIGINT) AS span_days
    FROM orders WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey
    """,
    doc="F21: interval arithmetic — months_between over month-truncated "
    "stamps (integral by construction: Spark's fractional 31-day-month "
    "rule and DuckDB's date_diff only agree on whole months), "
    "make_interval year-month+day addition (calendar-aware: month adds "
    "clamp to month ends identically in both engines), make_dt_interval "
    "sub-day addition, and a timestamp difference back to days. "
    "Timestamps stringified for the cross-engine compare (DATE/TS "
    "columns hash differently, SKILL gotcha).",
    tags=("functions", "datetime"),
)
def interval_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    due = F.col("o_orderdate") + F.make_interval(F.lit(0), F.lit(2), F.lit(0), F.lit(3))
    return o.select(
        "o_orderkey",
        F.months_between(
            F.date_trunc("month", "o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        ).alias("months_since_epoch"),
        due.cast("string").alias("review_due"),
        (F.col("o_orderdate") + F.make_dt_interval(F.lit(0), F.lit(1), F.lit(30)))
        .cast("string")
        .alias("followup_ts"),
        F.datediff(due.cast("date"), F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("span_days"),
    )


@register(
    "f22_number_format",
    oracle="""
    SELECT o_orderkey,
           printf('%.2f', round(o_totalprice, 2)) AS amount_str,
           round(o_totalprice, 2)                 AS amount_back
    FROM orders WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey
    """,
    doc="F22: numeric formatting round-trip — to_char(decimal, fmt) "
    "renders, to_number(str, fmt) parses back (the ingest face: "
    "formatted CSV/report numbers -> typed). Spark's to_char has no FM "
    "modifier ('9' masks left-pad with blanks), so trim() canonicalizes "
    "before compare and re-parse — to_number accepts the shortened "
    "string. The round-trip equality (amount_back) is the real "
    "assertion: formatting loses nothing at 2 decimals.",
    tags=("functions",),
)
def number_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    dec = F.round("o_totalprice", 2).cast("decimal(18,2)")
    s = F.trim(F.to_char(dec, F.lit("999999990.00")))
    return o.select(
        "o_orderkey",
        s.alias("amount_str"),
        F.to_number(s, F.lit("999999990.00")).cast("double").alias("amount_back"),
    )


@register(
    "q3_session_variables",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_pricey
    FROM orders WHERE o_totalprice > 250000.0
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Q3: SQL session variables (Spark 4 DECLARE/SET VAR) — typed, "
    "session-scoped state referenced by name inside queries: the "
    "governed form of config-driven thresholds (no string interpolation "
    "into SQL, no injection surface, constant-folded at plan time so "
    "predicate pushdown sees the literal). The oracle inlines the same "
    "value.",
    tags=("sql",),
)
def session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, only=("orders",))
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("SET VAR price_floor = 250000.0")
    return spark.sql("""
        SELECT o_orderpriority, count(*) AS n_pricey
        FROM orders WHERE o_totalprice > price_floor
        GROUP BY o_orderpriority
    """)


@register(
    "q4_parameterized_sql",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)      AS n_orders,
           round(sum(o_totalprice), 2)   AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_totalprice > 150000.0
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="Q4: parameterized SQL — spark.sql(query, args={...}) named-marker "
    "binding: values bind AS values in the parsed plan (never string-"
    "spliced), so filters stay sargable and push down to the scan while "
    "the query text stays cacheable/auditable — the API-server face of "
    "the SQL entry point. The oracle inlines the same bindings.",
    tags=("sql",),
)
def parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, only=("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE o_orderdate >= :since AND o_totalprice > :floor
        GROUP BY o_orderstatus
        """,
        args={"since": "1996-01-01", "floor": 150000.0},
    )


@register(
    "f23_collation",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_ci_match,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                AS BIGINT)          AS n_cs_match
    FROM orders WHERE lower(o_orderpriority) = '1-urgent'
    """,
    doc="F23: string collation (Spark 4) — collate(col, 'UTF8_LCASE') "
    "makes comparisons case-insensitive AT THE TYPE LEVEL: the collation "
    "rides the column into every comparison/join/group downstream, "
    "instead of lower()-wrapping each predicate (which blocks stats and "
    "some pushdowns). The case-sensitive recount inside the same pass "
    "pins both behaviors; the oracle mirrors with lower() since DuckDB "
    "collations are expression-level.",
    tags=("functions", "sql"),
)
def collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, only=("embeddings", "orders"))
    return spark.sql("""
        SELECT count(*) AS n_ci_match,
               sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                 AS n_cs_match
        FROM orders WHERE collate(o_orderpriority, 'UTF8_LCASE') = '1-urgent'
    """)


@register(
    "f24_higher_order_complete",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT vec_id,
           CAST(len(list_filter(v, x -> x < 0)) > 0 AS BOOLEAN)  AS has_neg,
           CAST(len(list_filter(v, x -> abs(x) > 1.0)) = 0 AS BOOLEAN)
                                                                 AS all_unit,
           round(sqrt(list_sum(list_transform(v, x -> x * x))), 6)
                                                                 AS l2_norm,
           round(list_sum(list_transform(range(1, len(v) + 1),
                                         i -> v[i] * v[len(v) - i + 1])), 6)
                                                                 AS rev_dot
    FROM e ORDER BY vec_id
    """,
    doc="F24: higher-order function completion — exists (any-match), "
    "forall (all-match), reduce with a FINISH lambda (fold to sum of "
    "squares, finish to sqrt = L2 norm in one traversal), and zip_with "
    "against the reversed array (self-correlation shape). With f5 "
    "(transform/aggregate/filter/element ops) this closes the "
    "higher-order surface: every lambda runs as a codegen'd JVM "
    "expression over the array — per-row, no explode, no shuffle, no "
    "Python — which is what makes array-typed feature math free at "
    "corpus scale.",
    tags=("functions", "arrays"),
)
def higher_order_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return e.select(
        "vec_id",
        F.exists("v", lambda x: x < 0).alias("has_neg"),
        F.forall("v", lambda x: F.abs(x) <= 1.0).alias("all_unit"),
        F.round(
            F.reduce(
                "v",
                F.lit(0.0),
                lambda acc, x: acc + x * x,
                lambda acc: F.sqrt(acc),
            ),
            6,
        ).alias("l2_norm"),
        F.round(
            F.aggregate(
                F.zip_with("v", F.reverse("v"), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("rev_dot"),
    )


@register(
    "f25_map_higher_order",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT)          AS k_raw,
           CAST(json_extract(props, '$.k') AS BIGINT) + 1      AS k_bumped,
           CAST(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) * 2 >= 100
                     THEN 1 ELSE 0 END AS BIGINT)              AS n_big,
           CAST(json_extract(props, '$.k') AS BIGINT) * 2 + 1  AS combined
    FROM events WHERE event_id % 17 = 0 ORDER BY event_id
    """,
    doc="F25: higher-order MAP functions — a typed map built from the "
    "parsed props payload, then transform_values (per-entry rewrite), "
    "map_filter (entry predicate), map_zip_with (keyed merge of two "
    "maps), reduced to scalars via element_at/size probes. Every "
    "lambda is a codegen'd JVM expression over the map — the shape "
    "feature-bag columns (sparse features, per-key counters) take at "
    "scale instead of exploding to rows. The oracle mirrors the "
    "arithmetic on the underlying value (DuckDB MAP higher-order "
    "functions don't exist; the MATH is what's being verified).",
    tags=("functions", "maps"),
)
def map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 17 == 0)
    k = F.get_json_object("props", "$.k").cast("bigint")
    m = F.create_map(F.lit("k"), k, F.lit("k2"), k * 2)
    bumped = F.transform_values(m, lambda _, v: v + 1)
    big_only = F.map_filter(m, lambda _, v: v >= 100)
    zipped = F.map_zip_with(m, bumped, lambda _, a, b: a + b)
    return e.select(
        "event_id",
        F.element_at(m, "k").alias("k_raw"),
        F.element_at(bumped, "k").alias("k_bumped"),
        F.size(big_only).cast("bigint").alias("n_big"),
        F.element_at(zipped, "k").alias("combined"),
    )


@register(
    "f26_regexp_family",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_number_runs,
           nullif(regexp_extract(text, '[0-9]+', 0), '')        AS first_number,
           CASE WHEN regexp_extract(text, '[0-9]+', 0) = ''
                THEN 0
                ELSE strpos(text, regexp_extract(text, '[0-9]+', 0))
           END                                                  AS first_pos,
           CAST(len(regexp_extract_all(text, '[a-z]{5,}')) AS INT)
                                                                AS n_long_words
    FROM documents
    WHERE doc_id % 7 = 0
    ORDER BY doc_id
    """,
    doc="F26: complete regexp surface — regexp_count (occurrences), "
    "regexp_substr (first match), regexp_instr (1-based position), "
    "regexp_extract_all (cardinality check) — the extraction toolkit "
    "under log parsing and PII scans (tx_redaction uses the rewrite "
    "face; this is the locate/count face). All codegen'd JVM "
    "expressions with a compiled-once pattern: zero shuffle. Oracle "
    "mirrors: DuckDB lacks regexp_instr, but for leftmost-first "
    "matching (no lookaround) the first match's text cannot occur "
    "earlier in the string than the match itself — an earlier "
    "occurrence would itself be a match at an earlier start — so "
    "strpos(text, first_match) IS the match position; no-match maps "
    "to 0/NULL identically on both engines.",
    tags=("functions", "strings"),
)
def regexp_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    num = F.lit("[0-9]+")
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), num).alias("n_number_runs"),
        F.regexp_substr(F.col("text"), num).alias("first_number"),
        F.regexp_instr(F.col("text"), num).alias("first_pos"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]{5,}"), F.lit(0))).alias(
            "n_long_words"
        ),
    )


@register(
    "q5_sql_udf",
    oracle="""
    WITH per_line AS (
      SELECT l_returnflag,
             l_extendedprice * (1 - l_discount) AS disc_price,
             CASE WHEN l_quantity >= 40 THEN 'bulk'
                  WHEN l_quantity >= 15 THEN 'mid'
                  ELSE 'small' END AS size_band
      FROM lineitem
    )
    SELECT l_returnflag, size_band,
           CAST(count(*) AS BIGINT)   AS n,
           round(sum(disc_price), 4)  AS revenue
    FROM per_line
    GROUP BY l_returnflag, size_band
    ORDER BY l_returnflag, size_band
    """,
    doc="Q5: SQL user-defined functions (Spark 4 CREATE FUNCTION ... "
    "RETURN) — governed, reusable business logic DECLARED IN SQL: a "
    "scalar UDF (discounted price) and a scalar CASE-band UDF, both "
    "inlined by Catalyst into the calling query's plan (they are "
    "expression templates, NOT black boxes — predicate pushdown, "
    "codegen and vectorization all still apply, unlike a Python UDF "
    "at the same spot). This is the mechanism that replaces the "
    "copy-pasted expression logic a script-per-dataset shop (the "
    "reference's world) accumulates. The oracle inlines the UDF "
    "bodies — which is exactly what the optimizer does.",
    tags=("sql", "functions"),
)
def sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import register_views

    register_views(spark, sf_dir, only=("lineitem",))
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION size_band(q DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN q >= 40 THEN 'bulk' "
        "WHEN q >= 15 THEN 'mid' ELSE 'small' END"
    )
    return spark.sql(
        """
        SELECT l_returnflag, size_band(l_quantity) AS size_band,
               CAST(count(*) AS BIGINT)                          AS n,
               round(sum(disc_price(l_extendedprice, l_discount)), 4) AS revenue
        FROM lineitem
        GROUP BY l_returnflag, size_band(l_quantity)
        """
    )


@register(
    "q6_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           round(avg(l_quantity), 4) AS avg_qty
    FROM lineitem
    WHERE l_quantity >= 10
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Q6: SQL pipe syntax (Spark 4.1, SQL:2023-era pipe operators) — "
    "the same logical plan as q1's nested SQL, written as a linear "
    "dataflow: FROM |> WHERE |> EXTEND |> AGGREGATE ... GROUP BY. "
    "Each |> stage is parsed into the identical Catalyst "
    "operators (this is syntax, not a new engine path), so pushdown, "
    "partial aggregation and codegen are unchanged — verified by the "
    "oracle equivalence with the plain-SQL form. The pipe form is the "
    "SQL face of the DataFrame chain: stage order reads top-to-bottom "
    "like .filter().withColumn().groupBy().agg().",
    tags=("sql",),
)
def pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import register_views

    register_views(spark, sf_dir, only=("lineitem", "orders"))
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity >= 10
        |> EXTEND l_extendedprice * (1 - l_discount) AS disc_price
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                     round(sum(disc_price), 4) AS revenue,
                     round(avg(l_quantity), 4) AS avg_qty
           GROUP BY l_returnflag
        """
    )


@register(
    "f27_csv_expressions",
    oracle="""
    WITH lines AS (
      SELECT o_orderkey,
             o_orderkey || ',' || o_orderstatus || ',' || o_totalprice AS line
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    parsed AS (
      SELECT o_orderkey, line,
             CAST(string_split(line, ',')[1] AS BIGINT)  AS k,
             string_split(line, ',')[2]                  AS status,
             CAST(string_split(line, ',')[3] AS DOUBLE)  AS price
      FROM lines
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(price), 4)     AS total,
           CAST(sum(CASE WHEN CAST(k AS VARCHAR) || ',' || status || ','
                              || CAST(price AS VARCHAR) IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip
    FROM parsed GROUP BY status ORDER BY status
    """,
    doc="F27: CSV expression family — from_csv (typed parse of an "
    "embedded CSV line with an explicit schema: the message-in-a-"
    "column shape of queue payloads), to_csv (struct back to a wire "
    "line). Unlike the s5 file-level CSV source, these run as codegen "
    "row expressions inside any pipeline stage — no separate read "
    "job, schema violations become NULLs per PERMISSIVE semantics "
    "(f19's contract). The oracle parses with string_split + casts; "
    "the roundtrip count just pins that to_csv emitted a line per "
    "row.",
    tags=("functions", "csv"),
)
def csv_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    lines = o.select(
        "o_orderkey",
        F.concat_ws(
            ",", F.col("o_orderkey"), F.col("o_orderstatus"), F.col("o_totalprice")
        ).alias("line"),
    )
    parsed = lines.select(
        F.from_csv(
            F.col("line"), F.lit("k BIGINT, status STRING, price DOUBLE")
        ).alias("rec")
    ).select("rec.k", "rec.status", "rec.price")
    back = parsed.withColumn(
        "wire", F.to_csv(F.struct("k", "status", "price"))
    )
    return (
        back.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("price"), 4).alias("total"),
            F.sum(F.when(F.col("wire").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_roundtrip"),
        )
    )


@register(
    "q7_exec_immediate",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 4) AS total
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
    doc="Q7: EXECUTE IMMEDIATE (Spark 4 dynamic SQL) — a query TEXT "
    "assembled at runtime but executed with parameter-marker binding "
    "(USING), so runtime values bind as typed values in the parsed "
    "plan rather than being spliced into the string: the governed "
    "form of the dynamic SQL every metadata-driven pipeline "
    "eventually needs (table/filter names from a config table), and "
    "the injection-safe complement of q4's static parameterized "
    "queries. The executed plan is identical to the static form — "
    "which is the oracle.",
    tags=("sql",),
)
def exec_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import register_views

    register_views(spark, sf_dir, only=("orders",))
    spark.sql("DECLARE OR REPLACE VARIABLE target_pri STRING")
    spark.sql("SET VAR target_pri = '1-URGENT'")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                  round(sum(o_totalprice), 4) AS total
           FROM orders WHERE o_orderpriority = ?
           GROUP BY o_orderpriority'
        USING target_pri
        """
    )


@register(
    "q8_sql_scripting",
    oracle="""
    WITH ks AS (SELECT unnest(range(0, 21)) AS k),
    counts AS (
      SELECT k,
             (SELECT count(*) FROM orders
              WHERE o_totalprice > 500000 / pow(2, k)) AS n
      FROM ks
    )
    SELECT CAST(k AS INT)                 AS k,
           round(500000 / pow(2, k), 4)   AS threshold,
           CAST(n AS BIGINT)              AS n_orders
    FROM counts
    -- Mirror the script's no-solution shape (ADVICE r3): the WHILE
    -- stops at the first k with n >= 100, else runs out at k = 20 and
    -- still emits that row. Satisfying rows sort first (min k wins);
    -- if none satisfies, -k puts k = 20 first.
    ORDER BY (n >= 100) DESC,
             CASE WHEN n >= 100 THEN k ELSE -k END
    LIMIT 1
    """,
    doc="Q8: SQL scripting (Spark 4.1 BEGIN...END with DECLARE/WHILE/"
    "SET) — procedural control flow INSIDE the SQL surface: the "
    "script halves a price threshold until at least 100 orders "
    "qualify, the parameter-search shape (binary-search a cutoff, "
    "retry-until-nonempty) that previously forced a driver-side "
    "Python loop. Each iteration's scalar lands in a session "
    "variable; only the final SELECT materializes a result. The "
    "oracle replays the same search declaratively (generate k, take "
    "the first satisfying row, falling back to the k=20 row when no "
    "threshold qualifies — the same exhausted-loop shape the script "
    "emits) — same answer, which is exactly the point: scripting adds "
    "CONTROL FLOW, not new semantics.",
    tags=("sql",),
)
def sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.tables import register_views

    register_views(spark, sf_dir, only=("orders",))
    return spark.sql(
        """
        BEGIN
          DECLARE k INT DEFAULT 0;
          DECLARE n BIGINT DEFAULT 0;
          SET n = (SELECT count(*) FROM orders WHERE o_totalprice > 500000);
          WHILE n < 100 AND k < 20 DO
            SET k = k + 1;
            SET n = (SELECT count(*) FROM orders
                     WHERE o_totalprice > 500000 / pow(2, k));
          END WHILE;
          SELECT CAST(k AS INT)               AS k,
                 round(500000 / pow(2, k), 4) AS threshold,
                 CAST(n AS BIGINT)            AS n_orders;
        END
        """
    )


@register(
    "q9_merge_upsert",
    oracle="""
    WITH merged AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1 AS price
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 10 NOT IN (0, 1)
      UNION ALL
      SELECT o_orderkey + 100000000, 'N', o_totalprice + 5
      FROM orders WHERE o_orderkey % 10 = 2
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)  AS n_orders,
           round(sum(price), 4)      AS total_price
    FROM merged
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Q9: MERGE semantics (WHEN MATCHED UPDATE / WHEN MATCHED DELETE "
    "/ WHEN NOT MATCHED INSERT) as the relational composition Spark "
    "executes underneath table-format MERGE INTO: target FULL OUTER "
    "JOIN source on the key, a CASE per clause, and a filter dropping "
    "delete-matched rows. The deterministic source batch updates every "
    "key = 0 (mod 10) to +10% price, deletes every key = 1, and "
    "inserts a new order (shifted key, status 'N') for every key = 2 — "
    "all three clauses exercised in one pass. The shuffle is key-"
    "partitioned on BOTH sides exactly like the eventual file rewrite; "
    "on Delta/Iceberg the same plan gains file-level pruning (only "
    "files containing source keys rewrite), which is the entire "
    "difference between this and s15's partition-grain restatement. "
    "Oracle: the post-MERGE state expressed directly as a UNION of the "
    "three row fates.",
    tags=("sql", "pipeline", "incremental"),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    target = o.select(
        F.col("o_orderkey").alias("t_key"),
        F.col("o_orderstatus").alias("t_status"),
        F.col("o_totalprice").alias("t_price"),
    )
    # One source pass: the three clause populations come out of a single
    # scan via CASE (a 3-way filter union would scan the batch 3x).
    mod = F.col("o_orderkey") % 10
    source = o.filter(mod.isin(0, 1, 2)).select(
        F.when(mod == 2, F.col("o_orderkey") + 100000000)
        .otherwise(F.col("o_orderkey"))
        .alias("s_key"),
        F.when(mod == 0, F.lit("U"))
        .when(mod == 1, F.lit("D"))
        .otherwise(F.lit("I"))
        .alias("action"),
        F.when(mod == 0, F.col("o_totalprice") * 1.1)
        .when(mod == 2, F.col("o_totalprice") + 5)
        .alias("s_price"),
        F.when(mod == 2, F.lit("N")).cast("string").alias("s_status"),
    )

    joined = target.join(
        source, target["t_key"] == source["s_key"], "full_outer"
    )
    merged = joined.filter(
        (F.col("action").isNull()) | (F.col("action") != "D")
    ).select(
        F.coalesce("t_key", "s_key").alias("o_orderkey"),
        F.coalesce("t_status", "s_status").alias("o_orderstatus"),
        F.when(F.col("action") == "U", F.col("s_price"))
        .when(F.col("action") == "I", F.col("s_price"))
        .otherwise(F.col("t_price"))
        .alias("price"),
    )
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("price"), 4).alias("total_price"),
        )
    )


@register(
    "q10_sql_ddl_dml",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(CASE WHEN o_orderstatus = 'F'
                          THEN o_totalprice * 2 ELSE o_totalprice END), 4)
             AS total_price
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Q10: the SQL DDL/DML entry points — CREATE TABLE ... USING "
    "PARQUET PARTITIONED BY ... LOCATION (external, so nothing lands "
    "in a default warehouse dir), INSERT INTO ... SELECT (dynamic "
    "partitions), INSERT OVERWRITE ... PARTITION (status='F') "
    "(STATIC partition spec: rewrites exactly that partition — the "
    "SQL face of s15's DataFrame-API dynamic overwrite), and SELECT "
    "back through the catalog. This is the surface a SQL-only client "
    "(BI tool, dbt model) drives; everything else in the repo uses "
    "the DataFrame face of the same engine. Table names are "
    "per-invocation unique: catalog entries are session-global and "
    "the driver/bench may run builders repeatedly. The read-back "
    "aggregate proves the restated F partition AND the untouched "
    "siblings through one query; the oracle replays the restatement "
    "arithmetically.",
    tags=("sql", "pipeline", "sink"),
)
def sql_ddl_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    register_views(spark, sf_dir, only=("orders",))
    tbl = f"q10_orders_{uuid.uuid4().hex[:8]}"
    loc = scratch_dir("q10_tbl_")
    spark.sql(
        f"""
        CREATE TABLE {tbl} (o_orderkey BIGINT, o_totalprice DOUBLE,
                            o_orderstatus STRING)
        USING PARQUET PARTITIONED BY (o_orderstatus)
        LOCATION '{loc}'
        """
    )
    spark.sql(
        f"""
        INSERT INTO {tbl}
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderpriority = '1-URGENT'
        """
    )
    spark.sql(
        f"""
        INSERT OVERWRITE {tbl} PARTITION (o_orderstatus = 'F')
        SELECT o_orderkey, o_totalprice * 2
        FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        """
    )
    return spark.sql(
        f"""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 4) AS total_price
        FROM {tbl}
        GROUP BY o_orderstatus
        """
    )


@register(
    "q11_catalog_introspection",
    oracle="""
    SELECT * FROM (VALUES
      ('facts',  'event_day', 'date',   1),
      ('facts',  'n',         'bigint', 2),
      ('facts',  'revenue',   'double', 3),
      ('lookup', 'code',      'string', 1),
      ('lookup', 'meaning',   'string', 2)
    ) AS t(table_part, column_name, data_type, ordinal)
    ORDER BY table_part, ordinal
    """,
    doc="Q11: catalog introspection — the metadata face a SQL tool "
    "walks before it ever reads data: two session tables are created "
    "(one CTAS from an aggregate, one VALUES-defined lookup) and their "
    "schemas are read back through spark.catalog.listColumns, the "
    "programmatic twin of DESCRIBE TABLE. The oracle is the EXPECTED "
    "schema as literals, so what's verified is the round-trip "
    "contract: types survive CTAS (date stays date, count lands "
    "bigint, sum(double) stays double) and ordinal positions match "
    "the definition order. Table names are per-invocation unique "
    "(session-global catalog, repeated builder runs); the catalog "
    "calls are driver-side metadata lookups — no job runs at all "
    "beyond the two DDLs.",
    tags=("sql",),
)
def catalog_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    register_views(spark, sf_dir, only=("events",))
    tag = uuid.uuid4().hex[:8]
    facts, lookup = f"q11_facts_{tag}", f"q11_lookup_{tag}"
    loc1 = scratch_dir("q11_facts_")
    loc2 = scratch_dir("q11_lookup_")
    spark.sql(
        f"""
        CREATE TABLE {facts} USING PARQUET LOCATION '{loc1}' AS
        SELECT CAST(ts AS DATE) AS event_day,
               count(*)         AS n,
               sum(value)       AS revenue
        FROM events GROUP BY event_day
        """
    )
    spark.sql(
        f"""
        CREATE TABLE {lookup} USING PARQUET LOCATION '{loc2}' AS
        SELECT * FROM VALUES ('A', 'alpha'), ('B', 'beta')
          AS t(code, meaning)
        """
    )
    rows = []
    for part, tbl in (("facts", facts), ("lookup", lookup)):
        for i, col in enumerate(spark.catalog.listColumns(tbl), start=1):
            rows.append((part, col.name, col.dataType, i))
    return spark.createDataFrame(
        rows, "table_part string, column_name string, data_type string, "
        "ordinal int"
    )


@register(
    "f28_variant_bronze_silver",
    oracle="""
    WITH base AS (
      SELECT event_id,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    ),
    feed AS (
      SELECT CAST(event_id % 3 AS INT) AS generation,
             CASE CAST(event_id % 3 AS INT)
               WHEN 0 THEN '{"k": ' || k || '}'
               WHEN 1 THEN '{"k": ' || k || ', "meta": {"src": "azcopy"}}'
               ELSE        '{"k": "' || k || '"}'
             END AS payload
      FROM base
    ),
    typed AS (
      SELECT generation,
             json_type(payload, '$.k') AS t,
             CAST(json_extract(payload, '$.k') AS BIGINT) AS k_lenient,
             json_extract_string(payload, '$.meta.src') AS src
      FROM feed
    )
    SELECT generation,
           CASE WHEN t IN ('UBIGINT', 'BIGINT') THEN 'ok'
                WHEN t = 'VARCHAR' THEN 'drift_retyped'
                ELSE 'drift_missing' END AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN t IN ('UBIGINT', 'BIGINT')
                         THEN k_lenient END) AS BIGINT) AS sum_k,
           CAST(count(src) AS BIGINT) AS n_with_meta
    FROM typed
    GROUP BY generation, status
    ORDER BY generation, status
    """,
    doc="F28: VARIANT bronze->silver ingestion with schema-drift "
    "quarantine — the f14 + dq6 composition the round-4 verdict asked "
    "for (item 8), matching the reference's schema-agnostic payload "
    "posture (src/bak_unload.ps1:69-75: load whatever shape arrives, "
    "validate later). A landing feed with three producer GENERATIONS "
    "(raw {k}, meta-wrapped {k, meta.src}, and k RETYPED to a JSON "
    "string) is ingested ONCE as VARIANT — no schema declared, parse "
    "cost paid per row, not per path — and the silver contract is then "
    "enforced STRUCTURALLY: schema_of_variant(variant_get(v, '$.k')) "
    "classifies each row ok / drift_retyped / drift_missing. The "
    "structural check matters because try_variant_get CASTS leniently "
    "('26' -> 26), so a cast-based gate would silently admit the "
    "retyped generation and the drift would surface downstream as "
    "mixed types in silver — dq6's footer-level drift gate, pushed "
    "down to row level for payloads that have no footer. Typed "
    "extraction (sum_k) touches only contract-clean rows; the nested "
    "meta path counts the wrapped generation. One shuffle on the "
    "(generation, status) pair; at 100 TB the bronze VARIANT column "
    "is the stored form and this query is the per-drop audit.",
    tags=("functions", "variant", "pipeline"),
)
def variant_bronze_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "props")
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    gen = (F.col("event_id") % 3).cast("int")
    payload = (
        F.when(gen == 0, F.concat(F.lit('{"k": '), k, F.lit("}")))
        .when(
            gen == 1,
            F.concat(F.lit('{"k": '), k, F.lit(', "meta": {"src": "azcopy"}}')),
        )
        .otherwise(F.concat(F.lit('{"k": "'), k, F.lit('"}')))
    )
    bronze = ev.select(
        gen.alias("generation"), F.parse_json(payload).alias("v")
    )
    t = F.expr("schema_of_variant(variant_get(v, '$.k'))")
    status = (
        F.when(t == "BIGINT", "ok")
        .when(t == "STRING", "drift_retyped")
        .otherwise("drift_missing")
    )
    classified = bronze.select(
        "generation",
        status.alias("status"),
        F.when(status == "ok", F.variant_get("v", "$.k", "long")).alias(
            "silver_k"
        ),
        F.variant_get("v", "$.meta.src", "string").alias("src"),
    )
    return (
        classified.groupBy("generation", "status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("silver_k").cast("bigint").alias("sum_k"),
            F.count("src").cast("bigint").alias("n_with_meta"),
        )
    )


@register(
    "f29_outer_flatten",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN lang = 'de' THEN NULL
                  WHEN n_chars % 7 = 0 THEN []
                  ELSE string_split(text, ' ')[1:4] END AS a
      FROM documents
    )
    SELECT doc_id, CAST(NULL AS BIGINT) AS pos, CAST(NULL AS VARCHAR) AS tok
    FROM base WHERE a IS NULL OR len(a) = 0
    UNION ALL
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, a[i] AS tok
    FROM base, LATERAL (SELECT unnest(range(1, len(a) + 1)) AS i) g
    WHERE a IS NOT NULL AND len(a) > 0
    ORDER BY doc_id, pos
    """,
    doc="F29: null-preserving array flattening — posexplode_outer over "
    "a column that is deterministically NULL for one slice (lang='de'),"
    " EMPTY for another (n_chars %% 7 = 0) and a token prefix "
    "otherwise: outer explode emits one (NULL, NULL) row for both "
    "degenerate shapes instead of silently dropping the parent row — "
    "the corner plain explode gets wrong in any 'flatten then count "
    "by parent' pipeline (inner explode loses the parents; counts "
    "no longer reconcile with the source). DuckDB has no outer "
    "unnest, so the oracle is the two-branch emulation (degenerate "
    "rows unioned with an indexed-range LATERAL unnest — the repo's "
    "WITH-ORDINALITY workaround). Flattening is a narrow per-row "
    "transform: no shuffle, whole-stage codegen, output-proportional "
    "— the plan shape that makes explode safe at 100 TB while the "
    "row-multiplying join it replaces is not.",
    tags=("functions",),
)
def outer_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    arr = F.expr(
        "CASE WHEN lang = 'de' THEN NULL "
        "WHEN n_chars % 7 = 0 THEN array() "
        "ELSE slice(split(text, ' '), 1, 4) END"
    )
    ex = d.select("doc_id", F.posexplode_outer(arr))
    return ex.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("col").alias("tok"),
    )
