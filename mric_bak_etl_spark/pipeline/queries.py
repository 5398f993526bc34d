"""Driver-verified catalog entries for the pipeline operators (SURVEY §2A).

Each query routes through the REAL pipeline stage functions (manifest/state/
unzip/snapshot modules) so the driver exercises engine code paths, with
inputs derived deterministically from the standard tables (or fixed bytes),
keeping them DuckDB-oracle-checkable.
"""

from __future__ import annotations

import io
import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.pipeline import manifest, state, unzip
from mric_bak_etl_spark.pipeline.snapshot import (
    overwrite_snapshot,
    overwrite_snapshot_jdbc,
)
from mric_bak_etl_spark.session import scratch_dir
from mric_bak_etl_spark.tables import load_table


@register(
    "s2_file_manifest",
    oracle=None,  # listing carries absolute paths/mtimes → env-dependent
    doc="S2/R1: manifest scan over the scale-factor directory via the "
    "binaryFile source, metadata columns only (no content read).",
    tags=("pipeline", "source"),
)
def file_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = manifest.manifest_from_directory(spark, sf_dir, glob="*.parquet")
    return m.select("name", "length")


@register(
    "r2_listing_parse_latest",
    oracle="""
    WITH listing AS (
      SELECT 'INFO: snapshot_' || lpad(CAST(o_orderkey AS VARCHAR), 10, '0')
             || CASE WHEN o_orderstatus = 'P' THEN '.tmp' ELSE '.zip' END
             || '; Content Length: ' || CAST(o_orderkey AS VARCHAR) AS value
      FROM orders
    ),
    names AS (SELECT string_split(value, ';')[1][7:] AS name FROM listing)
    SELECT max(name) AS name FROM names WHERE contains(name, '.zip')
    """,
    doc="R2+R3+R5+R6 end-to-end: azcopy-style listing lines (synthesized "
    "deterministically from orders) → split/substring parse → .zip filter "
    "→ lexicographic-max latest-pick; the reference's discovery phase "
    "(src/bak_unload.ps1:22-52) as one declarative plan.",
    tags=("pipeline", "reference-fidelity"),
)
def listing_parse_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    lines = o.select(
        F.concat(
            F.lit("INFO: snapshot_"),
            F.lpad(F.col("o_orderkey").cast("string"), 10, "0"),
            F.when(F.col("o_orderstatus") == "P", ".tmp").otherwise(".zip"),
            F.lit("; Content Length: "),
            F.col("o_orderkey").cast("string"),
        ).alias("value")
    )
    names = manifest.filter_snapshots(manifest.parse_listing_lines(lines))
    return manifest.latest_snapshot(names)


@register(
    "r7_state_antijoin",
    oracle="""
    WITH candidates AS (
      SELECT DISTINCT 'snapshot_' || lpad(CAST(o_orderkey AS VARCHAR), 10, '0') || '.zip' AS name
      FROM orders
    ),
    processed AS (
      SELECT DISTINCT 'snapshot_' || lpad(CAST(o_orderkey AS VARCHAR), 10, '0') || '.zip' AS name
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT name FROM candidates c
    WHERE NOT EXISTS (SELECT 1 FROM processed p WHERE p.name = c.name)
    ORDER BY name
    """,
    doc="R7: already-imported skip as a broadcast left anti-join of "
    "candidate snapshot names vs the processed-state table "
    "(src/bak_unload.ps1:57-65 generalized to N candidates).",
    tags=("pipeline", "reference-fidelity"),
)
def state_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    name = F.concat(
        F.lit("snapshot_"), F.lpad(F.col("o_orderkey").cast("string"), 10, "0"),
        F.lit(".zip"),
    ).alias("name")
    candidates = o.select(name).distinct()
    processed = o.filter(F.col("o_orderstatus") == "F").select(name).distinct()
    return state.filter_unprocessed(candidates, processed)


@register(
    "s3_snapshot_roundtrip",
    oracle="""
    SELECT count(*) AS n_rows,
           round(sum(l_extendedprice), 4) AS total_price
    FROM lineitem WHERE l_returnflag = 'R'
    """,
    doc="S3/R11: snapshot-replace sink round-trip — overwrite-write the "
    "filtered lineitem as a parquet snapshot and aggregate the read-back. "
    "Like the reference's DROP+RESTORE the replace is not atomic: Spark's "
    "overwrite clears the target before it writes, so a failed write "
    "leaves it empty, and the caller re-runs the load (at-least-once).",
    tags=("pipeline", "sink"),
)
def snapshot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    out = os.path.join(scratch_dir("snapshot_sink_"), "lineitem_r")
    overwrite_snapshot(li, out)
    back = spark.read.parquet(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 4).alias("total_price"),
    )


@register(
    "s4_partitioned_snapshot",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           count(*)                          AS n_rows,
           round(sum(l_quantity), 4)         AS total_qty
    FROM lineitem
    WHERE year(l_shipdate) IN (1996, 1997)
    GROUP BY ship_year
    ORDER BY ship_year
    """,
    doc="S4: partitioned snapshot sink — overwrite-write lineitem "
    "partitioned by ship year, read back with a partition filter. The "
    "read-back scan lists ONLY the two matching partition directories "
    "(partition pruning, asserted on the plan in tests/test_plans.py) — "
    "at 100 TB this is the difference between scanning 2 years and 25.",
    tags=("pipeline", "sink"),
)
def partitioned_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    out = os.path.join(scratch_dir("snapshot_part_"), "lineitem_by_year")
    overwrite_snapshot(li, out, partition_by=["ship_year"])
    back = spark.read.parquet(out).filter(F.col("ship_year").isin(1996, 1997))
    return (
        back.groupBy("ship_year")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 4).alias("total_qty"),
        )
        .select(F.col("ship_year").cast("int").alias("ship_year"), "n_rows", "total_qty")
    )


@register(
    "s5_format_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           count(*)                     AS n_orders,
           round(sum(o_totalprice), 4)  AS total_price
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="S5: multi-format source/sink — the urgent-orders slice written as "
    "CSV (header) and JSON-lines, read back through each format's parser "
    "with an explicit schema (schema inference is a full extra pass — "
    "never at scale), results unioned and deduplicated to prove the "
    "round-trips agree. Text formats are the interchange path; parquet "
    "remains the scale path (columnar, statistics, splittable).",
    tags=("pipeline", "sink", "source"),
)
def format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    base = scratch_dir("format_rt_")
    csv_path, json_path = os.path.join(base, "csv"), os.path.join(base, "json")
    # Raw doubles: Spark prints shortest-round-trip decimals, so CSV/JSON
    # text round-trips bit-exactly; rounding happens once, at the end.
    slim = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    slim.write.mode("overwrite").option("header", True).csv(csv_path)
    slim.write.mode("overwrite").json(json_path)
    schema = "o_orderkey long, o_orderstatus string, o_totalprice double"
    from_csv = spark.read.schema(schema).option("header", True).csv(csv_path)
    from_json = spark.read.schema(schema).json(json_path)
    both = from_csv.unionByName(from_json).dropDuplicates(["o_orderkey"])
    return (
        both.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )


def _fixture_zip_bytes() -> list[tuple[str, bytes]]:
    """Deterministic in-memory archives: the discovery fixture of FIXTURES.md
    §D — one holds the payload `.bak` plus a decoy, one holds no payload."""
    archives = []
    for stem, members in [
        ("backup_2024_07_01", [("rio_tre.bak", b"BAK-PAYLOAD-2024-07-01"), ("readme.txt", b"decoy")]),
        ("backup_2024_06_30", [("notes.txt", b"no payload here")]),
    ]:
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            for name, data in members:
                zf.writestr(name, data)
        archives.append((f"/blobs/{stem}.zip", buf.getvalue()))
    return archives


@register(
    "x1_unzip_payload",
    oracle="""
    SELECT '/blobs/backup_2024_07_01.zip' AS archive_path,
           'rio_tre.bak'                  AS entry_name,
           CAST(22 AS BIGINT)             AS entry_size,
           'BAK-PAYLOAD-2024-07-01'       AS payload_text
    """,
    doc="X1/R9+R10: the zip-decompression pandas stage end-to-end — fixed "
    "in-memory archives → mapInPandas unzip + payload pick (.bak, "
    "last-match-wins like src/bak_unload.ps1:81-87); oracle is the known "
    "fixture payload.",
    tags=("pipeline", "udf"),
)
def unzip_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    archives = spark.createDataFrame(
        _fixture_zip_bytes(), "path string, content binary"
    )
    payload = unzip.unzip_entries(archives, ".bak")
    return payload.select(
        "archive_path",
        "entry_name",
        "entry_size",
        F.decode("entry_bytes", "UTF-8").alias("payload_text"),
    )


JDBC_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@register(
    "s13_jdbc_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)    AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderkey % 20 = 0 AND o_totalprice > 100000.0
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="S13: JDBC sink + source round-trip — the reference's actual load "
    "modality (RESTORE into SQL Server, src/bak_unload.ps1:90-103; "
    "BASELINE.json: 'DataFrame JDBC read/write for SQL Server') run for "
    "real against embedded Derby (the SQL database the Spark "
    "distribution ships): snapshot slice written mode('overwrite') "
    "(Spark's atomic form of the reference's non-atomic DROP+RESTORE), "
    "read back through format('jdbc') with the price predicate PUSHED "
    "INTO the database (the scan ships WHERE to the server; only "
    "matching rows cross the wire), then aggregated. Swap url/driver "
    "for jdbc:sqlserver to hit the reference's actual target; "
    "numPartitions/partitionColumn shard reads at scale.",
    tags=("sources", "pipeline"),
)
def jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = os.path.join(
        tempfile.gettempdir(),
        f"mric_jdbc_{os.path.basename(os.path.normpath(sf_dir))}",
        "db",
    )
    url = f"jdbc:derby:{db};create=true"
    slice_df = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 20 == 0)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        # Embedded Derby is single-process; a handful of writer
        # connections is plenty (a server-grade target takes one per
        # output partition).
        .coalesce(4)
    )
    overwrite_snapshot_jdbc(slice_df, url, "orders_snap", {"driver": JDBC_DRIVER})
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "orders_snap")
        .option("driver", JDBC_DRIVER)
        .load()
    )
    return (
        back.filter(F.col("o_totalprice") > 100000.0)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "s5b_orc_xml_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)     AS n_orders,
           round(sum(o_totalprice), 4)  AS total_price
    FROM orders
    WHERE o_orderpriority = '2-HIGH'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="S5b: columnar-binary + document source/sink — the high-priority "
    "slice written as ORC (the other splittable columnar format: "
    "predicate pushdown, stripe statistics — parquet's peer where the "
    "lake standardized on ORC) and as XML files (Spark 4 native XML "
    "source, rowTag framing — the B2B/legacy interchange face), read "
    "back with explicit schemas, unioned and deduplicated to prove both "
    "round-trips agree. Completes the format matrix with s5 (CSV/JSON).",
    tags=("pipeline", "sink", "source"),
)
def orc_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "2-HIGH"
    )
    base = scratch_dir("format_rt2_")
    orc_path, xml_path = os.path.join(base, "orc"), os.path.join(base, "xml")
    slim = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    slim.write.mode("overwrite").orc(orc_path)
    slim.write.mode("overwrite").format("xml").option("rowTag", "order").save(xml_path)
    schema = "o_orderkey long, o_orderstatus string, o_totalprice double"
    from_orc = spark.read.schema(schema).orc(orc_path)
    from_xml_src = (
        spark.read.schema(schema).format("xml").option("rowTag", "order").load(xml_path)
    )
    both = from_orc.unionByName(from_xml_src).dropDuplicates(["o_orderkey"])
    return (
        both.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )


@register(
    "s15_dynamic_partition_overwrite",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           count(*)                          AS n_rows,
           round(sum(CASE WHEN year(l_shipdate) = 1997
                          THEN l_quantity * 2 ELSE l_quantity END), 4)
                                             AS total_qty
    FROM lineitem
    GROUP BY ship_year
    ORDER BY ship_year
    """,
    doc="S15: dynamic partition overwrite — the restatement modality "
    "between s3 (replace everything) and r21 (incremental merge): a "
    "corrected batch for ONE ship year is written with "
    "partitionOverwriteMode=dynamic, which replaces exactly the "
    "partitions present in the batch and leaves every other partition's "
    "files untouched (static overwrite mode would drop the whole "
    "table). This is the idempotent daily-restatement pattern at 100 "
    "TB: the write cost is the corrected partition, not the table, and "
    "re-running the same batch converges to the same state. The "
    "read-back aggregates the WHOLE table, so untouched years must "
    "survive bit-exact and 1997 must show doubled quantities — both "
    "failure directions (clobbered siblings / missed target) break the "
    "oracle match. The per-write option form is used instead of the "
    "session conf so concurrent writers with different modes don't "
    "interfere.",
    tags=("pipeline", "sink"),
)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    out = os.path.join(scratch_dir("snapshot_dyn_"), "lineitem_by_year")
    overwrite_snapshot(li, out, partition_by=["ship_year"])

    corrected = li.filter(F.col("ship_year") == 1997).withColumn(
        "l_quantity", F.col("l_quantity") * 2
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ship_year")
        .parquet(out)
    )

    back = spark.read.parquet(out)
    return (
        back.groupBy("ship_year")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 4).alias("total_qty"),
        )
        .select(
            F.col("ship_year").cast("int").alias("ship_year"),
            "n_rows",
            "total_qty",
        )
    )


@register(
    "s16_streaming_file_sink",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT)  AS n_events,
           round(sum(value), 4)      AS total_value
    FROM events
    WHERE value >= 50
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="S16: Structured Streaming FILE sink with its transaction log — "
    "the exactly-once sink mechanism the memory/foreachBatch entries "
    "don't show: the stream writes parquet plus a _spark_metadata "
    "commit log, and a BATCH read of the same directory consults that "
    "log, so files from an uncommitted (crashed) micro-batch are "
    "invisible to readers — no manifest tables (run_streaming's "
    "ingest stream uses the same sink). The filtered stream "
    "(AvailableNow) lands in the sink, the read-back aggregates, and "
    "the oracle computes the same aggregate from the raw events — "
    "equality proves no batch was dropped or doubled through the sink. At "
    "scale the metadata log is also the compaction boundary: s7-style "
    "rewrites must go through a NEW table, never in-place, or the log "
    "and the files disagree.",
    tags=("pipeline", "sink", "streaming"),
)
def streaming_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.streaming.windows import stream_events

    out = scratch_dir("s16_sink_")
    ckpt = scratch_dir("s16_ckpt_")
    q = (
        stream_events(spark, sf_dir)
        .filter(F.col("value") >= 50)
        .select("event_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register(
    "s17_selective_file_ingestion",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(count(*) AS BIGINT)           AS n_orders,
           round(sum(o_totalprice), 4)        AS total_price
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND year(o_orderdate) >= 1996
    GROUP BY order_year
    ORDER BY order_year
    """,
    doc="S17: selective file ingestion — the reader-side options that "
    "make the reference's discovery stage (list, filter by name, pick "
    "a subset — src/bak_unload.ps1:22-52) a property of the SCAN "
    "instead of a driver loop: a nested landing zone is laid down "
    "with one directory per (year, priority-class) drop, plus sidecar "
    "decoys inside the read root (.done markers, a rogue CSV export), "
    "then ONE read with recursiveFileLookup walks the tree and "
    "pathGlobFilter admits only *.parquet — name-based selection "
    "happens at file-listing time, "
    "before any bytes are read, exactly like partition pruning but "
    "keyed on the NAMING CONVENTION of an external producer we don't "
    "control. The year filter then prunes on content as usual. "
    "Equality against the oracle over raw orders proves the glob "
    "admitted exactly the intended drops (a decoy admitted or a drop "
    "missed both break the sums). At scale the listing is "
    "driver-metadata work proportional to file count — the reason "
    "landing zones compact into manifests (s2) or tables (s14) as "
    "they grow.",
    tags=("pipeline", "source"),
)
def selective_file_ingestion(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    base = scratch_dir("s17_zone_")
    # Landing zone: per-year subdirs; urgent-class drops follow the
    # producer convention "urgent_*.parquet", decoys do not.
    for cls, name in (
        (["1-URGENT", "2-HIGH"], "urgent_drop"),
        (["3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], "routine_drop"),
    ):
        (
            o.filter(F.col("o_orderpriority").isin(cls))
            .select("o_orderkey", "o_orderdate", "o_totalprice", "order_year")
            .write.mode("overwrite")
            .partitionBy("order_year")
            .parquet(os.path.join(base, name))
        )
    # Sidecar decoys INSIDE the read root (the producer's .done markers
    # and a rogue CSV export): without pathGlobFilter the reader would
    # choke on them or mis-parse; with it they are excluded at listing
    # time, before any bytes are read.
    for ydir in os.listdir(os.path.join(base, "urgent_drop")):
        full = os.path.join(base, "urgent_drop", ydir)
        if os.path.isdir(full):
            with open(os.path.join(full, "drop.done"), "w") as f:
                f.write("ok\n")
            with open(os.path.join(full, "rogue_export.csv"), "w") as f:
                f.write("o_orderkey,o_totalprice\n999999,1.0\n")
    # recursiveFileLookup disables partition-column inference by design
    # (the tree is treated as a flat file set), so the year re-derives
    # from the data column the files carry.
    zone = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(os.path.join(base, "urgent_drop"))
        .withColumn("order_year", F.year("o_orderdate").cast("int"))
    )
    return (
        zone.filter(F.col("order_year") >= 1996)
        .groupBy("order_year")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .select(
            F.col("order_year").cast("int").alias("order_year"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "s21_schema_evolution_read",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'UNKNOWN'
                ELSE o_orderpriority END  AS priority,
           CAST(count(*) AS BIGINT)       AS n_orders,
           round(sum(o_totalprice), 4)    AS total_price
    FROM orders
    GROUP BY priority
    ORDER BY priority
    """,
    doc="S21: schema-evolution read — a landing zone whose producer ADDED "
    "a column between snapshot generations: generation 1 files carry "
    "(o_orderkey, o_totalprice), generation 2 adds o_orderpriority. "
    "spark.read.option('mergeSchema', 'true') reconciles the parquet "
    "footers into the union schema, null-filling the missing column in "
    "old files; the silver normalization coalesces the null era to a "
    "sentinel and aggregates. The oracle recomputes from the source "
    "table with the same generation rule, so the driver verifies the "
    "merged read end-to-end, not just that it parses. At 100 TB: "
    "mergeSchema is an O(files) footer-reconciliation cost at PLANNING "
    "time — on large zones, resolve the schema once from the table "
    "catalog (or newest files) and pass it explicitly; evolution must "
    "stay additive-nullable (parquet resolves columns BY NAME here, so "
    "a rename is a drop+add that silently nulls the old era — dq6 is "
    "the gate that catches it).",
    tags=("pipeline", "source", "schema"),
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = scratch_dir("s21_zone_")
    (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(os.path.join(base, "gen=1"))
    )
    (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(os.path.join(base, "gen=2"))
    )
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(base)
    )
    return (
        merged.groupBy(
            F.coalesce("o_orderpriority", F.lit("UNKNOWN")).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )
