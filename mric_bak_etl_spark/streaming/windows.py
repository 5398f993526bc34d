"""Streaming-window semantics over the events stream (SURVEY.md §2B T1-T5).

Each operator has two faces:

- a **batch-equivalent** catalog query (driver-verified against DuckDB) —
  time-window functions run identically over bounded input, so tumbling /
  sliding / session aggregations are oracle-checkable;
- a **true streaming** form (``readStream`` + watermark + AvailableNow)
  exercised in tests/test_streaming.py through :func:`stream_events`, since
  arrival-order semantics (late-data drop, within-watermark dedup) have no
  SQL oracle.

Scale notes (100 TB/day stream): tumbling/sliding windows are stateless
per-window hash aggs after the shuffle on (window, keys); session windows
and dedup keep per-key state bounded by the watermark — the watermark is
what lets Spark evict state, so T4 is not optional at scale, it IS the
memory bound. Sliding windows replicate each row size/slide times (4× here)
— prefer the coarsest slide the product tolerates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.operators.aggregates import _HLL_DAY_REGISTERS_ORACLE
from mric_bak_etl_spark.session import scratch_dir
from mric_bak_etl_spark.tables import load_table


@register(
    "t1_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           count(*)             AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
    doc="T1: tumbling 1-hour window aggregate — groupBy(window(ts, '1 hour')); "
    "each row lands in exactly one window; plain hash agg after one shuffle.",
    tags=("streaming",),
)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "t2_sliding_window",
    oracle="""
    SELECT ws AS window_start, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM (
      SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
               - (k * INTERVAL '15 minutes') AS ws,
             value
      FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
    )
    GROUP BY ws
    ORDER BY ws
    """,
    doc="T2: sliding window (1 hour, 15-minute slide) — every event belongs "
    "to size/slide = 4 windows; Spark expands rows 4× before the agg "
    "(the oracle makes that replication explicit via unnest).",
    tags=("streaming",),
)
def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"), "n_events", "total_value"
        )
    )


@register(
    "t3_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN ts - lag(CAST(ts AS TIMESTAMP))
                         OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id,
           min(ts)                           AS session_start,
           max(ts) + INTERVAL '30 minutes'   AS session_end,
           count(*)                          AS n_events,
           round(sum(value), 4)              AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    doc="T3: session window (30-minute gap) per user — session_window() "
    "merges events closer than the gap; Spark's session end = last event "
    "+ gap, mirrored in the oracle's lag/cumsum sessionization.",
    tags=("streaming",),
)
def session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "t4_watermark_cutoff",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           count(*) AS n_events
    FROM events
    WHERE CAST(ts AS TIMESTAMP) >
          (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '10 minutes' FROM events)
    GROUP BY window_start
    ORDER BY window_start
    """,
    doc="T4 (batch face): the watermark cutoff as a value predicate — rows "
    "older than max(event_time) - delay are 'late' and dropped. True "
    "arrival-order semantics (state eviction, append emission) are "
    "exercised in tests/test_streaming.py with withWatermark(); at scale "
    "the watermark IS the state bound for T3/T5.",
    tags=("streaming",),
)
def watermark_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("cutoff")
    )
    return (
        ev.join(F.broadcast(cutoff))
        .filter(F.col("ts") > F.col("cutoff"))
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )


@register(
    "t5_stateful_dedup",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_unique_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="T5: stateful dedup — dropDuplicates on (user_id, event_type) (the "
    "reference's already-imported skip, src/bak_unload.ps1:57-65, as "
    "keyed state) then count survivors; streaming face is "
    "dropDuplicatesWithinWatermark in tests.",
    tags=("streaming", "reference-fidelity"),
)
def stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a true stream: readStream over the parquet, ts normalized.

    The parquet stores ts as INT64 TIMESTAMP(NANOS); requesting
    ``timestamp_ntz`` in the stream schema makes the reader deliver
    µs-truncated timestamps identical to the batch loader's. (Requesting
    ``long`` instead yields µs counts — NOT the raw ns the batch path
    sees under nanosAsLong — so a hand-rolled ns→µs division here would
    silently land in 1970; tests/test_streaming.py pins batch↔stream
    row-for-row equality against exactly that regression.)
    """
    import os

    from mric_bak_etl_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    # Two on-disk layouts exist for the same logical table: the driver's
    # fixtures store events as a single FLAT FILE beside the other
    # tables (stream the parent dir, glob down to that one file — the
    # glob is what keeps the other tables out of the stream), while any
    # Spark/production writer produces a DIRECTORY of part files
    # (stream the directory itself — a file-name glob would match
    # nothing and the stream would silently be EMPTY, found by the t13
    # 100x probe against a Spark-written synth corpus).
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    table_path = os.path.join(sf_dir, "events.parquet")
    # Layout detection goes through the Hadoop FileSystem API, NOT
    # driver-local os.path: sf_dir may be hdfs://... or s3a://... (the
    # production-writer case above), where os.path.isdir is always False
    # and the flat-file glob branch would silently stream nothing.
    # os.path is only the fallback for JVM-less runtimes (Spark Connect).
    # Only JVM ABSENCE (Spark Connect exposes no _jvm/_jsc) may fall back
    # to os.path; a transient FS error (NameNode RPC timeout, credential
    # hiccup) must PROPAGATE — swallowing it would reclassify a remote
    # directory layout as flat-file and silently stream zero rows, the
    # exact failure mode this probe exists to eliminate.
    try:
        jvm, jsc = spark._jvm, spark._jsc
    except AttributeError:  # pragma: no cover - Connect/JVM-less runtime
        jvm = jsc = None
    if jvm is not None and jsc is not None:
        jpath = jvm.org.apache.hadoop.fs.Path(table_path)
        fs = jpath.getFileSystem(jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            raise FileNotFoundError(
                f"stream_events: no events table at {table_path}"
            )
        is_dir = fs.getFileStatus(jpath).isDirectory()
    else:  # pragma: no cover - Connect/JVM-less runtime
        is_dir = os.path.isdir(table_path)
    if is_dir:
        raw = spark.readStream.schema(schema).parquet(table_path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    # Watermarks demand TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on
    # NTZ); the session is pinned UTC, so the cast is wall-clock-identical
    # to the batch loader's TIMESTAMP_NTZ.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def attribution_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """click→purchase pairs: same user, purchase within 1 hour of the click.

    Equi on user_id with the time range as residual; in streaming form both
    sides carry watermarks and the range condition is what lets Spark bound
    join state (clicks older than max(purchase ts) - 1 h are evictable).
    """
    return clicks.join(
        purchases,
        (clicks.user_id == purchases.p_user)
        & (purchases.p_ts >= clicks.click_ts)
        & (purchases.p_ts < clicks.click_ts + F.expr("INTERVAL 1 HOUR")),
    )


def split_click_purchase(ev: DataFrame) -> tuple[DataFrame, DataFrame]:
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), "value"
    )
    return clicks, purchases


@register(
    "t7_stream_stream_join",
    oracle="""
    SELECT c.user_id,
           CAST(count(*) AS BIGINT) AS n_attributed,
           round(sum(p.value), 4)   AS attributed_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <  c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click'
      AND p.event_type = 'purchase'
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
    doc="T7: stream-stream interval join (attribution) — every purchase "
    "within 1 hour after a same-user click, aggregated per user. Batch "
    "face here (equi join on user_id, time range as residual); the true "
    "two-stream form (dual watermarks + time-bounded condition, which is "
    "what lets Spark EVICT join state — unbounded otherwise) runs in "
    "tests/test_streaming.py via stream_events twice + AvailableNow.",
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks, purchases = split_click_purchase(ev)
    return (
        attribution_join(clicks, purchases)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_attributed"),
            F.round(F.sum("value"), 4).alias("attributed_value"),
        )
    )


def user_nation_enrichment(ev: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """Enrich events with region via a derived user→nation mapping.

    The dims are broadcast: in streaming form this is the stream-static
    join — the static side is planned once per micro-batch, never keeps
    state, and never blocks the watermark (unlike stream-stream joins).
    """
    mapped = ev.withColumn("n_nationkey", F.col("user_id") % 25)
    return (
        mapped.join(F.broadcast(nation), "n_nationkey")
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )


@register(
    "t8_stream_static_join",
    oracle="""
    SELECT r.r_name,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 4)   AS total_value
    FROM events e
    JOIN nation n ON e.user_id % 25 = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY r.r_name
    """,
    doc="T8: stream-static enrichment join — the unbounded event stream "
    "joined to bounded dimension tables (user→nation→region), then "
    "aggregated per region. The static side is broadcast and re-read "
    "per micro-batch (picking up dim updates), holds NO join state and "
    "needs no watermark — the cheap half of the streaming-join taxonomy "
    "next to t7's dual-watermark stream-stream interval join. Batch "
    "face shares the exact semantics; the true readStream form is "
    "asserted equal in tests/test_streaming.py.",
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        user_nation_enrichment(ev, nation, region)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register(
    "t11_dedup_within_watermark",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_unique_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="T11: dropDuplicatesWithinWatermark, driven through a REAL "
    "streaming query (readStream → watermark → dedup → memory sink, "
    "AvailableNow) — the BOUNDED-state form of t5's streaming dedup: "
    "plain dropDuplicates keys state forever (the unbounded-growth "
    "failure mode at 100 TB/day), while the within-watermark variant "
    "evicts a key's state once the watermark passes its event time, "
    "trading 'exactly-once forever' for 'exactly-once within the "
    "lateness horizon' — the correct production contract when "
    "duplicates arrive close together (retries, at-least-once "
    "sources). Over the bounded fixture with a delay longer than the "
    "stream's span, no state evicts mid-run, so the result equals "
    "full distinct — the oracle; eviction behavior across batches is "
    "t5's existing multi-batch test territory. The dedup itself "
    "shuffles once on the dedup keys; the post-sink aggregate is "
    "batch.",
    tags=("streaming", "stateful"),
)
def dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    deduped = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    ckpt = scratch_dir("t11_ckpt_")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t11_sink")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(ckpt, "state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table("t11_sink")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
    )


@register(
    "t12_sink_log_handoff",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT)  AS n_events,
           round(sum(value), 4)      AS total_value
    FROM events
    WHERE value >= 50
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="T12: stream->sink->stream handoff governed by the file sink's "
    "commit log — the s16/s17 composition through the STREAMING face "
    "(round-4 verdict item 6): stage 1 is s16's filtered AvailableNow "
    "stream into a parquet FILE sink (writes data files plus a "
    "_spark_metadata transaction log); an ORPHAN part file is then "
    "planted in the sink dir (real rows, real footer — the debris of "
    "a micro-batch that died before its commit record); stage 2 is a "
    "second AvailableNow readStream over the SAME directory, whose "
    "FileStreamSource detects the upstream sink's log and enumerates "
    "committed files FROM THE LOG, never from a directory listing — "
    "so the orphan is invisible and the handoff stays exactly-once "
    "with no manifest table (contrast s2's explicit manifest). Stage 2 "
    "re-sinks to a plain parquet dir; the final batch aggregate must "
    "equal the oracle computed from RAW events — equality proves no "
    "batch was dropped, doubled, or polluted by the orphan across "
    "BOTH hops. At scale this is the bronze->silver stream relay: "
    "each stage's log is the next stage's source of truth, and "
    "compaction must write NEW directories or the log and the files "
    "disagree (s7).",
    tags=("streaming", "sink", "pipeline"),
)
def sink_log_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    sink1 = scratch_dir("t12_sink1_")
    sink2 = scratch_dir("t12_sink2_")
    q1 = (
        stream_events(spark, sf_dir)
        .filter(F.col("value") >= 50)
        .select("event_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("path", sink1)
        .option("checkpointLocation", scratch_dir("t12_ck1_"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()

    part = next(
        f
        for f in os.listdir(sink1)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    shutil.copy(
        os.path.join(sink1, part),
        os.path.join(sink1, "part-99999-deadbeef-orphan.snappy.parquet"),
    )

    q2 = (
        spark.readStream.schema(
            "event_id long, event_type string, value double"
        )
        .parquet(sink1)
        .writeStream.format("parquet")
        .option("path", sink2)
        .option("checkpointLocation", scratch_dir("t12_ck2_"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    return (
        spark.read.schema("event_id long, event_type string, value double")
        .parquet(sink2)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# t13 and t13b persist the same register table, so they share one oracle.
_REGISTERS_ORACLE = f"""
    WITH {_HLL_DAY_REGISTERS_ORACLE}
    SELECT week, day, CAST(bucket AS INT) AS bucket, CAST(r AS INT) AS r
    FROM daily
    ORDER BY week, day, bucket
    """


@register(
    "t13_streaming_sketch_registers",
    oracle=_REGISTERS_ORACLE,
    doc="T13: the STREAMING face of the a23b sketch workflow — the "
    "day-grain portable HLL registers maintained by Structured "
    "Streaming as events arrive: readStream over the events parquet, "
    "md5 bucket/rank projection, a streaming max() aggregation per "
    "(week, day, bucket) in complete mode (register state is bounded "
    "by days x 16, the textbook always-fits streaming aggregate), "
    "AvailableNow trigger. The emitted table IS a23b's persisted "
    "sketch state — so this carries a FULL value oracle (DuckDB "
    "rebuilds the identical registers from the same parquet), unusual "
    "for a streaming query: the state itself is engine-neutral. At "
    "scale this is the production ingestion path the a23b rollup "
    "assumes: the stream keeps day registers current incrementally "
    "(new events only max-fold into today's registers), and any "
    "engine merges/estimates from the stored state without ever "
    "rescanning the event history. Stream-equals-batch register "
    "equality is additionally pinned in tests/test_streaming.py.",
    tags=("streaming", "sketch", "scale"),
)
def streaming_sketch_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from mric_bak_etl_spark.operators.aggregates import _hll_max_rank

    stream = stream_events(spark, sf_dir).select(
        F.date_format(
            F.date_trunc("week", F.col("ts")), "yyyy-MM-dd"
        ).alias("week"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.md5(F.col("user_id").cast("string")).alias("h"),
    )
    daily = _hll_max_rank(stream, ["week", "day"])
    view = f"t13_registers_{uuid.uuid4().hex[:8]}"
    q = (
        daily.writeStream.format("memory")
        .queryName(view)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(view)
        .select(
            "week",
            "day",
            F.col("bucket").cast("int").alias("bucket"),
            F.col("r").cast("int").alias("r"),
        )
    )


def make_register_merge_sink(base: str, state: dict[str, int]):
    """Build the t13b foreachBatch handler: max-fold each micro-batch's
    updated (week, day, bucket, r) register rows into the persisted
    register table, committed as t10's next version
    (make_versioned_merge_sink)."""
    # Local import: stateful imports stream_events from this module at
    # module level, so the reverse import must stay function-local.
    from mric_bak_etl_spark.streaming.stateful import (
        make_versioned_merge_sink,
    )

    def merge(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        merged = batch_df if cur is None else cur.unionByName(batch_df)
        return merged.groupBy("week", "day", "bucket").agg(
            F.max("r").alias("r")
        )

    return make_versioned_merge_sink(base, state, merge)


@register(
    "t13b_streaming_register_maintenance",
    oracle=_REGISTERS_ORACLE,
    doc="T13b: t13's production face — UPDATE-mode incremental register "
    "maintenance. The streaming max() aggregation emits only the "
    "register rows a micro-batch CHANGED (update mode), and a "
    "foreachBatch sink max-folds those rows into the persisted register "
    "table as an immutable next-version commit (t10's batch_id-keyed "
    "idempotent shape). max is the merge operator, so the persisted "
    "state is identical whatever the arrival order or batch split — the "
    "register table, not the state store, is the durable sketch, and a "
    "reader (a23b's rollup/estimate) never rescans event history. At "
    "scale: per-batch sink work is O(changed registers) = days-touched "
    "x 16 rows, not O(events); stream-side state is bounded the same "
    "way; the versioned commit keeps readers consistent under crash-"
    "replay (asserted across a two-batch split + restart in "
    "tests/test_streaming.py). Same register-table oracle as t13: the "
    "final state is engine-neutral md5 bucket/rank math.",
    tags=("streaming", "sketch", "sink", "stateful"),
)
def streaming_register_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from mric_bak_etl_spark.operators.aggregates import _hll_max_rank

    base = scratch_dir("t13b_reg_")
    state = {"version": 0}
    stream = stream_events(spark, sf_dir).select(
        F.date_format(
            F.date_trunc("week", F.col("ts")), "yyyy-MM-dd"
        ).alias("week"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.md5(F.col("user_id").cast("string")).alias("h"),
    )
    daily = _hll_max_rank(stream, ["week", "day"])
    ckpt = scratch_dir("t13b_ckpt_")
    # State-sized stream partitioning (optimization r14): the stateful
    # aggregation's state-store instance count is fixed at first batch
    # from spark.sql.shuffle.partitions, and this operator's state is
    # REGISTER-grain by design — (week, day, bucket) rows, 16 buckets ×
    # calendar days: bounded and tiny at ANY corpus scale (that is the
    # whole point of the sketch). Core-count instances (32 RocksDB
    # stores for 112 rows) are pure open/commit overhead: A/B'd 32→4 at
    # sf0.1 = 2.61 → 1.47 s, values identical (max-fold is partition-
    # count-invariant; r13's A/B of the same knob under the HDFS store
    # measured no win — the cost is per-instance in RocksDB). Scoped to
    # THIS query's planning and restored after; checkpoint dirs are
    # fresh per call, so no cross-count state reuse exists.
    shuffle_conf = "spark.sql.shuffle.partitions"
    prev_parts = spark.conf.get(shuffle_conf)
    spark.conf.set(shuffle_conf, 4)
    try:
        q = (
            daily.writeStream.foreachBatch(
                make_register_merge_sink(base, state)
            )
            .outputMode("update")
            .option("checkpointLocation", os.path.join(ckpt, "state"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(shuffle_conf, prev_parts)
    from mric_bak_etl_spark.streaming.stateful import read_committed_version

    final = read_committed_version(spark, base, state, "t13b")
    return final.select(
        "week",
        "day",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("r").cast("int").alias("r"),
    )
