"""True streaming semantics (SURVEY.md §5.2): readStream + watermark +
AvailableNow driven to completion via the memory sink, checked against the
batch-equivalent results — the checks DuckDB can't arbitrate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mric_bak_etl_spark.streaming.windows import stream_events, tumbling_window
from mric_bak_etl_spark.tables import load_table


def run_to_completion(stream_df, query_name: str, output_mode: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    agg = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
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
    run_to_completion(agg, "t1_stream", "complete")
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM t1_stream").collect()
    }
    want = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in tumbling_window(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_dedup_within_watermark(spark, sf_dir):
    dedup = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    run_to_completion(dedup, "t5_stream", "append")
    n_stream = spark.sql(
        "SELECT count(*) AS n FROM (SELECT DISTINCT user_id, event_type FROM t5_stream)"
    ).collect()[0]["n"]
    n_batch = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    # Within-watermark dedup can re-emit a key only once its state expired;
    # over this bounded replay every distinct key appears, and the distinct
    # count of emissions equals the batch distinct count.
    assert n_stream == n_batch


def test_stateful_running_totals_carry_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: state persists between micro-batches — a
    user's totals in batch 2 include batch 1's rows."""
    import os

    from mric_bak_etl_spark.streaming.stateful import stateful_running_totals

    d = str(tmp_path / "stateful_in")
    os.makedirs(d)
    schema = "user_id long, value double"
    spark.createDataFrame([(1, 10.0), (1, 5.0), (2, 1.0)], schema).write.mode(
        "append"
    ).parquet(d)

    def run_round(qname: str):
        emitted: dict[int, tuple[int, float]] = {}
        raw = spark.readStream.schema(schema).parquet(d)
        q = (
            stateful_running_totals(raw)
            .writeStream.foreachBatch(
                lambda df, _e: emitted.update(
                    {
                        r["user_id"]: (r["n_events"], r["total_value"])
                        for r in df.collect()
                    }
                )
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return emitted

    first = run_round("t6_round1")
    assert first == {1: (2, 15.0), 2: (1, 1.0)}
    # Batch 2 arrives after the first query finished; same checkpoint → the
    # restarted query restores state and folds the new rows on top.
    spark.createDataFrame([(1, 1.0), (3, 7.0)], schema).write.mode(
        "append"
    ).parquet(d)
    second = run_round("t6_round2")
    assert second[1] == (3, 16.0)  # batch-1 state carried, not recomputed
    assert second[3] == (1, 7.0)


def test_streaming_late_rows_dropped(spark, tmp_path):
    """Arrival-order watermark semantics: a row older than the watermark,
    arriving in a later micro-batch, is dropped from the aggregation."""
    import os

    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    # Batch 1: events at 10:00 and 12:00 → watermark advances to 11:50.
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-01 12:00:00", 1.0)],
        "id long, ts_s string, v double",
    ).write.mode("append").parquet(d)

    updates: list[tuple[str, int]] = []

    def start():
        raw = (
            spark.readStream.schema("id long, ts_s string, v double")
            .parquet(d)
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
        )
        agg = (
            raw.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.foreachBatch(
                lambda df, _e: updates.extend(
                    (str(r["ws"]), r["n"]) for r in df.collect()
                )
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    start()
    # Batch 2: a 10:30 row — older than the 11:50 watermark → dropped.
    spark.createDataFrame(
        [(3, "2024-01-01 10:30:00", 1.0)], "id long, ts_s string, v double"
    ).write.mode("append").parquet(d)
    start()

    # The 10:00 window is never updated to 2: the late row did not enter it.
    assert ("2024-01-01 10:00:00", 1) in updates
    assert ("2024-01-01 10:00:00", 2) not in updates


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """T7 true-streaming face: two readStreams (clicks, purchases), dual
    watermarks, time-bounded inner join driven AvailableNow — the emitted
    pair set must equal the batch-face join exactly (inner joins emit only
    matched pairs, so on bounded input streaming == batch)."""
    from mric_bak_etl_spark.streaming.windows import (
        attribution_join,
        split_click_purchase,
        stream_events,
    )
    from mric_bak_etl_spark.tables import load_table

    c_s, p_s = split_click_purchase(stream_events(spark, sf_dir))
    pairs = attribution_join(
        c_s.withWatermark("click_ts", "2 hours"),
        p_s.withWatermark("p_ts", "2 hours"),
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("t7_pairs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table("t7_pairs")
        .groupBy("user_id")
        .count()
        .orderBy("user_id")
        .collect()
    )
    c_b, p_b = split_click_purchase(load_table(spark, sf_dir, "events"))
    want = (
        attribution_join(c_b, p_b)
        .groupBy("user_id")
        .count()
        .orderBy("user_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_stream_static_join_matches_batch(spark, sf_dir):
    """T8 true-streaming face: readStream events joined to static broadcast
    dims (no watermark needed — the static side holds no state), windowless
    global agg in complete mode; must equal the batch face exactly."""
    from mric_bak_etl_spark.streaming.windows import (
        stream_events,
        stream_static_join,
        user_nation_enrichment,
    )
    from mric_bak_etl_spark.tables import load_table

    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    ev_s = stream_events(spark, sf_dir).select("user_id", "value")
    agg = (
        user_nation_enrichment(ev_s, nation, region)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    q = run_to_completion(agg, "t8_region_agg", "complete")
    got = sorted(tuple(r) for r in spark.table("t8_region_agg").collect())
    want = sorted(tuple(r) for r in stream_static_join(spark, sf_dir).collect())
    assert got == want
    assert len(got) > 0


def test_foreachbatch_idempotent_sink(spark, sf_dir, tmp_path):
    """Exactly-once via idempotent foreachBatch: each micro-batch writes to
    a deterministic batch-keyed path with overwrite semantics, so a REPLAYED
    batch (task retry, checkpoint recovery re-delivery) lands on the same
    path and changes nothing — at-least-once delivery + idempotent sink =
    exactly-once output."""
    from mric_bak_etl_spark.streaming.windows import stream_events

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    seen: list[int] = []

    def sink(df, batch_id: int):
        seen.append(batch_id)
        (df.write.mode("overwrite")
           .parquet(f"{out}/batch={batch_id}"))

    q = (
        stream_events(spark, sf_dir)
        .select("event_id", "user_id", "value")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert seen, "stream produced no batches"

    first = spark.read.parquet(out)
    n_first = first.count()
    n_distinct = first.select("event_id").distinct().count()
    assert n_first == n_distinct  # no duplicate delivery in the output

    # Replay batch 0 with identical content — the retry scenario. The
    # overwrite on the same deterministic path must leave totals unchanged.
    # (Materialize first: a lazy self-read would race its own overwrite.)
    batch0 = spark.read.parquet(f"{out}/batch={seen[0]}")
    replay = spark.createDataFrame(batch0.collect(), batch0.schema)
    sink(replay, seen[0])
    assert spark.read.parquet(out).count() == n_first


def test_append_mode_emits_only_watermark_closed_windows(spark, tmp_path):
    # Append-mode windowed aggregation: a window is emitted exactly once,
    # and only after the watermark passes its end — the production
    # contract that makes downstream sinks idempotent. Two micro-batches:
    # batch 2's max event time (10:59) leaves watermark at 10:49, so only
    # the 09:00 window (end 10:00 <= 10:49) finalizes; the 10:00 window
    # stays in state.
    src = tmp_path / "src"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long, value double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    import datetime as dt

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    write_batch("b1", [(1, t(9, 5), 1, 1.0), (2, t(9, 40), 1, 1.0)])
    write_batch("b2", [(3, t(10, 20), 1, 1.0), (4, t(10, 59), 1, 1.0)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_append")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(str(r["ws"]), r["n"]) for r in spark.sql("SELECT * FROM t_append").collect()}
    assert got == {("2024-01-01 09:00:00", 2)}


def test_foreachbatch_merge_accumulates_across_batches(spark, tmp_path):
    """t10's merge sink: per-user totals accumulate across micro-batches
    (maxFilesPerTrigger=1 forces one batch per input file), the final
    target equals the global aggregate, and a replayed stale batch_id is
    an idempotent no-op."""
    import os

    from pyspark.sql import functions as F

    from mric_bak_etl_spark.streaming.stateful import make_merge_sink

    d = str(tmp_path / "t10_in")
    os.makedirs(d)
    schema = "user_id long, value double"
    spark.createDataFrame([(1, 10.0), (2, 1.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    spark.createDataFrame([(1, 5.0), (3, 7.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    base = str(tmp_path / "t10_tgt")
    state = {"version": 0}
    sink = make_merge_sink(base, state)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "t10_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["version"] == 2  # two files -> two micro-batches merged

    final = spark.read.parquet(os.path.join(base, f"v{state['version']}"))
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in final.collect()
    }
    assert got == {1: (2, 15.0), 2: (1, 1.0), 3: (1, 7.0)}

    # Replay of an already-merged batch id: idempotent skip, target unchanged.
    replay = spark.createDataFrame([(1, 999.0)], schema)
    sink(replay, 0)
    assert state["version"] == 2
    again = spark.read.parquet(os.path.join(base, f"v{state['version']}"))
    assert {
        r["user_id"]: (r["n_events"], r["total_value"]) for r in again.collect()
    } == got


def test_foreachbatch_merge_survives_restart(spark, tmp_path):
    """t10 restart contract: a SECOND streaming query on the same
    checkpoint (fresh in-memory state — the crashed-and-restarted
    process) must resume from the on-disk version pointer, not rebuild
    the target from its first resumed batch."""
    import os

    from mric_bak_etl_spark.streaming.stateful import make_merge_sink

    d = str(tmp_path / "t10r_in")
    os.makedirs(d)
    schema = "user_id long, value double"
    base = str(tmp_path / "t10r_tgt")
    ckpt = str(tmp_path / "t10r_ckpt")

    def run_query():
        # fresh state dict each run = fresh process memory
        sink = make_merge_sink(base, {"version": 0})
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame([(1, 10.0), (2, 1.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    run_query()  # "crash" after this completes

    spark.createDataFrame([(1, 5.0), (3, 7.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    run_query()  # restarted process: checkpoint resumes at batch 1

    latest = max(
        int(v[1:]) for v in os.listdir(base) if v.startswith("v")
    )
    final = spark.read.parquet(os.path.join(base, f"v{latest}"))
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in final.collect()
    }
    # Batch-0 state must still be present after the restart merge.
    assert got == {1: (2, 15.0), 2: (1, 1.0), 3: (1, 7.0)}


def test_foreachbatch_merge_ignores_partial_version_dir(
    spark, tmp_path, monkeypatch
):
    """t10 crash-mid-write contract: a process that dies while writing
    v2 (here: after the data is written, before the commit) must leave
    no v2 — only a staging dir that no reader or restart trusts — so
    the replayed batch re-merges and commits the full aggregate. A v2
    that existed before its write finished would make the replay skip
    as 'already merged' and pin a corrupt target forever (ADVICE r3)."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from mric_bak_etl_spark.streaming.stateful import make_merge_sink

    d = str(tmp_path / "t10p_in")
    os.makedirs(d)
    schema = "user_id long, value double"
    base = str(tmp_path / "t10p_tgt")
    ckpt = str(tmp_path / "t10p_ckpt")

    def run_query():
        sink = make_merge_sink(base, {"version": 0})
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame([(1, 10.0), (2, 1.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    run_query()  # v1 committed

    spark.createDataFrame([(1, 5.0), (3, 7.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    real_parquet = DataFrameWriter.parquet

    def crash_after_write(self, path, *a, **k):
        real_parquet(self, path, *a, **k)
        raise RuntimeError("simulated crash mid-version")

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", crash_after_write)
        with pytest.raises(Exception, match="mid-version"):
            run_query()
    assert not os.path.exists(os.path.join(base, "v2"))
    stray = [p for p in os.listdir(base) if p.startswith("_staging_")]
    assert len(stray) == 1

    run_query()  # restarted process replays batch 1
    assert sorted(p for p in os.listdir(base) if p.startswith("v")) == ["v1", "v2"]
    final = spark.read.parquet(os.path.join(base, "v2"))
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in final.collect()
    }
    assert got == {1: (2, 15.0), 2: (1, 1.0), 3: (1, 7.0)}


def test_file_sink_metadata_log_feeds_selective_stream(spark, sf_dir, tmp_path):
    """s16→s17 composition through the STREAMING face (r4 verdict item 6):
    the s16 file sink's _spark_metadata commit log must govern BOTH ways
    the sink directory is consumed — a batch read AND a downstream
    readStream (the s17-style selective-ingestion face). An orphan
    parquet file planted in the sink dir (the debris of a micro-batch
    that died before committing) must be invisible to both consumers;
    a naive directory listing would double-count it.
    """
    import os
    import shutil

    from mric_bak_etl_spark.streaming.windows import stream_events

    out = str(tmp_path / "s16_sink")
    ckpt = str(tmp_path / "s16_ckpt")
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
    assert os.path.isdir(os.path.join(out, "_spark_metadata"))

    expected = (
        spark.read.parquet(out)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("tv"),
            F.sum("value").alias("tv_raw"),
        )
        .collect()[0]
    )

    # Plant the orphan: copy a committed part file under an uncommitted
    # name — real rows, real footer, absent from _spark_metadata.
    part = next(
        f for f in os.listdir(out)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    shutil.copy(
        os.path.join(out, part),
        os.path.join(out, "part-99999-deadbeef-orphan.snappy.parquet"),
    )

    # Batch consumer: the log, not the listing, defines the table.
    after = (
        spark.read.parquet(out)
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("tv"))
        .collect()[0]
    )
    assert (after["n"], after["tv"]) == (expected["n"], expected["tv"])

    # Streaming consumer (s17 face): a second AvailableNow stream reads
    # the sink dir — FileStreamSource detects the upstream FileStreamSink
    # log and enumerates COMMITTED files from it. foreachBatch counts
    # what actually arrived.
    seen = {"n": 0, "tv": 0.0}

    def absorb(df, batch_id: int) -> None:
        row = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv")
        ).collect()[0]
        seen["n"] += row["n"] or 0
        seen["tv"] += row["tv"] or 0.0

    q2 = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .parquet(out)
        .writeStream.foreachBatch(absorb)
        .option("checkpointLocation", str(tmp_path / "s17_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert seen["n"] == expected["n"]
    # Tolerance, not equality-of-rounded: Python round() is banker's,
    # F.round is half-away — a .xxxx5 tie boundary plus cross-batch
    # accumulation order could flip a 4dp equality (r5 ADVICE).
    assert abs(seen["tv"] - expected["tv_raw"]) < 1e-6


def test_streaming_registers_equal_batch_registers(spark, sf_dir):
    """t13's claim: the register table maintained by the streaming
    aggregation is IDENTICAL to the batch-built one — same (week, day,
    bucket) keys, same max ranks — so the a23b rollup can consume
    stream-maintained state interchangeably with batch-built state."""
    from pyspark.sql import functions as F

    from mric_bak_etl_spark.operators.aggregates import _hll_max_rank
    from mric_bak_etl_spark.streaming.windows import (
        streaming_sketch_registers,
    )
    from mric_bak_etl_spark.tables import load_table

    streamed = {
        (r["week"], r["day"], r["bucket"]): r["r"]
        for r in streaming_sketch_registers(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events")
    batch = _hll_max_rank(
        e.select(
            F.date_format(
                F.date_trunc("week", F.col("ts")), "yyyy-MM-dd"
            ).alias("week"),
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.md5(F.col("user_id").cast("string")).alias("h"),
        ),
        ["week", "day"],
    )
    batched = {
        (r["week"], r["day"], r["bucket"]): r["r"] for r in batch.collect()
    }
    assert streamed == batched


def test_register_maintenance_two_batches_equal_one(spark, sf_dir, tmp_path):
    """t13b's claim: UPDATE-mode register maintenance through the
    foreachBatch max-fold sink reaches the SAME persisted register table
    whether the events arrive as one micro-batch or split across two
    (max is the merge operator — state is arrival-order-neutral), and a
    replayed stale batch_id is an idempotent no-op."""
    import os
    from datetime import datetime

    from pyspark.sql import functions as F

    from mric_bak_etl_spark.operators.aggregates import _hll_max_rank
    from mric_bak_etl_spark.streaming.windows import (
        make_register_merge_sink,
    )

    schema = "ts timestamp, user_id long"
    rows_a = [(datetime(2024, 3, 4, 10, 0, 0), u) for u in range(40)]
    rows_b = [(datetime(2024, 3, 5, 9, 0, 0), u) for u in range(20, 70)]
    d = str(tmp_path / "t13b_in")
    os.makedirs(d)
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    def project(df):
        return df.select(
            F.date_format(
                F.date_trunc("week", F.col("ts")), "yyyy-MM-dd"
            ).alias("week"),
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.md5(F.col("user_id").cast("string")).alias("h"),
        )

    base = str(tmp_path / "t13b_tgt")
    state = {"version": 0}
    sink = make_register_merge_sink(base, state)
    q = (
        _hll_max_rank(
            project(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(d)
            ),
            ["week", "day"],
        )
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "t13b_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["version"] == 2  # two files -> two merged micro-batches

    streamed = {
        (r["week"], r["day"], r["bucket"]): r["r"]
        for r in spark.read.parquet(
            os.path.join(base, f"v{state['version']}")
        ).collect()
    }
    one_batch = {
        (r["week"], r["day"], r["bucket"]): r["r"]
        for r in _hll_max_rank(
            project(spark.read.parquet(d)), ["week", "day"]
        ).collect()
    }
    assert streamed == one_batch

    # Replay of an already-merged batch id: idempotent skip.
    replay = spark.createDataFrame(
        [("2024-03-04", "2024-03-04", 0, 53)],
        "week string, day string, bucket int, r int",
    )
    sink(replay, 0)
    assert state["version"] == 2
    again = {
        (r["week"], r["day"], r["bucket"]): r["r"]
        for r in spark.read.parquet(
            os.path.join(base, f"v{state['version']}")
        ).collect()
    }
    assert again == one_batch


def test_stream_events_reads_directory_layout(spark, sf_dir, tmp_path):
    """Production parquet tables are DIRECTORIES of part files, not the
    fixtures' single flat file. stream_events must stream both layouts
    — with the flat-file glob alone, a directory-layout events table
    matches nothing and the stream is silently EMPTY (found by the t13
    100x probe against a Spark-written synth corpus)."""
    from mric_bak_etl_spark.streaming.windows import stream_events
    from mric_bak_etl_spark.tables import load_table

    src = load_table(spark, sf_dir, "events")
    d = str(tmp_path / "dirlayout")
    src.limit(200).write.parquet(f"{d}/events.parquet")

    out = (
        stream_events(spark, d)
        .writeStream.format("memory")
        .queryName("t_dirlayout")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination()
    n = spark.table("t_dirlayout").count()
    assert n == 200
