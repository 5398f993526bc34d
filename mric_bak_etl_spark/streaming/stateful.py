"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2B T-family extension; the escape hatch when built-in
windows/dedup can't express the state machine).

The operator: per-user running totals — state = (n_events, total_value),
updated per micro-batch, emitting the refreshed totals for every user seen
in the batch. This is the minimal shape of real curation state machines
(per-source quota tracking, per-user rate limits, incremental corpus
counters).

The catalog entry drives the REAL streaming query (readStream → grouped
state → memory sink, Trigger.AvailableNow) to completion inside the
builder, then returns the sink contents. Over bounded input the final
emission per user equals the batch aggregate, which is the DuckDB oracle.
Arrival-order behavior across multiple micro-batches (state carried
between batches) is exercised separately in tests/test_streaming.py.

Scale notes (100 TB/day): state lives in the state store, partitioned by
the grouping key — the shuffle is on user_id and state size is
O(distinct users), not O(events). Without a timeout, state never expires;
production configs set GroupStateTimeout (processing/event time) exactly
like a watermark bounds T3/T5 — unbounded key cardinality with no timeout
is the OOM path. The pandas function sees one Arrow batch iterator per key
per micro-batch: no driver involvement, no per-row Python crossing.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mric_bak_etl_spark.artifacts import versioned_sink
from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.session import scratch_dir

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n long, total double"


def running_totals(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """State update function: fold the batch into (n, total), emit totals."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    # Emit the RAW total: quantization happens in the consumer's Spark
    # projection via F.round (half-away, like the DuckDB oracle) — a
    # Python round() here is banker's rounding and diverges on exact
    # .xxxx5 ties (the x10 lesson, applied across every UDF stage).
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def stateful_running_totals(events_stream: DataFrame) -> DataFrame:
    """Wire the state machine over a streaming events frame."""
    return (
        events_stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            running_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@register(
    "t6_stateful_custom",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4)     AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="T6: custom stateful operator — applyInPandasWithState per-user "
    "running totals, driven through a REAL streaming query "
    "(readStream → grouped state → memory sink, AvailableNow) inside the "
    "builder; the final per-user emission over bounded input equals the "
    "batch aggregate (the oracle). State is keyed by user_id in the state "
    "store; at scale a GroupStateTimeout bounds it like a watermark.",
    tags=("streaming", "udf", "stateful"),
)
def stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mric_bak_etl_spark.streaming.windows import stream_events

    out = stateful_running_totals(stream_events(spark, sf_dir))
    ckpt = scratch_dir("t6_ckpt_")
    q = (
        out.writeStream.format("memory")
        .queryName("t6_sink")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(ckpt, "state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Multiple micro-batches re-emit a user with refreshed totals; the last
    # emission (max n_events) per user is the final state.
    sink = spark.table("t6_sink")
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 4).alias("total_value"),
        )
    )


def make_versioned_merge_sink(base: str, state: dict[str, int], merge):
    """The versioned MERGE sink shared by t10 and t13b: each batch's
    next version is ``merge(batch_df, cur)`` written whole, where
    ``cur`` is the current committed target (None on the first commit).
    Version recovery, the replay skip and the atomic commit are
    :func:`artifacts.versioned_sink`'s."""

    def write(batch_df: DataFrame, prev: str | None, staging: str) -> None:
        cur = None if prev is None else batch_df.sparkSession.read.parquet(prev)
        merge(batch_df, cur).write.mode("overwrite").parquet(staging)

    return versioned_sink(base, state, write)


def read_committed_version(spark, base: str, state: dict[str, int], label: str):
    """Read the final committed v{N} target after awaitTermination — the
    consumer-side half of the versioned-commit scaffold, shared by t10
    and t13b so the zero-batch guard lives beside the invariant it
    protects: if the stream fired no micro-batches (empty/missing
    source), v0 was never written, and the caller gets a clear error
    instead of an opaque path-not-found AnalysisException (ADVICE r9)."""
    if state["version"] == 0:
        raise RuntimeError(
            f"{label}: stream produced no micro-batches; no version "
            "was committed"
        )
    return spark.read.parquet(os.path.join(base, f"v{state['version']}"))


def make_merge_sink(base: str, state: dict[str, int]):
    """Build the t10 foreachBatch handler: merge each micro-batch's
    per-user aggregate into the current target version, commit as the
    next immutable version dir keyed by batch_id (idempotent on replay).
    Factored out so tests can drive it across multiple batches/restarts.
    """
    from pyspark.sql import functions as F

    def merge(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        agg = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        if cur is None:
            return agg
        return (
            cur.unionByName(agg)
            .groupBy("user_id")
            .agg(
                F.sum("n_events").cast("bigint").alias("n_events"),
                F.sum("total_value").alias("total_value"),
            )
        )

    return make_versioned_merge_sink(base, state, merge)


@register(
    "t10_foreach_batch_upsert",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4)     AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="T10: foreachBatch MERGE sink — the streaming escape hatch for "
    "sinks Spark has no native writer for (JDBC upsert, table-format "
    "MERGE): each micro-batch arrives as a bounded DataFrame plus a "
    "monotonically increasing batch_id; the handler aggregates the "
    "batch, full-outer-merges it into the current target version, and "
    "writes the result to a staging dir that one rename turns into the "
    "NEXT immutable version directory (artifacts.publish's commit, so "
    "readers never see a half-written target). "
    "batch_id is the idempotence key: on crash-replay the same batch "
    "re-arrives with the same id, and a handler that already committed "
    "version batch_id+1 skips it — exactly-once effects from at-least-"
    "once delivery, which is THE foreachBatch contract to get right. "
    "Merge work is per-batch-keys-sized and fully distributed; only "
    "the version pointer touches the driver. Over bounded input the "
    "final target equals the batch aggregate (the oracle); multi-batch "
    "state carry is exercised in tests/test_streaming.py.",
    tags=("streaming", "sink", "stateful"),
)
def foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from mric_bak_etl_spark.streaming.windows import stream_events

    base = scratch_dir("t10_tgt_")
    state = {"version": 0}
    merge_batch = make_merge_sink(base, state)

    ckpt = scratch_dir("t10_ckpt_")
    q = (
        stream_events(spark, sf_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(ckpt, "state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = read_committed_version(spark, base, state, "t10")
    return final.select(
        "user_id", "n_events", F.round("total_value", 4).alias("total_value")
    )
