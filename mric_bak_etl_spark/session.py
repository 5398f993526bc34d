"""SparkSession construction and runtime-config hygiene.

Two audiences:

- our own tests / bench build a session via :func:`get_spark` with scale-aware
  defaults (AQE on, shuffle partitions ~= cores, UTC, Arrow);
- the verification driver hands us *its* session, so every entry point calls
  :func:`ensure_runtime_confs` to apply the runtime-settable configs we rely
  on for correctness (UTC session timezone for timestamp comparison against
  DuckDB; parquet TIMESTAMP(NANOS) read support for the events table).

100 TB posture: nothing here is local-mode-specific. On a real cluster the
same session code applies — AQE handles skew-join splitting and partition
coalescing at runtime, and ``spark.sql.shuffle.partitions`` becomes the
*initial* (pre-AQE) parallelism, sized ~2-3× total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs every entry point enforces, independent of who
# built the session. Keys verified settable via spark.conf.set on Spark 4.x.
_RUNTIME_CONFS: dict[str, str] = {
    # DuckDB timestamps are UTC-naive; pin the session so TimestampType and
    # TIMESTAMP_NTZ render identically on both sides of the oracle compare.
    "spark.sql.session.timeZone": "UTC",
    # The driver's events.parquet stores ts as INT64 TIMESTAMP(NANOS), which
    # vanilla Spark rejects (PARQUET_TYPE_ILLEGAL). Read it as a long and
    # convert in tables.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF stage and toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Streaming state store: RocksDB (optimization r14, judge task 7 —
    # A/B'd on t13b: 2.99 s HDFS-backed -> 2.34 s RocksDB, values
    # identical; kept on the >=15% bar). Also the 100 TB posture: state
    # lives off-heap and spills to disk instead of pressuring the JVM.
    # Runtime-settable; a session whose streams already committed
    # HDFS-format checkpoints keeps working because every stream here
    # uses a fresh checkpoint dir per call.
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
}


def _shuffle_partition_conf() -> dict[str, str]:
    # Initial (pre-AQE) shuffle parallelism sized to the engine instead of
    # Spark's global default of 200: on a driver-provided session every
    # shuffle otherwise schedules 200 tasks regardless of core count —
    # pure per-task overhead at test scale. Runtime-settable, and AQE
    # coalesces further downward; clusters set spark.sql.shuffle.partitions
    # on the session (~2-3× total executor cores).
    return {"spark.sql.shuffle.partitions": str(default_parallelism())}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs this engine depends on.

    Safe to call repeatedly and on sessions we did not build (the driver's).
    """
    for key, value in {**_RUNTIME_CONFS, **_shuffle_partition_conf()}.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A conf may be static on some builds; prefer degraded operation
            # over refusing to run.
            pass
    return spark


_SCRATCH_BASE: str | None = None


def scratch_dir(prefix: str) -> str:
    """A throwaway directory under ONE per-process base, removed at exit.

    Sink/checkpoint scratch for query builders (t12, s16, ...) that the
    whole-catalog plan sweep and parity runs rebuild repeatedly — rooting
    them under a single atexit-cleaned base keeps /tmp from accumulating
    debris across sweeps (r5 ADVICE). Each call still returns a fresh
    unique dir, so concurrent builders never collide.
    """
    global _SCRATCH_BASE
    import atexit
    import shutil
    import tempfile

    if _SCRATCH_BASE is None:
        _SCRATCH_BASE = tempfile.mkdtemp(prefix="mric_spark_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_BASE, True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_BASE)


def default_parallelism() -> int:
    """Shuffle-partition default: one per ENGINE core (driver-local testing).

    Honors the bench contract's core count ($SPARK_GRAFT_CPUS → master
    local[N]) ahead of os.cpu_count(): the driver also benches at a LOWER
    core count to measure scaling, and planning cpu_count() partitions on
    a local[8] session schedules 4 tasks per core of pure overhead on
    every exchange/spread (r13 optimization; AQE coalesces reducers but
    not the round-robin spread before CPU-dense stages). On a cluster,
    set spark.sql.shuffle.partitions on the session to ~2-3× total
    executor cores so AQE has room to coalesce downward.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit() and int(cpus) > 0:
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(app_name: str = "mric_bak_etl_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if the
    env var is unset); on a real cluster pass ``None`` and let
    spark-submit/cluster manager supply the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(default_parallelism()))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate may have returned a pre-existing session with other confs.
    return ensure_runtime_confs(spark)
