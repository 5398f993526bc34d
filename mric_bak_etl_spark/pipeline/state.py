"""Processed-snapshot state: the pipeline's exactly-once bookkeeping.

Reference behavior (SURVEY.md §2A R7/R13): a one-line local text file holds
the last imported filename; the run exits early when the candidate equals it
(`src/bak_unload.ps1:57-65`) and commits the new name after a successful
load (`src/bak_unload.ps1:114-115`). Crash between load and commit → re-run
re-imports (at-least-once, idempotent because the load is a full replace).

Spark-first generalization: state is a *table* of processed names, not one
line — so the same anti-join pattern covers N-at-a-time backfills, and the
Structured Streaming runner gets the equivalent tracking from its file-source
checkpoint for free. Commit stays write-after-load, preserving the
reference's at-least-once + idempotent-replace semantics.

Scale notes (100 TB): the state table is tiny (one row per snapshot ever
seen) → always the broadcast side of the anti-join; the candidate set never
shuffles.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_STATE_SCHEMA = T.StructType([T.StructField("name", T.StringType(), False)])


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the processed-names table; empty DataFrame when no state yet
    (mirrors the reference's Test-Path probe, `src/bak_unload.ps1:58`).

    The probe is Spark's own path resolution, so a local path and a
    ``file://`` or ``abfss://`` URI behave alike: a missing dir raises
    ``PATH_NOT_FOUND`` and reads as no state, and a dir without parquet
    files reads as empty under the given schema. No job runs either way.
    """
    try:
        return spark.read.schema(_STATE_SCHEMA).parquet(state_dir)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
    return spark.createDataFrame([], _STATE_SCHEMA)


def filter_unprocessed(candidates: DataFrame, state: DataFrame) -> DataFrame:
    """R7: left anti-join candidates vs processed names — the 'already
    imported?' check. State is broadcast (it is tiny by construction)."""
    return candidates.join(F.broadcast(state), on="name", how="left_anti")


def commit_state(spark: SparkSession, state_dir: str, names: DataFrame) -> None:
    """R13: append newly imported names AFTER a successful load.

    Append (not overwrite) keeps the full processed set; the write happens
    strictly after the snapshot load completes, preserving the reference's
    ordering (`src/bak_unload.ps1:103` load before `:115` commit) and hence
    its crash-replay safety.
    """
    names.select("name").write.mode("append").parquet(state_dir)
