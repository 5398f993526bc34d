"""Snapshot-replace sink (SURVEY.md §2A R11/R12, §2B S3).

Reference behavior: ``DROP DATABASE IF EXISTS`` + ``RESTORE DATABASE`` via
sqlcmd — a full, NON-atomic replace (readers see no database between the
two statements, `src/bak_unload.ps1:90-103`), followed by a reader
grant (`src/bak_unload.ps1:105-111`) that a truncate-load makes
unnecessary (see ``overwrite_snapshot_jdbc``).

Spark-first: ``write.mode("overwrite")`` IS drop-and-replace, and it is
just as non-atomic: Spark clears the target before the job writes, so
readers can see an empty dir mid-load, and a load that fails (a corrupt
archive) leaves the target empty — the previous snapshot is gone. Safety
comes from the caller's commit order, as in the reference: the state row
is written only after the load, so a failed load commits nothing and the
next run loads the snapshot again (at-least-once, like DROP+RESTORE). The
JDBC variant targets the same SQL Server shape the reference loads into;
``s13_jdbc_roundtrip`` runs it against the embedded Derby driver that
ships with the Spark distribution.

Scale notes (100 TB): ``partition_by`` columns turn the snapshot into a
partition-pruned table for downstream readers; writer parallelism is the
DataFrame's partitioning (repartition before write to control file count —
many small files hurt listing, one giant file hurts parallel reads).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def overwrite_snapshot(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """R11 as parquet ``mode("overwrite")``: the target is cleared, then
    written. Not atomic — a failed write leaves ``path`` empty, and the
    caller must not commit the snapshot as loaded."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_snapshot_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> None:
    """R11, JDBC flavor: full-refresh load into an RDBMS (the reference's
    SQL Server target). ``truncate=true`` keeps the table definition and
    grants — which also covers R12: the reference re-grants after every
    restore only because DROP DATABASE destroys users; a truncate-load
    preserves them, so the grant step becomes a no-op by design.

    Requires the target's JDBC driver jar on the classpath; embedded Derby
    ships with Spark and is what ``s13_jdbc_roundtrip`` writes through.
    """
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("truncate", "true")
        .mode("overwrite")
    )
    for key, value in (properties or {}).items():
        writer = writer.option(key, value)
    writer.save()

