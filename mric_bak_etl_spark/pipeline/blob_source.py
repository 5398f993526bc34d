"""Custom Python DataSource (Spark 4): the reference's blob-listing input
as a first-class source.

The reference's pipeline starts from `azcopy list --output-type=text`
emitting lines like ``INFO: <name>; Content Length: <bytes>`` that it
parses row-by-row (/root/reference/src/bak_unload.ps1:22-37). Here that
input IS a Spark data source: ``spark.read.format("blob_listing")`` —
partitioned, schema'd, and composable with every downstream operator —
implemented on the Spark 4 Python DataSource API (DataSource /
DataSourceReader / InputPartition).

Scale notes: a real listing source shards the namespace across partitions
(per-prefix, as here with name ranges) so a 10^9-object store lists in
parallel instead of the reference's single `azcopy list` + client-side
sort; the reader yields rows lazily per partition (no driver
materialization). The synthetic generator is deterministic per (partition,
index) so results are reproducible and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.pipeline.manifest import filter_snapshots, parse_listing_lines

N_PARTITIONS = 4
ROWS_PER_PARTITION = 75


def _listing_line(i: int) -> str:
    """Deterministic azcopy-style listing line for global row index i.

    Every 3rd entry is a non-zip artifact (log) — exercising the
    reference's `.zip` filter (src/bak_unload.ps1:31).
    """
    ext = "log" if i % 3 == 2 else "zip"
    return f"INFO: backup_{i:05d}.{ext}; Content Length: {(i * 7919) % 100000}"


def _make_datasource():
    """Build the DataSource class lazily (import-gated per environment)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class BlobListingReader(DataSourceReader):
        def __init__(self, options):
            self.n_partitions = int(options.get("numPartitions", N_PARTITIONS))
            self.rows_per = int(options.get("rowsPerPartition", ROWS_PER_PARTITION))

        def partitions(self):
            return [InputPartition(i) for i in range(self.n_partitions)]

        def read(self, partition):
            base = partition.value * self.rows_per
            for i in range(base, base + self.rows_per):
                yield (_listing_line(i),)

    class BlobListingDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "blob_listing"

        def schema(self) -> str:
            return "value string"

        def reader(self, schema):
            return BlobListingReader(self.options)

    return BlobListingDataSource


def register_blob_listing_source(spark: SparkSession) -> None:
    """Idempotently register the format with this session."""
    spark.dataSource.register(_make_datasource())


@register(
    "s12_python_datasource",
    oracle=f"""
    WITH listing AS (
      SELECT 'INFO: backup_' || printf('%05d', i) ||
             CASE WHEN i % 3 = 2 THEN '.log' ELSE '.zip' END ||
             '; Content Length: ' || CAST((i * 7919) % 100000 AS VARCHAR)
               AS value
      FROM range(0, {N_PARTITIONS * ROWS_PER_PARTITION}) t(i)
    ),
    parsed AS (
      SELECT substring(string_split(value, ';')[1], 7) AS name,
             CAST(string_split(value, ': ')[3] AS BIGINT) AS bytes
      FROM listing
    )
    SELECT CAST(count(*) AS BIGINT) AS n_zips,
           max(name)                AS latest,
           CAST(sum(bytes) AS BIGINT) AS total_bytes
    FROM parsed WHERE contains(name, '.zip')
    """,
    doc="S12: custom Python DataSource (Spark 4 DataSource API) — the "
    "reference's azcopy listing (src/bak_unload.ps1:22-37) as a real "
    "spark.read format: partitioned namespace enumeration (4 input "
    "partitions here; per-prefix shards at scale), lazy per-partition "
    "row generation, fixed schema. Downstream is the reference's exact "
    "pipeline shape: parse (R2) -> .zip filter (R3) -> latest-pick max "
    "(R6) + size audit, all pushed through ordinary Catalyst operators. "
    "The deterministic generator makes the source oracle-checkable in "
    "DuckDB via the same closed-form range().",
    tags=("sources", "pipeline"),
)
def python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    register_blob_listing_source(spark)
    listing = spark.read.format("blob_listing").load()
    return filter_snapshots(parse_listing_lines(listing)).agg(
        F.count(F.lit(1)).alias("n_zips"),
        F.max("name").alias("latest"),
        F.sum(F.split("value", ": ").getItem(2).cast("bigint")).alias(
            "total_bytes"
        ),
    )
