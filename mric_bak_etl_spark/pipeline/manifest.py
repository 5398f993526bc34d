"""Snapshot discovery: manifest scan, listing parse, latest-pick.

Reference behavior re-expressed (SURVEY.md §2A R1-R6):

- R1 `azcopy list` over the blob container (`src/bak_unload.ps1:22-23`) →
  a *manifest DataFrame*. Two sources: a real file listing
  (``spark.read.format("binaryFile")`` metadata columns — content is NOT
  read when only metadata columns are selected) or the reference's raw
  text-listing format (lines like ``INFO: name.zip; Content Length: 123``).
- R2 parse line → filename: ``split(';')[0]`` then strip the 6-char
  ``INFO: `` prefix (`src/bak_unload.ps1:29-35`).
- R3 filter: name contains ``.zip`` (`src/bak_unload.ps1:31`).
- R4 empty guard: exit early when nothing matches (`src/bak_unload.ps1:38-42`).
- R5/R6 latest-pick: descending lexicographic sort, take top-1 — "latest"
  IS the lexicographic max of the filename (`src/bak_unload.ps1:44-52`);
  preserved as-is, documented difference vs mtime ordering.

Scale notes (100 TB): the reference re-lists the whole container and sorts
client-side every run (O(all blobs), `src/bak_unload.ps1:23,46`). Listing
is the one cost ``run_batch`` keeps: building the manifest fills Spark's
file index on the driver, and :func:`latest_listed_snapshot` picks the max
name from that index without scheduling a job. :func:`latest_snapshot` is
the DataFrame form the r-queries use — ``F.max``, a partial max per
partition then a 1-row combine, never a global sort. The streaming runner
replaces re-listing entirely with the file-source checkpoint.
"""

from __future__ import annotations

from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LISTING_PREFIX_LEN = 6  # len("INFO: ") — the reference's Substring(6)


def manifest_from_directory(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """R1: manifest DataFrame over a real directory/container listing.

    Uses the binaryFile source but selects ONLY metadata columns, so Spark
    prunes the content read — this is a listing, not a download. Works the
    same over local paths and ``abfss://`` / ``s3a://`` URIs.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    return df.select(
        F.col("path"),
        F.element_at(F.split(F.col("path"), "/"), -1).alias("name"),
        F.col("length"),
        F.col("modificationTime"),
    )


def parse_listing_lines(listing: DataFrame, value_col: str = "value") -> DataFrame:
    """R2: parse raw azcopy-style text lines into a ``name`` column,
    added beside the listing's own columns.

    Reference parse: per line, take ``split(';')[0]`` then drop the 6-char
    ``INFO: `` prefix (`src/bak_unload.ps1:29-35`). Same two steps,
    codegen'd: split + substring.
    """
    first_field = F.split(F.col(value_col), ";").getItem(0)
    return listing.withColumn(
        "name", F.substring(first_field, LISTING_PREFIX_LEN + 1, 2**31 - 1)
    )


def filter_snapshots(names: DataFrame, pattern: str = ".zip") -> DataFrame:
    """R3: keep names containing the snapshot suffix (reference uses a
    substring match, not endswith — preserved, `src/bak_unload.ps1:31`)."""
    return names.filter(F.col("name").contains(pattern))


def latest_snapshot(names: DataFrame) -> DataFrame:
    """R5+R6: the "latest" snapshot = lexicographic max of the name.

    One-row DataFrame whose name is NULL when ``names`` is empty — the R4
    empty guard rides the same action. ``agg(max)`` ==
    ``orderBy(desc).limit(1)`` (the latter fuses to TakeOrderedAndProject);
    max is cheaper still — partial max per partition, single-row combine,
    no heap.

    Fidelity note: lexicographic order of the *filename*, NOT modification
    time — exactly the reference's semantics (`src/bak_unload.ps1:44-52`),
    which its naming convention makes equivalent to recency.
    """
    return names.agg(F.max("name").alias("name"))


def latest_listed_snapshot(listing: DataFrame, pattern: str = ".zip") -> str | None:
    """R3-R6 on the driver: the max of the listed file names that contain
    ``pattern``, or None when none do (R4's empty guard).

    Reads the file index that building ``listing`` already filled
    (``inputFiles()``), so no Spark job runs. ``inputFiles()`` returns
    URI-encoded paths (``a b%20c.zip`` comes back as ``a%20b%2520c.zip``)
    where the ``path`` column is not encoded, hence ``unquote``. Python's
    ``str`` order is code-point order, which is the UTF-8 byte order
    ``F.max`` uses, so both forms pick the same name.
    """
    names = (unquote(p.rsplit("/", 1)[-1]) for p in listing.inputFiles())
    return max((n for n in names if pattern in n), default=None)
