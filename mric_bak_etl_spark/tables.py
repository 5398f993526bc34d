"""Canonical loaders for the testdata star schema.

Tables (TPC-H-ish + events/documents/embeddings, see FIXTURES.md):
``region nation customer supplier part orders lineitem events documents
embeddings`` — one parquet file per table under a scale-factor directory.

The only normalization applied is the ``events.ts`` column: the driver's
parquet stores it as INT64 TIMESTAMP(NANOS), which Spark reads as a plain
long under ``spark.sql.legacy.parquet.nanosAsLong``; we convert to
TIMESTAMP_NTZ at microsecond precision — exactly what DuckDB's
``ts::TIMESTAMP`` yields, so oracle comparisons line up.

100 TB posture: these are plain ``spark.read.parquet`` scans, so column
pruning and predicate pushdown reach the parquet reader for free. At scale
the same loader works over a directory of many files / a partitioned layout;
nothing assumes a single file.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mric_bak_etl_spark.session import default_parallelism, ensure_runtime_confs

TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Lazy-plan cache keyed by (session, table path): spark.read.parquet
# re-infers the file schema on the DRIVER every call (~70 ms of footer
# reads locally; a catalog/file-index listing at scale), and a catalog
# query calls load_table one-to-three times per invocation. The cached
# object is an UNEXECUTED logical plan — no rows, no results; every
# action on it still scans the parquet — so this is the in-process
# analogue of a metastore schema, not a result cache. Keyed by
# applicationId so a new/hostile driver session never sees another
# session's plans; the testdata dirs are immutable for a process
# lifetime (every writer in the catalog targets scratch dirs).
_PLAN_CACHE: dict[tuple[str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing types for cross-engine parity."""
    ensure_runtime_confs(spark)
    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(os.path.join(sf_dir, f"{name}.parquet")),
    )
    cached = _PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns since epoch → µs → TIMESTAMP_NTZ (matches DuckDB ts::TIMESTAMP).
        # Integer division: ns epoch values exceed 2^53, so a double-typed
        # `/ 1000` loses µs precision (off-by-one on ~10% of rows).
        df = df.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")
        )
    _PLAN_CACHE[key] = df
    return df


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition to ``default_parallelism()`` ahead of CPU-dense per-row
    work.

    Parquet map-side parallelism is bounded by row-group count; a file
    written as one row group scans as ONE task no matter how many cores
    exist. Before compute-heavy stages (shingling, minhash, vector math,
    pandas UDFs) an explicit repartition decouples compute parallelism
    from input-split granularity — the same idiom used on real clusters
    before expensive UDF stages, where the shuffled bytes are trivial
    next to the per-row CPU they unlock. Pass key columns to make the
    exchange hash-partitioned (reusable by a downstream groupBy/join on
    the same keys); otherwise round-robin.

    The count is the core count at every input size: it is not sized to
    input bytes (``sized_parallelism`` is the byte-sized rule).
    """
    n = default_parallelism()
    return df.repartition(n, *[F.col(c) for c in cols]) if cols else df.repartition(n)


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """Per-row Python work as one Arrow-batched ``mapInPandas`` stage.

    ``fn(*row)`` receives one input row's values in ``df``'s column order
    and yields zero or more output tuples in ``schema`` order (a filter, a
    1:1 map or a fan-out alike); the batch ↔ row conversion lives here
    once, so a stage is just its row function.
    """
    names = StructType.fromDDL(schema).names

    def batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = [
                out for row in pdf.itertuples(index=False, name=None)
                for out in fn(*row)
            ]
            yield pd.DataFrame.from_records(rows, columns=names)

    return df.mapInPandas(batches, schema=schema)


CPU_DENSE_PARTITION_BYTES = 32 << 20  # ~32 MB of input per compute task


def sized_parallelism(sf_dir: str, name: str) -> int:
    """Partition count proportional to INPUT BYTES, not core count.

    ``spread`` pins to engine parallelism, which is right when per-row CPU
    dominates (shingling, pandas UDFs). For lighter per-row work a tiny
    input spread across every core pays ~2-5 ms of task-scheduling
    overhead per core per stage — an iterative query (l19: 3 assignment
    passes, 2 update aggs) multiplies that into whole seconds while each
    task computes for microseconds. Sizing by bytes keeps small inputs on
    few tasks and grows partition count linearly with data: at 100 TB the
    same rule yields bytes/32 MB partitions (millions — what a large
    cluster wants), with no cap, because the floor/cap problem only
    exists at the small end. Local files are sized with os.stat; on an
    object store the same number comes from the catalog/FileIndex.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isfile(path):
            size = os.path.getsize(path)
        else:
            size = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            )
    except OSError:
        return default_parallelism()
    n_by_bytes = max(1, -(-size // CPU_DENSE_PARTITION_BYTES))
    return int(max(n_by_bytes, min(8, default_parallelism())))


def register_views(
    spark: SparkSession, sf_dir: str, only: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Register tables as temp views (SQL entry point, SURVEY §2B Q1).

    ``only`` names the tables the caller's SQL references; a 2-table query
    then pays 2 parquet-footer reads + registrations instead of 10
    (measured ~0.75 s of fixed driver-side cost per full registration at
    sf0.1 — and at 100 TB each needless table is a catalog/file-index
    listing). Default registers the full schema.
    """
    names = TABLE_NAMES if only is None else tuple(only)
    dfs = {name: load_table(spark, sf_dir, name) for name in names}
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def materialize(df: DataFrame) -> DataFrame:
    """Materialize a SMALL intermediate once (localCheckpoint) so multiple
    consumers stop re-deriving its lineage.

    Spark recomputes a DataFrame's whole lineage per consumer unless it is
    persisted — for a vocabulary-sized aggregate consumed three times that
    means three full tokenize scans of the corpus. localCheckpoint stores
    the computed partitions executor-local and truncates lineage; it is
    the in-session analogue of writing the intermediate to a table (what a
    production pipeline does). Only for BOUNDED intermediates (vocab
    tables, centroid sets, hot-key lists) — never the fact stream.
    """
    return df.localCheckpoint(eager=True)
