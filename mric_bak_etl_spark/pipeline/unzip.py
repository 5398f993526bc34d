"""In-cluster zip decompression — the one genuinely custom operator.

Reference behavior (SURVEY.md §2A R9/R10): shell out to ``7z e`` on a
downloaded archive, then keep the last entry whose name contains ``.bak``
(`src/bak_unload.ps1:73-87`). Spark has no codec for arbitrary zip
archives, so this is the engine's only Python stage: a per-row
``mapInPandas`` over the ``binaryFile`` source (``tables.map_rows``). Each
archive's central directory is read, the payload entry is picked there and
only that entry is inflated — decompress and pick are one pass, executor-
side; nothing round-trips through the driver.

Scale notes (100 TB): one archive = one task input row, so archives
parallelize across executors naturally. Entry bytes are materialized per
batch; for multi-GB entries the pattern is the reference's own F:-drive
trick (`src/bak_unload.ps1:13-15`) — stream ``zipfile``'s file handle to
executor-local disk and emit the local path instead of bytes. The bytes
variant below is correct for snapshot-sized payloads and keeps the data in
the DataFrame; both shapes share the same schema contract.
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator

from pyspark.sql import DataFrame

from mric_bak_etl_spark.tables import map_rows

ENTRY_SCHEMA = (
    "archive_path string, entry_name string, entry_size long, entry_bytes binary"
)


def unzip_entries(archives: DataFrame, pattern: str = ".bak") -> DataFrame:
    """R9+R10: archive rows (``path``, ``content``) → each archive's payload
    entry, the one whose name contains ``pattern``.

    The reference's loop keeps the LAST match (`src/bak_unload.ps1:81-87`,
    last-writer-wins); with names sorted that is the lexicographic max,
    which makes the choice deterministic. An archive with no match yields
    no row; of duplicate names the last copy wins, as ``7z e`` overwrites.
    """

    def payload(path: str, content: bytes) -> Iterator[tuple]:
        with zipfile.ZipFile(io.BytesIO(content)) as zf:
            names = [
                i.filename for i in zf.infolist()
                if pattern in i.filename and not i.is_dir()
            ]
            if names:
                info = zf.getinfo(max(names))
                yield path, info.filename, info.file_size, zf.read(info)

    return map_rows(archives.select("path", "content"), payload, ENTRY_SCHEMA)
