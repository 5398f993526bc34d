"""Persisted artifacts: one key recipe and one write-audit-publish path.

An artifact (l26c merge table, m14 archive column, l43 model, l42b/l42c
crawl indexes, l3f ANN index) lives in a dir keyed by the identity of
the parquet it was built from (absolute path + size + mtime) and by the
config that built it, so a regenerated corpus or a retuned builder
invalidates it instead of serving stale state.

The root is the user-owned XDG cache, NOT the world-shared tempdir: on
a multi-user box a predictable /tmp path lets any local user plant a
"published" dir that the apply face would trust (r11 ADVICE).

Publishing is s11's write-audit-publish, the atomic form of the
reference's DROP-then-RESTORE swap: write to a staging dir beside the
target, audit what was actually written, record a manifest of its
files, then one directory rename. Every load is one check of the files
against that manifest (:func:`publish`), with no Spark job. The trade:
a planted dir with a forged, self-consistent manifest passes, as a
forged merge table that meets its row contract would pass a re-run row
audit. The guard against planting is the user-owned root.

The foreachBatch sinks that keep versioned state (t10, t13b, l42c)
commit each micro-batch the same way, as the next ``vN`` dir
(:func:`versioned_sink`). A ``vN`` dir exists only after its rename, so
the newest one IS the commit pointer and a replayed batch whose version
exists is skipped: exactly-once effects from at-least-once delivery.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame


def artifact_dir(sf_dir: str, table: str, root: str, config: str) -> str:
    """``$XDG_CACHE_HOME/<root>/<key>`` for the artifact built from
    ``<sf_dir>/<table>.parquet`` under ``config``."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    key = hashlib.sha256(
        f"{os.path.abspath(sf_dir)}|{st.st_size}|{st.st_mtime_ns}|{config}"
        .encode()
    ).hexdigest()[:16]
    cache_root = os.environ.get(
        "XDG_CACHE_HOME", os.path.join(os.path.expanduser("~"), ".cache")
    )
    return os.path.join(cache_root, root, key)


MANIFEST = "_manifest.json"


def _fingerprint(root: str) -> dict[str, list]:
    """``{relative path: [size, parquet footer sha256 or None]}`` for
    every file under ``root`` but the manifest and Hadoop's ``.crc``
    side files. A parquet file ends in its footer, the footer's 4-byte
    length and ``PAR1``, so only the footer is read."""
    files = {}
    for d, _, names in os.walk(root):
        for name in names:
            if name == MANIFEST or name.endswith(".crc"):
                continue
            path = os.path.join(d, name)
            size, sha = os.path.getsize(path), None
            if name.endswith(".parquet"):
                with open(path, "rb") as fh:
                    fh.seek(max(size - 8, 0))
                    n = int.from_bytes(fh.read(4), "little")
                    fh.seek(max(size - 8 - n, 0))
                    sha = hashlib.sha256(fh.read()).hexdigest()
            files[os.path.relpath(path, root)] = [size, sha]
    return files


def _verify(target: str) -> None:
    """Raise unless ``target`` matches its manifest, file for file."""
    got = _fingerprint(target)
    try:
        with open(os.path.join(target, MANIFEST)) as fh:
            want = json.load(fh)
        bad = sorted(
            n for n in want.keys() | got.keys() if want.get(n) != got.get(n)
        )
    except (OSError, ValueError):
        bad = [MANIFEST]
    if bad:
        raise ValueError(
            f"published artifact at {target} violates its audit contract "
            f"(missing, unlisted or changed: {bad}) — artifact tampered "
            "or stale; delete it to rebuild"
        )


def publish(target: str, write: Callable[[str], None]) -> str:
    """Return ``target``, publishing it first if it does not exist.

    ``write(staging)`` writes into a fresh ``_staging_*`` dir beside
    ``target`` and audits what it wrote; it raises to refuse the
    publish. A crash or refusal leaves only that staging dir, which no
    reader opens. An existing ``target`` must match its manifest.
    Concurrent publishers race benignly: the loser's rename fails
    against the winner's dir and it removes its staging."""
    if os.path.isdir(target):
        _verify(target)
        return target
    parent = os.path.dirname(target)
    os.makedirs(parent, exist_ok=True)
    staging = tempfile.mkdtemp(prefix="_staging_", dir=parent)
    write(staging)
    with open(os.path.join(staging, MANIFEST), "w") as fh:
        json.dump(_fingerprint(staging), fh, sort_keys=True)
    try:
        os.rename(staging, target)  # atomic on POSIX
    except OSError:
        if not os.path.isdir(target):
            raise  # a real failure, not a lost publish race
        shutil.rmtree(staging, ignore_errors=True)
    return target


def versioned_sink(
    base: str,
    state: dict[str, int],
    write: Callable[[DataFrame, str | None, str], None],
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch handler that commits batch ``batch_id`` as
    ``base/v{batch_id + 1}``.

    ``write(batch_df, prev, staging)`` writes the next version into
    ``staging`` from the batch and ``prev``, the newest committed
    version dir (None before the first). ``state["version"]`` is the
    pointer; a cold one (a restarted process whose checkpoint resumes
    mid-stream) is recovered from the ``vN`` dirs, and a batch whose
    version already exists is a replay and is skipped."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if state["version"] == 0:
            names = os.listdir(base) if os.path.isdir(base) else []
            state["version"] = max(
                (int(n[1:]) for n in names if n[:1] == "v" and n[1:].isdigit()),
                default=0,
            )
        if (v := state["version"]) > batch_id:
            return
        prev = os.path.join(base, f"v{v}") if v else None
        publish(
            os.path.join(base, f"v{batch_id + 1}"),
            lambda staging: write(batch_df, prev, staging),
        )
        state["version"] = batch_id + 1

    return handle
