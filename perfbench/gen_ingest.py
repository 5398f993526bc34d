"""Seeded generator for the ``ingest`` workload: a blob container and the
tick schedule that lands new snapshots in it.

The container mirrors the reference's input: daily ``backup_YYYY_MM_DD.zip``
archives, each holding one ``.bak`` payload plus distractor entries, and a
few blobs that are not ``.zip`` (sidecar logs and inventories) for the
snapshot filter to reject. A payload is half random bytes (incompressible)
and half a repetitive record dump, so decompression does real work and the
archive is smaller than its payload.

The schedule is a list of ticks in blocks of three; exactly one tick of
every block lands a new snapshot, dated after everything already there, so
every block has one ``loaded`` run and two ``already_imported`` runs. Some
quiet ticks land a sidecar blob instead, which must not change the decision.

Everything derives from ``seed``: the same seed gives byte-identical blobs
and the same schedule, a different seed gives different ones. An archive's
bytes depend only on ``(seed, day)``, so ticks can be built lazily.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import os
import zipfile
from dataclasses import dataclass

import numpy as np

BLOCK = 3  # ticks per block; exactly one of them lands a snapshot
_FIXED_TIME = (2024, 1, 1, 0, 0, 0)  # zip entry timestamps: no wall clock


@dataclass(frozen=True)
class Blob:
    name: str
    data: bytes
    payload_sha256: str | None = None  # snapshot archives only
    payload_bytes: int = 0


@dataclass(frozen=True)
class Tick:
    arrival: dt.date | None  # day of the snapshot landing before this run
    sidecar: int | None  # index of a sidecar blob landing before this run

    @property
    def expected_status(self) -> str:
        return "loaded" if self.arrival is not None else "already_imported"


@dataclass(frozen=True)
class Plan:
    seed: int
    payload_mb: float
    backlog: tuple[dt.date, ...]
    ticks: tuple[Tick, ...]

    def archive(self, day: dt.date) -> Blob:
        rng = np.random.default_rng([self.seed, day.toordinal()])
        stem = f"backup_{day:%Y_%m_%d}"
        size = int(self.payload_mb * (1 << 20))  # equal, so every seed does the same work
        noise = rng.bytes(size // 2)
        rec = f"{day.isoformat()}|acct|{int(rng.integers(0, 10**9)):09d}|".encode()
        payload = noise + (rec * (size // len(rec) + 1))[: size - len(noise)]
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for name, data in (
                ("README.txt", f"nightly backup {day.isoformat()}\n".encode()),
                (f"{stem}.bak", payload),
                ("logs/restore.log", rng.bytes(int(rng.integers(256, 4096)))),
            ):
                zf.writestr(zipfile.ZipInfo(name, _FIXED_TIME), data, zipfile.ZIP_DEFLATED, 1)
        return Blob(f"{stem}.zip", buf.getvalue(), hashlib.sha256(payload).hexdigest(), size)

    def sidecar(self, index: int, day: dt.date) -> Blob:
        rng = np.random.default_rng([self.seed, day.toordinal(), index])
        ext = ("log", "csv", "json")[index % 3]
        return Blob(f"backup_{day:%Y_%m_%d}_{index}.{ext}", rng.bytes(int(rng.integers(64, 2048))))

    def backlog_blobs(self) -> list[Blob]:
        blobs = [self.archive(day) for day in self.backlog]
        blobs += [self.sidecar(i, day) for i, day in enumerate(self.backlog) if i % 4 == 0]
        return blobs

    def tick_blobs(self, i: int) -> list[Blob]:
        """The blobs that land before tick ``i`` runs."""
        tick = self.ticks[i]
        if tick.arrival is not None:
            return [self.archive(tick.arrival)]
        if tick.sidecar is not None:
            return [self.sidecar(tick.sidecar, self.backlog[-1])]
        return []


def make_plan(seed: int, backlog: int, blocks: int, payload_mb: float) -> Plan:
    """``backlog`` daily snapshots already in the container, then
    ``blocks`` x BLOCK scheduled ticks."""
    rng = np.random.default_rng(seed)
    day = dt.date(2023, 1, 1) + dt.timedelta(days=int(rng.integers(0, 365)))
    days = []
    for _ in range(backlog):
        day += dt.timedelta(days=int(rng.integers(1, 3)))
        days.append(day)
    ticks = []
    for b in range(blocks):
        landing = int(rng.integers(0, BLOCK))
        for k in range(BLOCK):
            if k == landing:
                day += dt.timedelta(days=int(rng.integers(1, 3)))
                ticks.append(Tick(day, None))
            else:
                quiet = rng.random() < 0.5
                ticks.append(Tick(None, backlog + b * BLOCK + k if quiet else None))
    return Plan(seed, payload_mb, tuple(days), tuple(ticks))


def land(blob: Blob, container: str) -> None:
    """Drop ``blob`` into the container atomically (hidden temp file, then
    rename), so a listing never sees a half-written archive."""
    tmp = os.path.join(container, f".{blob.name}.part")
    with open(tmp, "wb") as f:
        f.write(blob.data)
    os.replace(tmp, os.path.join(container, blob.name))
