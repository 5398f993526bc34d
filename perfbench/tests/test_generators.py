"""The seeded input generators: same seed, same bytes; new seed, new bytes."""

from __future__ import annotations

import hashlib
import io
import zipfile

import pyarrow.parquet as pq

import gen_ingest
import gen_tables


def small_plan(seed: int) -> gen_ingest.Plan:
    return gen_ingest.make_plan(seed, backlog=4, blocks=3, payload_mb=0.05)


def digest(plan: gen_ingest.Plan) -> str:
    """One hash over every generated byte and the schedule."""
    h = hashlib.sha256()
    for blob in plan.backlog_blobs():
        h.update(blob.name.encode() + blob.data)
    for i, tick in enumerate(plan.ticks):
        h.update(repr(tick).encode())
        for blob in plan.tick_blobs(i):
            h.update(blob.name.encode() + blob.data)
    return h.hexdigest()


def test_same_seed_gives_byte_identical_container_and_schedule():
    assert digest(small_plan(7)) == digest(small_plan(7))


def test_different_seed_gives_different_container_and_schedule():
    assert digest(small_plan(7)) != digest(small_plan(8))


def test_every_block_lands_exactly_one_newer_snapshot():
    plan = small_plan(3)
    ticks = plan.ticks
    assert len(ticks) == 3 * gen_ingest.BLOCK
    for b in range(0, len(ticks), gen_ingest.BLOCK):
        assert sum(t.arrival is not None for t in ticks[b:b + gen_ingest.BLOCK]) == 1
    days = list(plan.backlog) + [t.arrival for t in ticks if t.arrival is not None]
    names = [plan.archive(d).name for d in days]
    assert names == sorted(set(names))  # each landing is the new lexicographic max


def test_blobs_are_what_the_pipeline_expects():
    plan = small_plan(5)
    blobs = plan.backlog_blobs() + [b for i in range(len(plan.ticks)) for b in plan.tick_blobs(i)]
    assert any(not b.name.endswith(".zip") for b in blobs)
    for blob in blobs:
        if not blob.name.endswith(".zip"):
            assert ".zip" not in blob.name  # the snapshot filter is a substring match
            continue
        with zipfile.ZipFile(io.BytesIO(blob.data)) as zf:
            baks = [n for n in zf.namelist() if ".bak" in n]
            assert len(zf.namelist()) > 1 and len(baks) == 1
            payload = zf.read(baks[0])
        assert hashlib.sha256(payload).hexdigest() == blob.payload_sha256
        assert len(payload) == blob.payload_bytes
        assert len(blob.data) < len(payload)  # partly compressible


def _files(tmp_path, name: str, seed: int) -> dict[str, bytes]:
    out = tmp_path / name
    gen_tables.write_tables(str(out), seed, 0.001)
    return {p.name: p.read_bytes() for p in sorted(out.iterdir())}


def test_tables_repeat_per_seed_and_differ_only_in_row_order(tmp_path):
    a, b, c = _files(tmp_path, "a", 1), _files(tmp_path, "b", 1), _files(tmp_path, "c", 2)
    assert a == b
    assert a.keys() == c.keys() and a["lineitem.parquet"] != c["lineitem.parquet"]
    for name in ("lineitem.parquet", "documents.parquet"):
        x, y = (pq.read_table(tmp_path / d / name).to_pandas() for d in ("a", "c"))
        cols = list(x.columns)
        assert x.sort_values(cols).reset_index(drop=True).equals(
            y.sort_values(cols).reset_index(drop=True)
        )
