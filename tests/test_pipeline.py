"""Pipeline-fidelity tests (SURVEY.md §5.2): the reference's behaviors —
latest-of-N (incl. the 1-element edge case the reference special-cases),
skip-when-already-imported, crash-replay safety, and the streaming variant's
exactly-once file tracking."""

from __future__ import annotations

import io
import os
import zipfile

import pytest

from mric_bak_etl_spark.pipeline import manifest, state
from mric_bak_etl_spark.pipeline.runner import run_batch, run_streaming


def make_zip(path: str, members: dict[str, bytes]) -> None:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    with open(path, "wb") as f:
        f.write(buf.getvalue())


@pytest.fixture
def dirs(tmp_path):
    blob = tmp_path / "blobs"
    blob.mkdir()
    return {
        "blob": str(blob),
        "state": str(tmp_path / "state"),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def payload_texts(spark, out_dir):
    rows = spark.read.parquet(out_dir).collect()
    return sorted(bytes(r["entry_bytes"]).decode() for r in rows)


def test_empty_listing_early_exit(spark, dirs):
    result = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert result.status == "empty"


def test_single_candidate_edge_case(spark, dirs):
    # The reference special-cases the 1-element listing because PowerShell
    # degrades 1-element arrays to scalars (src/bak_unload.ps1:44-52); our
    # max-based pick must handle it identically.
    make_zip(os.path.join(dirs["blob"], "backup_01.zip"), {"a.bak": b"only"})
    result = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert result.status == "loaded"
    assert result.snapshot == "backup_01.zip"
    assert result.entries == 1
    assert payload_texts(spark, dirs["out"]) == ["only"]


def test_latest_pick_skip_and_new_arrival(spark, dirs):
    make_zip(os.path.join(dirs["blob"], "backup_2024_06_30.zip"), {"o.bak": b"old"})
    make_zip(os.path.join(dirs["blob"], "backup_2024_07_01.zip"), {"n.bak": b"new"})
    make_zip(os.path.join(dirs["blob"], "notes.txt.gz"), {"x": b"not a snapshot"})

    first = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert first.status == "loaded"
    assert first.snapshot == "backup_2024_07_01.zip"  # lexicographic max
    assert payload_texts(spark, dirs["out"]) == ["new"]

    again = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert again.status == "already_imported"  # R7 short-circuit

    make_zip(os.path.join(dirs["blob"], "backup_2024_07_02.zip"), {"f.bak": b"fresh"})
    third = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert third.status == "loaded"
    assert third.snapshot == "backup_2024_07_02.zip"
    assert payload_texts(spark, dirs["out"]) == ["fresh"]  # full replace

    # Glob metacharacters in the winning name: the archive read is a
    # glob over the file listing, so they must match only themselves.
    make_zip(os.path.join(dirs["blob"], "backup_2024_07_02[1].zip"), {"g.bak": b"rerun"})
    fourth = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert fourth.snapshot == "backup_2024_07_02[1].zip"
    assert payload_texts(spark, dirs["out"]) == ["rerun"]


def test_payload_pick_last_match_wins(spark, dirs):
    # Reference's foreach keeps the LAST .bak match (src/bak_unload.ps1:81-87).
    make_zip(
        os.path.join(dirs["blob"], "backup_03.zip"),
        {"a_first.bak": b"first", "z_last.bak": b"last", "readme.txt": b"x"},
    )
    result = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert result.status == "loaded"
    assert payload_texts(spark, dirs["out"]) == ["last"]


def test_crash_replay_between_load_and_commit(spark, dirs):
    # Crash after load but before state commit → next run re-imports; safe
    # because the load is an idempotent full replace (src/bak_unload.ps1:103
    # vs :115 ordering). Simulate by wiping the state dir post-run.
    make_zip(os.path.join(dirs["blob"], "backup_04.zip"), {"p.bak": b"payload"})
    assert run_batch(spark, dirs["blob"], dirs["state"], dirs["out"]).status == "loaded"

    import shutil

    shutil.rmtree(dirs["state"])  # state commit "lost in the crash"
    replay = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert replay.status == "loaded"  # at-least-once
    assert payload_texts(spark, dirs["out"]) == ["payload"]  # still correct


def test_failed_load_leaves_state_uncommitted(spark, dirs):
    # The overwrite is not atomic (Spark clears the target, then writes),
    # like the reference's DROP+RESTORE: a load that fails leaves the
    # output empty and commits no state, so the repaired archive loads on
    # the next run (at-least-once).
    make_zip(os.path.join(dirs["blob"], "backup_01.zip"), {"p.bak": b"first"})
    assert run_batch(spark, dirs["blob"], dirs["state"], dirs["out"]).status == "loaded"

    corrupt = os.path.join(dirs["blob"], "backup_02.zip")
    with open(corrupt, "wb") as f:
        f.write(b"PK\x03\x04 not a zip archive")
    with pytest.raises(Exception, match="BadZipFile"):
        run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    left = [
        f for _, _, files in os.walk(dirs["out"]) for f in files if f.endswith(".parquet")
    ]
    assert left == []  # the previous snapshot is gone
    seen = sorted(r["name"] for r in state.read_state(spark, dirs["state"]).collect())
    assert seen == ["backup_01.zip"]

    make_zip(corrupt, {"p.bak": b"second"})
    result = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert (result.status, result.snapshot) == ("loaded", "backup_02.zip")
    assert payload_texts(spark, dirs["out"]) == ["second"]


def test_archive_without_payload_counts_zero_entries(spark, dirs):
    # The entry count is observed on the write; an empty write must still
    # report it, and the name is still committed, so the run is not retried.
    make_zip(os.path.join(dirs["blob"], "backup_05.zip"), {"readme.txt": b"x"})
    result = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert (result.status, result.snapshot, result.entries) == ("loaded", "backup_05.zip", 0)
    again = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert again.status == "already_imported"


def test_state_and_dirs_given_as_uris(spark, dirs):
    # A file:// state dir (and so an abfss:// one) must remember what was
    # imported: the state probe goes through Spark's filesystem layer.
    make_zip(os.path.join(dirs["blob"], "backup_06.zip"), {"u.bak": b"uri"})
    uri = {k: "file://" + os.path.abspath(v) for k, v in dirs.items()}
    first = run_batch(spark, uri["blob"], uri["state"], uri["out"])
    assert first.status == "loaded"
    assert payload_texts(spark, dirs["out"]) == ["uri"]
    again = run_batch(spark, uri["blob"], uri["state"], uri["out"])
    assert again.status == "already_imported"


def test_latest_pick_decodes_listed_names(spark, dirs):
    # The driver-side pick reads URI-encoded paths from the file index;
    # it must agree with the DataFrame form (unencoded ``path`` column) on
    # every pattern, skip hidden files as the listing does, and name a
    # blob the archive read can find.
    visible = ["a b%20c.zip", "ü.zip", "x{y}.zip", "backup_2024_07_02[1].zip"]
    for name in visible + [".n.zip.part", "_n.zip"]:
        make_zip(os.path.join(dirs["blob"], name), {"p.bak": name.encode()})
    listing = manifest.manifest_from_directory(spark, dirs["blob"])

    for pattern in [".zip", "n.zip", *visible]:
        want = manifest.latest_snapshot(manifest.filter_snapshots(listing, pattern))
        assert manifest.latest_listed_snapshot(listing, pattern) == want.first()["name"]
    assert manifest.latest_listed_snapshot(listing, "n.zip") is None

    for name in visible:
        result = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"], name)
        assert (result.status, result.snapshot, result.entries) == ("loaded", name, 1)
        assert payload_texts(spark, dirs["out"]) == [name]


def test_run_batch_job_counts(spark, dirs):
    # The bookkeeping (latest-pick, entry count, state row) runs on the
    # driver or inside the load's own jobs: a loaded run is the decide
    # check, the load and the state commit; a no-op run is the check.
    sc = spark.sparkContext
    make_zip(os.path.join(dirs["blob"], "backup_07.zip"), {"j.bak": b"jobs"})

    def jobs(group: str) -> tuple[str, int]:
        sc.setJobGroup(group, group)
        try:
            status = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"]).status
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker lags the bus
        return status, len(sc.statusTracker().getJobIdsForGroup(group))

    status, n = jobs("test_run_batch_job_counts_loaded")
    assert status == "loaded" and 1 <= n <= 3
    status, n = jobs("test_run_batch_job_counts_noop")
    assert status == "already_imported" and n <= 1


def snapshot(stem: str, payload: bytes) -> dict[str, bytes]:
    """Two .bak entries (the later name is the payload) and a decoy."""
    return {f"{stem}_1.bak": b"stale", f"{stem}_2.bak": payload, "notes.txt": b"x"}


def test_streaming_exactly_once(spark, dirs):
    # One micro-batch holds both archives: the payload pick is per archive.
    make_zip(os.path.join(dirs["blob"], "backup_a.zip"), snapshot("a", b"alpha"))
    make_zip(os.path.join(dirs["blob"], "backup_b.zip"), snapshot("b", b"beta"))

    run_streaming(spark, dirs["blob"], dirs["ckpt"], dirs["out"])
    assert payload_texts(spark, dirs["out"]) == ["alpha", "beta"]

    # Re-invoke: checkpoint remembers both files → nothing re-processed.
    run_streaming(spark, dirs["blob"], dirs["ckpt"], dirs["out"])
    assert payload_texts(spark, dirs["out"]) == ["alpha", "beta"]

    # New arrival → only the new file flows through.
    make_zip(os.path.join(dirs["blob"], "backup_c.zip"), snapshot("c", b"gamma"))
    run_streaming(spark, dirs["blob"], dirs["ckpt"], dirs["out"])
    assert payload_texts(spark, dirs["out"]) == ["alpha", "beta", "gamma"]


def test_streaming_replay_after_lost_commit_keeps_each_archive_once(spark, dirs):
    # A crash after the sink wrote batch 0 but before the checkpoint
    # committed it: the restarted stream replays batch 0, and the file
    # sink's log skips it instead of appending its archives again.
    make_zip(os.path.join(dirs["blob"], "backup_a.zip"), snapshot("a", b"alpha"))
    make_zip(os.path.join(dirs["blob"], "backup_b.zip"), snapshot("b", b"beta"))
    assert run_streaming(spark, dirs["blob"], dirs["ckpt"], dirs["out"]) == 1

    commits = os.path.join(dirs["ckpt"], "commits")
    os.remove(os.path.join(commits, "0"))
    os.remove(os.path.join(commits, ".0.crc"))
    assert run_streaming(spark, dirs["blob"], dirs["ckpt"], dirs["out"]) == 1
    assert payload_texts(spark, dirs["out"]) == ["alpha", "beta"]


def test_manifest_listing_parse_roundtrip(spark):
    # R2 parse on the reference's exact line format (src/bak_unload.ps1:29-35).
    lines = spark.createDataFrame(
        [
            ("INFO: backup_2024_07_01.zip; Content Length: 123",),
            ("INFO: misc.txt; Content Length: 9",),
        ],
        "value string",
    )
    names = manifest.parse_listing_lines(lines)
    got = sorted(r["name"] for r in names.collect())
    assert got == ["backup_2024_07_01.zip", "misc.txt"]
    kept = manifest.filter_snapshots(names).collect()
    assert [r["name"] for r in kept] == ["backup_2024_07_01.zip"]


def test_dynamic_partition_overwrite_leaves_siblings_untouched(spark, tmp_path):
    """s15 mechanism (not just values): after a dynamic-mode overwrite of
    one partition, sibling partition DIRECTORIES keep the exact same
    files byte-for-byte; static mode would have dropped them. The
    catalog oracle checks the aggregate — this pins the file-level
    contract the aggregate could in principle miss (e.g. a rewrite that
    recreates siblings with equal contents still violates the
    partition-grain write-cost promise)."""
    import hashlib
    import os

    base = str(tmp_path / "dyn")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "id long, part string, v double",
    )
    df.write.partitionBy("part").parquet(base)

    def snapshot(part):
        d = os.path.join(base, f"part={part}")
        out = {}
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".parquet"):
                with open(os.path.join(d, fn), "rb") as f:
                    out[fn] = hashlib.sha256(f.read()).hexdigest()
        return out

    before_a, before_c = snapshot("a"), snapshot("c")

    fix = spark.createDataFrame([(3, "b", 99.0)], "id long, part string, v double")
    (
        fix.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part")
        .parquet(base)
    )

    assert snapshot("a") == before_a  # same files, same bytes
    assert snapshot("c") == before_c
    got = {
        (r["id"], r["v"]) for r in spark.read.parquet(base).collect()
    }
    assert got == {(1, 10.0), (2, 20.0), (3, 99.0), (4, 40.0)}
