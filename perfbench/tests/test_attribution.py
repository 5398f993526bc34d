"""Traced-run attribution: on a 2-query sweep and a few ingest blocks,
every query part and every ``run_batch`` step lands in its own job group,
and the counts the traced run reports equal a direct count of the log.

Starts a local Spark session (about a minute on 4 cores).
"""

from __future__ import annotations

import json
import statistics
from collections import Counter

import pytest

import run
import workloads


def job_groups(path: str) -> Counter:
    """Jobs per ``spark.jobGroup.id``, read straight from the event log."""
    groups: Counter = Counter()
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                groups[(ev.get("Properties") or {}).get("spark.jobGroup.id")] += 1
    return groups


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    run.pin_environment(work)
    out = workloads.Outcome()
    engine = workloads.Engine(work)
    try:
        engine.start()
        q = workloads.QueryWorkload(("a4_rollup", "l18_unigram_lm"), 7, work, engine, out)
        q.probe()
        query_metrics = q.traced_metrics()
        query_log = engine.log_path

        ingest = workloads.IngestWorkload(7, work, engine, out, backlog=3, payload_mb=0.25)
        engine.start()
        ingest.cold_pass()
        ingest.check_cold()
        ingest_metrics = ingest.traced_metrics()
        ingest_log = engine.log_path
    finally:
        engine.close()
    assert out.failed == 0, out.info.get("failures")
    return {
        "query": (query_metrics, job_groups(query_log)),
        "ingest": (ingest_metrics, job_groups(ingest_log), ingest.plan.ticks, ingest.traced_ticks),
    }


def test_each_query_part_has_its_own_group(traced):
    metrics, groups = traced["query"]
    ops = {g.rsplit("|", 1)[0] for g in groups if g and g.startswith("q")}
    assert len(ops) == 2
    for op in ops:
        assert groups[f"{op}|action"] >= 1
    assert all(g is None or g.startswith("q") for g in groups)
    builder_jobs = sum(n for g, n in groups.items() if g and g.endswith("|builder"))
    assert metrics["catalog.builder_jobs"][0] == builder_jobs
    owned = sum(n for g, n in groups.items() if g)
    assert metrics["catalog.jobs_per_query"][0] == owned / 2


def test_each_batch_step_has_its_own_group_and_counts_match(traced):
    metrics, groups, plan, ticks = traced["ingest"]
    steps = ("list", "decide", "load", "verify_count", "commit")
    loaded, noop = [], []
    for i in ticks:
        tick = plan[i]
        per_step = {s: groups[f"t{i:05d}|{s}"] for s in steps}
        if tick.arrival is not None:
            assert all(per_step[s] >= 1 for s in steps), per_step
            loaded.append(sum(per_step.values()))
        else:
            assert per_step["list"] >= 1 and per_step["decide"] >= 1, per_step
            assert per_step["load"] == per_step["verify_count"] == per_step["commit"] == 0
            noop.append(sum(per_step.values()))
    assert len(loaded) == workloads.TRACED_BLOCKS and len(noop) == 2 * len(loaded)
    assert metrics["pipeline.jobs_per_loaded_run"][0] == statistics.median(loaded)
    assert metrics["pipeline.jobs_per_noop_run"][0] == statistics.median(noop)
    assert metrics["pipeline.archive_read_amplification"][0] > 1
    assert metrics["streaming.input_rows"][0] >= 1
