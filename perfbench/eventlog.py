"""Per-layer accounting from a Spark event log (stdlib ``json`` only).

The benchmark gives every traced step its own job group
(``spark.jobGroup.id``, named ``<op>|<step>``) and records the wall-clock
span of each step. A job whose group is not one of the benchmark's (a
streaming query's micro-batches run under the query's own run id, on the
stream's thread) goes to ``<op>|other`` for the operation whose step span
contains the job's submission time: which step that is depends on thread
timing, which operation it is does not.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

PYTHON_STAGE_MARK = "Python workers"  # SQL metric names of Python exec nodes


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    py_run_ms: float = 0.0
    py_cpu_ms: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill_disk: int = 0
    input_bytes: int = 0

    def add(self, other: "Totals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    groups: dict[str, Totals] = field(default_factory=lambda: defaultdict(Totals))
    progress: list[dict] = field(default_factory=list)  # streaming progress


def parse(path: str, spans: list[tuple[str, float, float]]) -> EventLog:
    """Fold the log at ``path`` into per-group totals.

    ``spans`` are ``(group, start_ms, end_ms)`` for each traced step; a job
    outside those groups counts under ``<op>|other`` of the step whose span
    contains its submission time, and is dropped when none does.
    """
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, Totals] = defaultdict(Totals)
    python_stages: set[int] = set()
    log = EventLog()
    owned = {group for group, _, _ in spans}

    def group_of(props: dict, when: float) -> str | None:
        gid = props.get("spark.jobGroup.id")
        if gid in owned:
            return gid
        for group, start, end in spans:
            if start <= when <= end:
                return group.rsplit("|", 1)[0] + "|other"
        return None

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = group_of(ev.get("Properties") or {}, ev.get("Submission Time", 0))
                if gid is None:
                    continue
                log.groups[gid].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = gid
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                t = stage_tasks[ev["Stage ID"]]
                t.tasks += 1
                t.run_ms += m["Executor Run Time"]
                t.cpu_ms += m["Executor CPU Time"] / 1e6
                t.gc_ms += m["JVM GC Time"]
                t.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                sr = m["Shuffle Read Metrics"]
                t.shuffle_read += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                t.spill_disk += m["Disk Bytes Spilled"]
                t.input_bytes += m["Input Metrics"]["Bytes Read"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stage_tasks[info["Stage ID"]].stages += 1
                if any(PYTHON_STAGE_MARK in (a.get("Name") or "") for a in info.get("Accumulables", [])):
                    python_stages.add(info["Stage ID"])
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                log.progress.append(ev["progress"])

    for sid, t in stage_tasks.items():
        gid = stage_group.get(sid)
        if gid is None:
            continue
        if sid in python_stages:
            t.py_run_ms, t.py_cpu_ms = t.run_ms, t.cpu_ms
        log.groups[gid].add(t)
    return log


def total(log: EventLog, groups) -> Totals:
    """Sum of the totals of ``groups`` (absent groups count as empty)."""
    out = Totals()
    for gid in groups:
        if gid in log.groups:
            out.add(log.groups[gid])
    return out
