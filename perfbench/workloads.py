"""The benchmark's workloads, their correctness checks and their metrics.

Each workload is a closed loop with one client on ``local[<nproc>]``: the
next operation starts when the previous one returns. The engine is touched
only through its public functions: ``session.get_spark``, the catalog's
query builders, and ``pipeline.runner``'s ``run_batch``/``run_streaming``,
whose calls into ``manifest``, ``state``, ``unzip`` and ``snapshot`` a
traced run wraps from outside to time each step.

A run sets up once, cold: the first ``get_spark`` (which launches the JVM),
a probe of the inputs, one pass over every operation and one warm-up sweep
(or block). ``setup_s`` is the wall of all of it. The cold pass's outputs
are checked after the clock stops. An untraced run then measures whole sweeps (or blocks of ticks)
until ``--seconds`` have passed. A traced run instead measures a fixed
amount of work three times under the same conditions, each time after a
session restart and a warm-up of the same size: with the event log off, on,
and off again. Its counts so repeat exactly for a seed, and the traced wall
over the mean of the untraced ones is the tracing overhead.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import statistics
import time
from collections import Counter
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from time import perf_counter as now

import duckdb
import pandas as pd
import pyarrow.parquet as pq

import eventlog
import gen_ingest
import gen_tables
from mric_bak_etl_spark import catalog
from mric_bak_etl_spark.pipeline import manifest, runner, state, unzip
from mric_bak_etl_spark.session import get_spark
from mric_bak_etl_spark.tables import TABLE_NAMES, load_table

SF = 0.01  # lineitem = 60k rows; the sweep's cost is per-job overhead, not data
TRACED_SWEEPS = 1  # llm sweeps per traced phase, after one warm-up sweep
TRACED_BLOCKS = 2  # ingest blocks per traced phase, after one warm-up block

# LLM-data funnels whose builders run eager jobs (localCheckpoint/collect),
# the graph and sketch rollups with the most jobs per query, and the
# mapInPandas feature stage: one headliner per mechanism, few enough that a
# cold pass and several warm sweeps fit the run budget on a contended host.
LLM = (
    "l2_minhash_lsh", "l17_semdedup", "g4_triangle_count",
    "a23b_portable_sketch_merge_rollup", "m2_feature_extract",
)
# Queries without an oracle of their own. A twin's oracle computes the same
# columns and values (the repo's tests pin m2 == m2b row for row); failing
# that, the stored row count and value hash, which hold for every seed
# because the seed only permutes table rows.
TWIN_ORACLE = {"m2_feature_extract": "m2b_portable_feature_extract"}
EXPECTED_HASH = {
    "l2_minhash_lsh": (89, "def322fef836c590656a1561939ccfd0eae6bbec323b7a5b9ca88dceb014871b"),
}

INGEST_BACKLOG = 20  # snapshots in the container before the first tick
INGEST_PAYLOAD_MB = 3.0  # .bak payload size
INGEST_MAX_BLOCKS = 60  # schedule length; a run uses the first few blocks

END_TO_END = (("setup_s", "s"), ("op_p50_s", "s"), ("ops_per_s", "1/s"))
PER_LAYER = (
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("catalog.builder_s", "s"), ("catalog.action_s", "s"),
    ("catalog.builder_jobs", "count"), ("catalog.jobs_per_query", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("python.noncpu_share", "ratio"),
    ("shuffle.write_bytes", "B"), ("shuffle.read_bytes", "B"),
    ("spill.disk_bytes", "B"), ("scan.input_bytes", "B"),
    ("ingest_load_p50_s", "s"), ("ingest_noop_p50_s", "s"),
    ("stream_ingest_p50_s", "s"), ("ingest_mb_per_s", "MB/s"),
    ("pipeline.list_s", "s"), ("pipeline.decide_s", "s"),
    ("pipeline.commit_s", "s"), ("pipeline.load_s", "s"),
    ("pipeline.verify_count_s", "s"),
    ("pipeline.jobs_per_loaded_run", "count"), ("pipeline.jobs_per_noop_run", "count"),
    ("pipeline.archive_read_amplification", "ratio"),
    ("streaming.trigger_ms", "ms"), ("streaming.addBatch_ms", "ms"),
    ("streaming.walCommit_ms", "ms"), ("streaming.input_rows", "count"),
    ("jvm.peak_rss_mb", "MB"), ("trace.overhead", "ratio"),
)


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def attempt(self, op: Callable[[], str | None], what: str) -> None:
        """Run one operation; a returned message or an exception is a failure."""
        self.attempted += 1
        try:
            problem = op()
        except Exception as exc:  # an engine failure is counted, never fatal
            problem = f"{type(exc).__name__}: {exc}"
        if problem:
            self.failed += 1
            self.info.setdefault("failures", []).append(f"{what}: {problem}"[:300])


def keep(op: Callable):
    """Run ``op`` and return its result, or the exception it raised so that
    a later check can count it."""
    try:
        return op()
    except Exception as exc:  # reported by the check, never fatal
        return exc


def unwrap(value):
    if isinstance(value, Exception):
        raise value
    return value


class Tracer:
    """Job groups plus wall-clock spans of traced steps; inert when off."""

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[tuple[str, float, float]] = []
        self._open: tuple[str, float] | None = None

    def step(self, group: str | None) -> None:
        """Close the open step and open ``group`` (None: open nothing)."""
        if self.sc is None:
            return
        t = time.time() * 1000
        if self._open is not None:
            self.spans.append((self._open[0], self._open[1], t))
        self._open = (group, t) if group else None
        if group:
            self.sc.setJobGroup(group, group)

    def durations(self, step: str) -> dict[str, float]:
        """Seconds per op spent in the steps named ``<op>|<step>``."""
        return {
            g.rsplit("|", 1)[0]: (end - start) / 1000
            for g, start, end in self.spans
            if g.endswith("|" + step)
        }


class Engine:
    """Owns the Spark session: first start, restarts with the event log on
    or off, shutdown."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.log_path: str | None = None  # the last traced session's event log

    def start(self) -> float:
        """The first ``get_spark``, which launches the JVM; returns its wall."""
        t = now()
        self.spark = get_spark()
        return now() - t

    def restart(self, event_log: bool) -> None:
        """Restart the session with the event log on or off. The confs go
        in as JVM system properties, which a new SparkContext reads at
        launch; options set on a builder before ``get_spark()`` would not
        reach it."""
        log_dir = os.path.join(self.work, "events")
        os.makedirs(log_dir, exist_ok=True)
        system = self.spark.sparkContext._jvm.java.lang.System
        for key, value in {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }.items():
            if event_log:
                system.setProperty(key, value)
            else:
                system.clearProperty(key)
        self.spark.stop()
        self.spark = get_spark()
        if event_log:
            self.log_path = os.path.join(log_dir, self.spark.sparkContext.applicationId)

    def finish_trace(self, spans) -> tuple[eventlog.EventLog, float]:
        """Stop the session; returns the parsed log of the last traced
        session (flushed when it stopped) and the driver JVM's peak
        resident set in MB."""
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        self.spark.stop()
        self.spark = None
        return eventlog.parse(self.log_path, spans), hwm_kb / 1024

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> Outcome:
    out = Outcome()
    engine = Engine(work)
    try:
        if workload == "ingest":
            w = IngestWorkload(seed, work, engine, out)
        else:
            w = QueryWorkload(LLM, seed, work, engine, out)
        t = now()
        start_s = engine.start()
        w.cold_pass()
        setup_s = now() - t
        w.check_cold()
        if traced:
            out.metrics.update(w.traced_metrics())
            out.metrics["session.start_s"] = (start_s, "s")
            out.metrics["session.warmup_s"] = (setup_s - start_s, "s")
        else:
            walls = w.measure(seconds)
            out.info["op_walls_s"] = [round(x, 3) for x in walls]
            out.metrics.update({
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(walls), "s"),
                "ops_per_s": (len(walls) / sum(walls), "1/s"),
            })
    finally:
        engine.close()
    if traced:
        for name, unit in PER_LAYER:
            out.metrics.setdefault(name, (0, unit))
    return out


def spark_layer_metrics(log: eventlog.EventLog, groups: list[str], n_ops: int) -> dict:
    """Scheduler, executor, Python-boundary and I/O totals per operation."""
    t = eventlog.total(log, groups)
    n = max(n_ops, 1)
    return {
        "spark.stages": (t.stages / n, "count"),
        "spark.tasks": (t.tasks / n, "count"),
        "executor.run_s": (t.run_ms / 1000 / n, "s"),
        "executor.cpu_s": (t.cpu_ms / 1000 / n, "s"),
        "executor.gc_s": (t.gc_ms / 1000 / n, "s"),
        "python.noncpu_share": (1 - t.py_cpu_ms / t.py_run_ms if t.py_run_ms else 0.0, "ratio"),
        "shuffle.write_bytes": (t.shuffle_write / n, "B"),
        "shuffle.read_bytes": (t.shuffle_read / n, "B"),
        "spill.disk_bytes": (t.spill_disk / n, "B"),
        "scan.input_bytes": (t.input_bytes / n, "B"),
    }


def streaming_metrics(log: eventlog.EventLog) -> dict:
    """Medians over the micro-batches that read input."""

    def rows(progress: dict) -> int:
        return sum(src.get("numInputRows", 0) for src in progress.get("sources", []))

    busy = [p for p in log.progress if rows(p) > 0]

    def dur(key: str) -> float:
        return median_or_zero(p["durationMs"].get(key, 0) for p in busy)

    return {
        "streaming.trigger_ms": (dur("triggerExecution"), "ms"),
        "streaming.addBatch_ms": (dur("addBatch"), "ms"),
        "streaming.walCommit_ms": (dur("walCommit"), "ms"),
        "streaming.input_rows": (median_or_zero(rows(p) for p in busy), "count"),
    }


# ---------------------------------------------------------------- queries


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        s = df[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[col] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[col] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[col] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[col] = s.astype("bool")
        elif s.dtype == object:
            df[col] = s.map(lambda v: None if v is None else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_differ(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive value compare, floats to 1e-9 relative."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    a, b = _normalize(got), _normalize(want)
    for col in a.columns:
        for i, (u, v) in enumerate(zip(a[col].tolist(), b[col].tolist())):
            if isinstance(u, float) or isinstance(v, float):
                if not (u != u and v != v) and not math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-9):
                    return f"{col}[{i}]: {u!r} != {v!r}"
            elif u != v and not (pd.isna(u) and pd.isna(v)):
                return f"{col}[{i}]: {u!r} != {v!r}"
    return None


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a frame's values, floats to 9 digits."""
    text = _normalize(df).to_csv(index=False, float_format="%.9g")
    return hashlib.sha256(text.encode()).hexdigest()


class QueryWorkload:
    """A sweep runs every query, builder plus action, once, in a
    seed-shuffled order, through the ``noop`` sink. One operation is one
    sweep: a single query's wall is mostly that query's own noise, and the
    median of a few mixed queries jumps between them."""

    def __init__(self, names, seed: int, work: str, engine: Engine, out: Outcome):
        self.names = list(names)
        self.rng = random.Random(seed)
        self.engine, self.out = engine, out
        self.tables = os.path.join(work, "tables")
        self.rows = gen_tables.write_tables(self.tables, seed, SF)
        self.specs = catalog.all_specs()
        self.cold: dict[str, object] = {}
        self.ops = 0

    def shuffled(self) -> list[str]:
        order = self.names[:]
        self.rng.shuffle(order)
        return order

    def query(self, name: str, tracer: Tracer) -> float:
        op = f"q{self.ops:05d}|{name}"
        self.ops += 1
        spec = self.specs[name]
        t = now()
        tracer.step(f"{op}|builder")
        df = spec.builder(self.engine.spark, self.tables)
        tracer.step(f"{op}|action")
        df.write.format("noop").mode("overwrite").save()
        tracer.step(None)
        return now() - t

    def probe(self) -> None:
        """Plan every input table and count the largest."""

        def count() -> str | None:
            spark = self.engine.spark
            plans = {t: load_table(spark, self.tables, t) for t in TABLE_NAMES}
            rows = plans["lineitem"].count()
            return None if rows == self.rows["lineitem"] else f"lineitem has {rows} rows"

        self.out.attempt(count, "probe")

    def cold_pass(self) -> None:
        """Probe, every query once with its rows kept for ``check_cold``,
        then one warm-up sweep through the ``noop`` sink, whose plans
        differ from the collecting ones."""
        self.probe()
        for name in self.shuffled():
            builder = self.specs[name].builder
            self.cold[name] = keep(lambda b=builder: b(self.engine.spark, self.tables).toPandas())
        self.sweeps(1, 0, Tracer())

    def check_cold(self) -> None:
        """Every cold-pass result against its DuckDB oracle, its twin's
        oracle, or its stored value hash."""
        duck = duckdb.connect()
        for t in TABLE_NAMES:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")

        def verify(name: str) -> str | None:
            got = unwrap(self.cold[name])
            oracle = self.specs[TWIN_ORACLE.get(name, name)].oracle
            if oracle is not None:
                return frames_differ(got, duck.execute(oracle).df())
            if name not in EXPECTED_HASH:
                return "no oracle and no stored hash"
            rows, digest = EXPECTED_HASH[name]
            if len(got) != rows:
                return f"{len(got)} rows, expected {rows}"
            return None if value_hash(got) == digest else "values differ from the stored hash"

        for name in self.names:
            self.out.attempt(lambda name=name: verify(name), f"verify {name}")
        duck.close()
        self.cold.clear()

    def sweeps(self, n_min: int, seconds: float, tracer: Tracer) -> list[float]:
        """Whole sweeps until ``n_min`` are done and ``seconds`` have
        passed; returns each sweep's wall, the sum of its queries' walls."""
        walls: list[float] = []
        t = now()
        while len(walls) < n_min or now() - t < seconds:
            queries: list[float] = []
            for name in self.shuffled():
                self.out.attempt(lambda name=name: queries.append(self.query(name, tracer)), name)
            walls.append(sum(queries))
        return walls

    def measure(self, seconds: float) -> list[float]:
        walls = self.sweeps(1, seconds, Tracer())
        self.out.info["samples"] = {"sweeps": len(walls), "queries": len(self.names), "sf": SF}
        return walls

    def phase(self, event_log: bool) -> tuple[list[float], Tracer]:
        """Restart, probe, one warm-up sweep, then TRACED_SWEEPS measured
        sweeps, with the event log and job groups on or off."""
        self.engine.restart(event_log)
        self.probe()
        self.sweeps(1, 0, Tracer())
        tracer = Tracer(self.engine.spark if event_log else None)
        return self.sweeps(TRACED_SWEEPS, 0, tracer), tracer

    def traced_metrics(self) -> dict:
        """The traced phase between two untraced ones, so that a drift in
        speed through the run cancels out of the overhead; a first
        untraced phase is discarded, as the JIT still speeds up the
        next few sweeps by more than tracing costs."""
        self.phase(event_log=False)
        before, _ = self.phase(event_log=False)
        walls, tracer = self.phase(event_log=True)
        after, _ = self.phase(event_log=False)
        log, rss_mb = self.engine.finish_trace(tracer.spans)
        builder, action = tracer.durations("builder"), tracer.durations("action")
        every = [f"{op}|{part}" for op in action for part in ("builder", "action", "other")]
        m = {
            "catalog.builder_s": (statistics.mean(builder.values()), "s"),
            "catalog.action_s": (statistics.mean(action.values()), "s"),
            "catalog.builder_jobs": (
                eventlog.total(log, [f"{op}|builder" for op in builder]).jobs // TRACED_SWEEPS,
                "count"),
            "catalog.jobs_per_query": (eventlog.total(log, every).jobs / len(action), "count"),
            "jvm.peak_rss_mb": (rss_mb, "MB"),
            "trace.overhead": (2 * sum(walls) / (sum(before) + sum(after)) - 1, "ratio"),
        }
        m.update(spark_layer_metrics(log, every, len(action)))
        m.update(streaming_metrics(log))
        self.out.info["samples"] = {"sweeps_per_phase": len(walls), "queries": len(self.names),
                                    "sf": SF}
        return m


# ---------------------------------------------------------------- ingest

BATCH_STEPS = ("list", "decide", "load", "verify_count", "commit")


@contextmanager
def traced_batch_steps(tracer: Tracer, current: list[str | None]):
    """Wrap the pipeline modules' public calls that ``run_batch`` makes, so
    that each step opens its own job group. ``current[0]`` names the run;
    it is None outside ``run_batch``, which leaves the streaming path (it
    also calls ``unzip``) alone."""
    patched = []

    def wrap(module, name: str, step: str, after: bool = False) -> None:
        fn = getattr(module, name)
        patched.append((module, name, fn))

        def wrapper(*args, **kwargs):
            if current[0] is not None and not after:
                tracer.step(f"{current[0]}|{step}")
            result = fn(*args, **kwargs)
            if current[0] is not None and after:
                tracer.step(f"{current[0]}|{step}")
            return result

        setattr(module, name, wrapper)

    wrap(manifest, "manifest_from_directory", "list")
    wrap(state, "read_state", "decide")
    wrap(unzip, "unzip_entries", "load")
    wrap(runner, "overwrite_snapshot", "verify_count", after=True)
    wrap(state, "commit_state", "commit")
    try:
        yield
    finally:
        for module, name, fn in patched:
            setattr(module, name, fn)


@dataclass(frozen=True)
class TickWall:
    loaded: bool  # the schedule landed a new snapshot before this tick
    batch_s: float  # run_batch
    stream_s: float  # run_streaming


class IngestWorkload:
    """A tick is one scheduled run: ``run_batch`` (the reference's job, with
    its state table) then ``run_streaming`` (the append form, with its own
    checkpoint and output) over the same container. One operation is one
    block of ticks, the schedule's unit: one tick that loads a new snapshot
    and two that find it already imported."""

    def __init__(self, seed: int, work: str, engine: Engine, out: Outcome,
                 backlog: int = INGEST_BACKLOG, payload_mb: float = INGEST_PAYLOAD_MB):
        self.plan = gen_ingest.make_plan(seed, backlog, INGEST_MAX_BLOCKS, payload_mb)
        self.engine, self.out = engine, out
        self.dirs = {k: os.path.join(work, k) for k in ("blobs", "state", "out", "ckpt", "stream")}
        os.makedirs(self.dirs["blobs"])
        self.landed: list[str] = []  # every blob in the container
        self.land(self.plan.backlog_blobs())
        self.next_tick = 0
        self.walls: dict[int, TickWall] = {}  # per tick index
        self.cold = None
        self.traced_ticks = range(0)  # the measured ticks of the traced phase

    def land(self, blobs) -> None:
        for blob in blobs:
            gen_ingest.land(blob, self.dirs["blobs"])
            self.landed.append(blob.name)

    def batch(self):
        d = self.dirs
        return runner.run_batch(self.engine.spark, d["blobs"], d["state"], d["out"])

    def stream(self) -> int:
        d = self.dirs
        return runner.run_streaming(self.engine.spark, d["blobs"], d["ckpt"], d["stream"])

    def probe(self) -> None:
        """List the container through the manifest scan."""

        def listing() -> str | None:
            n = manifest.manifest_from_directory(self.engine.spark, self.dirs["blobs"]).count()
            return None if n == len(self.landed) else f"listed {n} blobs, container has {len(self.landed)}"

        self.out.attempt(listing, "probe")

    def payload_digest(self) -> str | None:
        """SHA-256 of the loaded snapshot's payload, if it is one row."""
        rows = pq.read_table(self.dirs["out"], columns=["entry_bytes"]).column(0).to_pylist()
        return hashlib.sha256(rows[0]).hexdigest() if len(rows) == 1 else None

    def check_batch(self, result, expected: str, winner: gen_ingest.Blob | None,
                    digest: str | None = None) -> str | None:
        if result.status != expected:
            return f"status {result.status}, schedule expects {expected}"
        if winner is None:
            return None
        if result.snapshot != winner.name:
            return f"loaded {result.snapshot}, latest is {winner.name}"
        if (digest or self.payload_digest()) != winner.payload_sha256:
            return f"loaded payload differs from {winner.name}'s .bak"
        return None

    def check_stream(self) -> str | None:
        """Every archive that ever landed is in the stream output exactly once."""
        paths = pq.read_table(self.dirs["stream"], columns=["archive_path"]).column(0).to_pylist()
        got = Counter(p.rsplit("/", 1)[-1] for p in paths)
        want = Counter(n for n in self.landed if n.endswith(".zip"))
        if got != want:
            return f"stream output has {sum(got.values())} archives ({len(got)} distinct), expected {len(want)} once each"
        return None

    def cold_pass(self) -> None:
        """Probe, the first import (the backlog's latest snapshot) and the
        first stream trigger (the whole backlog), kept for ``check_cold``
        with the loaded payload's digest (the warm-up block that follows
        overwrites it), then one warm-up block, whose ticks are checked as
        they run."""
        self.probe()
        self.cold = keep(lambda: (self.batch(), self.stream(), self.payload_digest()))
        self.blocks(1, 0, Tracer(), [None])

    def check_cold(self) -> None:
        winner = self.plan.archive(self.plan.backlog[-1])

        def verify() -> str | None:
            result, batches, digest = unwrap(self.cold)
            return (self.check_batch(result, "loaded", winner, digest)
                    or (self.check_stream() if batches else "no stream batch"))

        self.out.attempt(verify, "initial import")

    def tick(self, tracer: Tracer, current: list) -> float:
        """Land the tick's blobs, run it and check it; returns its wall
        without the check (up to the failure, if it failed)."""
        i = self.next_tick
        self.next_tick += 1
        tick = self.plan.ticks[i]
        blobs = self.plan.tick_blobs(i)
        self.land(blobs)
        winner = blobs[0] if tick.arrival is not None else None
        op = f"t{i:05d}"
        t0 = now()

        def run_tick() -> str | None:
            current[0] = op
            try:
                result = self.batch()
            finally:
                current[0] = None
                tracer.step(None)
            t1 = now()
            tracer.step(f"{op}|stream")
            self.stream()
            tracer.step(None)
            self.walls[i] = TickWall(winner is not None, t1 - t0, now() - t1)
            return self.check_batch(result, tick.expected_status, winner) or self.check_stream()

        self.out.attempt(run_tick, f"tick {i} ({tick.expected_status})")
        if i in self.walls:
            return self.walls[i].batch_s + self.walls[i].stream_s
        return now() - t0

    def blocks(self, n_min: int, seconds: float, tracer: Tracer, current: list) -> list[float]:
        """Whole blocks until ``n_min`` are done and ``seconds`` have passed
        (or the schedule ends); returns each block's wall."""
        walls: list[float] = []
        t = now()
        while len(walls) < n_min or now() - t < seconds:
            if self.next_tick + gen_ingest.BLOCK > len(self.plan.ticks):
                break
            walls.append(sum(self.tick(tracer, current) for _ in range(gen_ingest.BLOCK)))
        return walls

    def measure(self, seconds: float) -> list[float]:
        walls = self.blocks(1, seconds, Tracer(), [None])
        self.out.info["samples"] = {
            "blocks": len(walls), "ticks": len(walls) * gen_ingest.BLOCK,
            "backlog": len(self.plan.backlog), "payload_mb": self.plan.payload_mb,
        }
        return walls

    def phase(self, event_log: bool) -> tuple[range, Tracer]:
        """Restart, probe, one warm-up block, then TRACED_BLOCKS measured
        blocks, with the event log and step job groups on or off; returns
        the measured ticks' indices."""
        self.engine.restart(event_log)
        self.probe()
        self.blocks(1, 0, Tracer(), [None])
        tracer = Tracer(self.engine.spark if event_log else None)
        current: list[str | None] = [None]
        first = self.next_tick
        with traced_batch_steps(tracer, current):
            self.blocks(TRACED_BLOCKS, 0, tracer, current)
        return range(first, self.next_tick), tracer

    def block_estimate(self, ticks) -> float:
        """A block's wall from per-kind tick medians: one loading tick and
        the rest already imported. The phases run different ticks on a
        container of different size, so their sums would not compare."""
        walls = [self.walls[i] for i in ticks if i in self.walls]
        loaded = median_or_zero(w.batch_s + w.stream_s for w in walls if w.loaded)
        noop = median_or_zero(w.batch_s + w.stream_s for w in walls if not w.loaded)
        return loaded + (gen_ingest.BLOCK - 1) * noop

    def traced_metrics(self) -> dict:
        """The traced phase between two untraced ones, so that a drift in
        speed through the run cancels out of the overhead; a first
        untraced phase is discarded, as the JIT still speeds up the
        next few blocks by more than tracing costs."""
        self.phase(event_log=False)
        before, _ = self.phase(event_log=False)
        traced, tracer = self.phase(event_log=True)
        after, _ = self.phase(event_log=False)
        log, rss_mb = self.engine.finish_trace(tracer.spans)
        self.traced_ticks = traced
        plain = [*before, *after]

        walls = [self.walls[i] for i in plain if i in self.walls]
        loaded_walls = [w for w in walls if w.loaded]
        loaded_mb = sum(self.plan.tick_blobs(i)[0].payload_bytes / 1e6
                        for i in plain if self.plan.ticks[i].arrival is not None)
        m = {
            "ingest_load_p50_s": (median_or_zero(w.batch_s for w in loaded_walls), "s"),
            "ingest_noop_p50_s": (median_or_zero(w.batch_s for w in walls if not w.loaded), "s"),
            "stream_ingest_p50_s": (median_or_zero(w.stream_s for w in loaded_walls), "s"),
            "ingest_mb_per_s": (loaded_mb / sum(w.batch_s for w in walls), "MB/s"),
            "trace.overhead": (2 * self.block_estimate(traced)
                               / (self.block_estimate(before) + self.block_estimate(after)) - 1,
                               "ratio"),
            "jvm.peak_rss_mb": (rss_mb, "MB"),
        }

        loaded, noop = [], []
        for i in traced:
            (loaded if self.plan.ticks[i].arrival is not None else noop).append(f"t{i:05d}")
        batch = {op: eventlog.total(log, [f"{op}|{s}" for s in BATCH_STEPS]) for op in loaded + noop}
        amplification = [
            batch[op].input_bytes / len(self.plan.tick_blobs(int(op[1:]))[0].data) for op in loaded
        ]
        m.update({f"pipeline.{s}_s": (median_or_zero(tracer.durations(s).values()), "s")
                  for s in BATCH_STEPS})
        m.update({
            "pipeline.jobs_per_loaded_run": (median_or_zero(batch[op].jobs for op in loaded), "count"),
            "pipeline.jobs_per_noop_run": (median_or_zero(batch[op].jobs for op in noop), "count"),
            "pipeline.archive_read_amplification": (median_or_zero(amplification), "ratio"),
        })
        groups = [f"{op}|{s}" for op in loaded + noop for s in BATCH_STEPS + ("stream", "other")]
        m.update(spark_layer_metrics(log, groups, len(traced)))
        m.update(streaming_metrics(log))
        self.out.info["samples"] = {
            "blocks_per_phase": TRACED_BLOCKS, "ticks_per_phase": len(traced),
            "loaded_per_phase": len(loaded), "already_imported_per_phase": len(noop),
            "backlog": len(self.plan.backlog), "payload_mb": self.plan.payload_mb,
        }
        return m
