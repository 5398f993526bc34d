#!/usr/bin/env python3
"""Repository benchmark: scheduled snapshot ingest and LLM-funnel query
sweep, driven through the engine's public functions.

    python3 perfbench/run.py --workload {ingest,llm} --seed N \
        --seconds S --trace {0,1}

Run it from the repository root. It generates its inputs from ``--seed``
inside ``.perfbench_work/`` (removed on exit), keeps the Spark session, its
temp files and caches there too, and prints a JSON ``info`` line followed
by the result line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``,
with ``--trace 1`` the per-layer ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mric_bak_etl_spark"
WORKLOADS = ("ingest", "llm")


def pin_environment(work: str) -> dict[str, str]:
    """Process environment for the engine, set before the JVM starts.

    Core count from the CPU affinity mask (what ``nproc`` prints); driver
    heap a quarter of physical memory, clamped to [1, 4] GiB, because the
    engine's own default is sized for a much larger host; Spark scratch
    and every temp/cache root inside the work dir; the checkout on
    ``PYTHONPATH`` so Python workers can import the package.
    """
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, min(4096, phys_mb // 4))}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
    }
    tmp = os.path.join(work, "tmp")
    for d in (pinned["SPARK_LOCAL_DIRS"], tmp):
        os.makedirs(d)
    os.environ.update(pinned)
    os.environ["TMPDIR"] = tmp
    os.environ["XDG_CACHE_HOME"] = os.path.join(work, "cache")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])
    return pinned


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        env = pin_environment(work)
        sys.path[:0] = [ROOT, HERE]
        import workloads

        outcome = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still holds its own work dir

    print(json.dumps({"info": {"workload": args.workload, "seed": args.seed,
                               "env": env, **outcome.info}}))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in outcome.metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
