#!/usr/bin/env python
"""Benchmark harness — the driver runs this per-round (BENCH_r{N}.json).

Runs the headline catalog queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized via the `noop` sink (forces the whole plan,
no driver collect, no output I/O skew) after a warm-up action has primed the
JVM/codegen caches.

Bench note (r2→r3): the four sub-second queries that regressed 5-20%
between BENCH_r01 and BENCH_r02 (h5, sq2, h18, t1) were re-measured 5×
each on identical plans — run-to-run spread on this shared VM is 17-58%
(h5: 0.97-1.54 s), so round-over-round deltas inside ~±25% on sub-second
queries are steal-time noise, not plan changes. Not chased further.

Bench note (r3→r4): a mid-round probe measured the whole common set
uniformly 1.33x slower than BENCH_r03 on unchanged plans (l2 1.7→3.4 s)
— host-wide slowdown, so compare queries WITHIN a run, not across runs.
Of the round-4 headliners, l29 is the heaviest (~2.5 s normalized at
sf0.1): ~10 fixed stages dominate at fixture scale, while DuckDB
single-threaded needs 4.9 s for the identical string-keyed computation
— the hashed-window design wins even on a throttled box and the stage
count is constant in corpus size.

Bench note (r5, host-noise-proofing): alongside absolute seconds, every
headline query with a DuckDB oracle is also timed through single-threaded
DuckDB on the SAME parquet IN THE SAME RUN, and the JSON line carries
`duck_sec` plus `spark_over_duck` (spark wall / duck wall — lower is
better, <1 means Spark beats single-threaded DuckDB). Both engines see
the same host weather, so the ratio is steal-time-invariant and is the
number to compare ACROSS rounds; absolute seconds remain the
within-round signal. Queries without an oracle (engine-specific
sketches) report no ratio. Interpretation at fixture scale: ratios are
meaningful where Spark wall is well above its ~0.3-0.7 s fixed
stage/scheduling overhead — the heavy queries (w3, l29, g4, l19) land
at 1-2.4x single-threaded DuckDB at sf0.1 — while sub-second queries
show inflated ratios that are pure fixed overhead over DuckDB's
millisecond plans; those converge toward the heavy-query band as SF
grows (the sf0.1 vs sf0.01 spread demonstrates exactly that).
ITERATIVE queries (g5's 5 PageRank rounds) pay that fixed floor once
PER ROUND — a ~5x multiplier on the overhead term that a recursive-CTE
engine doesn't have — so their fixture-scale ratios sit above the
single-pass heavy band while their data-scaling stays flat (SCALE.md:
g5 1.16x wall at 10x data).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mric_bak_etl_spark.catalog import all_specs, headline_names  # noqa: E402
from mric_bak_etl_spark.session import codegen_compiles, get_spark  # noqa: E402

# Headline set lives in the catalog beside the registry (catalog.HEADLINE,
# r10 verdict task 6): headline_names() validates membership against the
# registered queries, and tests/test_catalog.py forces every newly
# registered query into it — the per-round "new ops join the bench" step
# can no longer be forgotten. COMMON23 below stays here: it is a frozen
# measurement artifact (the cross-round comparable set), not registry state.


# The 23 queries present in every round's headline since r1 — the only
# spark-wall total comparable across rounds (the set grew r2-r9). The
# compact line carries its total for BOTH engines so each round's host
# weather is readable from the driver record alone: the duck wall moves
# with co-tenant load too (same box), so a per-round ratio INHERITS
# weather from whichever engine's runs hit the noisy minutes — it is
# steal-noise-REDUCED (same-session, same-parquet), not invariant.
COMMON23 = (
    "a1_pricing_summary", "a4_rollup", "j1_inner_equi", "j2_broadcast_dims",
    "j6_asof", "w1_ranking", "w3_frames", "o2_topk", "u2b_except_all",
    "f5_arrays", "h3_shipping_priority", "h5_local_supplier_volume",
    "h18_large_volume_customer", "sq2_scalar_correlated",
    "j8_salted_skew_join", "t1_tumbling_window", "l2_minhash_lsh",
    "l3_cosine_topk", "l4_tokenize_tf", "l17_semdedup", "l18_unigram_lm",
    "e4_event_transitions", "m2_feature_extract",
)


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(match.group(1).rstrip(".")) if match else None

    spark = get_spark("mric-bak-etl-spark-bench")
    specs = all_specs()
    names = headline_names()

    # Warm-up: one untimed pass over every query — JVM JIT, per-query
    # codegen, parquet footers, and the Python worker pool (the pandas
    # stages otherwise pay ~2 s of worker spin-up in the measured run).
    # The codegen part holds because get_spark sizes Spark's generated-class
    # cache to the catalog (session.CODEGEN_CACHE_ENTRIES); at Spark's
    # default of 100 every sweep recompiled its ~1,200 classes.
    # Steady-state is what a long-lived cluster session observes.
    for name in names:
        materialize(specs[name].builder(spark, sf_dir))

    # Three INTERLEAVED measured sweeps, per-query MIN: the environment is
    # a shared VM with steal-time noise (observed: identical plans varying
    # 2-10x run to run). Interleaving separates a query's passes by a full
    # sweep (~15 s), so a localized host stall lands in different queries
    # on different passes and the min absorbs it; the min is the
    # least-contended — i.e. most plan-representative — estimate, matching
    # steady-state profiling of the same queries.
    timings: dict[str, float] = {}
    compiles: list[int] = []  # generated classes compiled per measured sweep
    for _ in range(3):
        before = codegen_compiles(spark)
        for name in names:
            start = time.perf_counter()
            materialize(specs[name].builder(spark, sf_dir))
            elapsed = round(time.perf_counter() - start, 3)
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed
        compiles.append(codegen_compiles(spark) - before)

    total = round(sum(timings.values()), 3)

    # DuckDB-relative pass: same box, same run, same parquet — the
    # per-query ratio cancels host steal-time (see r5 bench note).
    # Single-threaded DuckDB is the honest "one good core" baseline;
    # warm-up once, then min of 2 measured runs mirrors the Spark side.
    # The entire block is best-effort: the ratio is diagnostic and must
    # never cost the bench line (r5 ADVICE — a view-creation failure
    # previously aborted after all Spark timings were collected).
    duck_timings: dict[str, float] = {}
    try:
        import duckdb  # noqa: E402

        con = duckdb.connect()
        con.execute("SET threads TO 1")
        for t in (
            "region nation customer supplier part orders "
            "lineitem events documents embeddings"
        ).split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        # Measurement-cost guard: the duck pass is DIAGNOSTIC (the c23
        # gate members all run in milliseconds-to-seconds), but a
        # composite whose oracle re-derives a whole index in DuckDB
        # (l42/l42b: ~58 s single-threaded at sf0.1; l42c's
        # two-generation fold is ~2x that) would add ~3 min of bench
        # wall PER QUERY for a ratio nobody adjudicates by. The budget
        # is enforced with a HARD interrupt (duckdb's con.interrupt()
        # from a timer thread), so even the warm-up run costs at most
        # DUCK_BUDGET_S before the query is shed — r12's guard let the
        # warm-up run to completion first, which at l42c mass would
        # have paid ~4 min for three sheds. Sheds are recorded visibly
        # (duck_slow_shed in bench_detail.json) — never silently.
        import threading

        DUCK_BUDGET_S = 20.0
        duck_slow_shed: list[str] = []

        def run_within_budget(sql: str) -> float | None:
            """One timed execution, interrupted (→ None) at the budget."""
            timer = threading.Timer(DUCK_BUDGET_S, con.interrupt)
            timer.start()
            try:
                start = time.perf_counter()
                con.execute(sql).fetchall()
                return time.perf_counter() - start
            except Exception:
                return None  # interrupted (or genuinely failed → shed)
            finally:
                timer.cancel()

        for name in names:
            oracle = specs[name].oracle
            if oracle is None:
                continue
            try:
                warm = run_within_budget(oracle)  # warm (metadata, plan)
                if warm is None:
                    # One retry before shedding: a transient host stall
                    # can push a sub-2 s oracle past the budget (observed
                    # once on w3_frames — 1.6 s calm — which silently
                    # shrank the c23 gate's duck column). A genuinely
                    # slow oracle costs at most 2x the budget here.
                    warm = run_within_budget(oracle)
                if warm is None:
                    duck_slow_shed.append(name)
                    continue
                best = None
                for _ in range(2):
                    elapsed = run_within_budget(oracle)
                    if elapsed is not None and (best is None or elapsed < best):
                        best = elapsed
                if best is None:
                    duck_slow_shed.append(name)
                    continue
                duck_timings[name] = round(best, 3)
            except Exception:
                continue
    except Exception:
        duck_timings = {}
        duck_slow_shed = []
    ratios = {
        n: round(timings[n] / duck_timings[n], 3)
        for n in duck_timings
        if duck_timings[n] > 0
    }

    # Full detail (per-query DuckDB seconds, all ratios) goes to a side
    # file; stdout gets ONE compact machine line, printed LAST (the
    # driver tail-captures only ~2000 chars of stdout).
    detail = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "duck_sec": duck_timings,
        "spark_over_duck": ratios,
        "duck_slow_shed": duck_slow_shed,
        "codegen_compiles": compiles,
    }
    try:
        side = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
        )
        with open(side, "w") as fh:
            json.dump(detail, fh, indent=1)
    except Exception:
        pass  # side file is informational only
    print(compose_line(total, timings, sf, duck_timings))
    spark.stop()


def compose_line(
    total: float,
    timings: dict[str, float],
    sf,
    duck_timings: dict[str, float],
    budget: int = 1950,
) -> str:
    """Compose the ONE stdout JSON line under the driver's tail-capture
    budget (~2000 chars; we use 1950). Pure function, unit-tested in
    tests/test_catalog.py.

    One form: every query's Spark seconds at 2 dp with ``queries_shed``
    0, plus the c23 gate. The c23 pair is the cross-round
    weather/regression gate (SCALE.md r11: a regression is a c23_ratio
    excursion above the ~7.7 historical envelope on a FLAT duck wall),
    so the driver record is self-adjudicating. duck_common23 is
    structurally a 21-of-23 sum (l2/m2 carry no oracle); duck_c23_n
    makes any FURTHER shortfall — a transient per-query DuckDB failure
    silently zero-filled by .get() — visible instead of skewing the
    ratio.

    One fallback, for a headline that outgrows the budget: every
    COMMON23 member (the frozen comparable set must stay readable from
    the line itself) plus the slowest other queries that fit, with the
    shed count visible. The full map and every DuckDB ratio are always
    in bench_detail.json.
    """
    duck_c23 = sum(duck_timings.get(n, 0.0) for n in COMMON23)
    spark_c23 = sum(timings.get(n, 0.0) for n in COMMON23)
    c23 = {
        "duck_common23": round(duck_c23, 2),
        "duck_c23_n": sum(1 for n in COMMON23 if n in duck_timings),
        "spark_common23": round(spark_c23, 2),
        "c23_ratio": round(spark_c23 / duck_c23, 2) if duck_c23 > 0 else None,
    }
    queries = {n: round(t, 2) for n, t in timings.items()}

    def line(keep) -> str:
        kept = {n: t for n, t in queries.items() if n in keep}
        return json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": kept,
                "queries_shed": len(queries) - len(kept),
                "sf": sf,
                **c23,
            },
            separators=(",", ":"),
        )

    full = line(queries)
    if len(full) <= budget:
        return full
    keep = {n for n in queries if n in COMMON23}
    for n in sorted(set(queries) - keep, key=lambda n: -queries[n]):
        if len(line(keep | {n})) > budget:
            break
        keep.add(n)
    return line(keep)


if __name__ == "__main__":
    main()
