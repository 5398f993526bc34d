"""Registry-level contracts: bench-membership enforcement (r10 verdict
task 6 — the per-round "new ops join the bench" step must be impossible
to forget) and HEADLINE/registry consistency."""

from __future__ import annotations

import json
import os
import sys

from mric_bak_etl_spark.catalog import (
    HEADLINE,
    all_specs,
    headline_names,
    last_green_rounds,
)

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_new_query_joins_the_bench_headline():
    """A query that has never been green in the driver record (first
    registered this round) must be in catalog.HEADLINE, so its first
    driver round benches it too. Once it has a green row, membership
    becomes a curation choice again."""
    new = set(all_specs()) - set(last_green_rounds())
    missing = sorted(new - set(HEADLINE))
    assert not missing, (
        f"queries new this round are missing from the bench HEADLINE: "
        f"{missing}"
    )


def test_headline_names_resolve_and_cover_common23():
    names = headline_names()
    assert len(names) == len(set(names)), "duplicate HEADLINE entries"
    sys.path.insert(0, _ROOT)
    import bench

    assert set(bench.COMMON23) <= set(names), (
        "COMMON23 (the cross-round comparable set) must stay a subset "
        "of the headline"
    )


def _line_inputs(n_queries: int):
    """Synthetic bench results: n long-named queries plus COMMON23."""
    sys.path.insert(0, _ROOT)
    import bench

    timings = {f"q{i:03d}_some_operator_name": 1.0 + i / 100 for i in range(n_queries)}
    duck = {n: 0.345 for n in timings}
    for n in bench.COMMON23:
        timings[n] = 2.0
        duck[n] = 0.4
    return bench, timings, duck


def test_bench_line_full_form_keeps_every_query_and_gate():
    """A headline of today's size prints in the one full form: every
    query at 2 dp, ``queries_shed`` 0 and the c23 gate, under the
    default budget."""
    bench, timings, duck = _line_inputs(61 - 23)
    line = bench.compose_line(74.0, timings, 0.1, duck)
    assert len(line) <= 1950
    parsed = json.loads(line)
    assert parsed["queries"] == {n: round(t, 2) for n, t in timings.items()}
    assert parsed["queries_shed"] == 0
    assert set(parsed) == {
        "metric", "value", "unit", "queries", "queries_shed", "sf",
        "duck_common23", "duck_c23_n", "spark_common23", "c23_ratio",
    }


def test_bench_line_fallback_never_sheds_common23():
    """Over budget, the fallback keeps every COMMON23 member — even the
    fastest — plus the slowest other queries that fit, and the shed
    count stays visible."""
    bench, timings, duck = _line_inputs(60)
    for n in bench.COMMON23:
        timings[n] = 0.05  # the rows slowest-only shedding would drop first
    line = bench.compose_line(74.0, timings, 0.1, duck, budget=1800)
    assert len(line) <= 1800
    parsed = json.loads(line)
    kept = parsed["queries"]
    assert parsed["queries_shed"] > 0
    assert len(kept) + parsed["queries_shed"] == len(timings)
    missing = [n for n in bench.COMMON23 if n not in kept]
    assert not missing, f"c23 members shed from the line: {missing}"
    others = sorted(
        (n for n in timings if n not in bench.COMMON23), key=lambda n: -timings[n]
    )
    n_others = len(kept) - len(bench.COMMON23)
    assert set(kept) - set(bench.COMMON23) == set(others[:n_others])
    # The next-slowest query would not have fit.
    wider = dict(kept, **{others[n_others]: round(timings[others[n_others]], 2)})
    assert len(json.dumps(dict(parsed, queries=wider), separators=(",", ":"))) > 1800


def test_bench_line_gate_in_both_forms():
    """The c23 gate is exact in the full form and survives the fallback."""
    bench, timings, duck = _line_inputs(5)
    want = round(
        sum(timings[n] for n in bench.COMMON23)
        / sum(duck[n] for n in bench.COMMON23),
        2,
    )
    full = json.loads(bench.compose_line(10.0, timings, 0.01, duck))
    assert full["queries_shed"] == 0 and full["c23_ratio"] == want
    short = json.loads(bench.compose_line(10.0, timings, 0.01, duck, budget=250))
    assert short["queries_shed"] > 0 and short["c23_ratio"] == want
    assert short["duck_c23_n"] == len(bench.COMMON23)


def test_shared_oracle_subplans_are_one_text():
    """An oracle sub-plan that several registered queries share is written
    once and composed by each, so checking it once (fuzz grammar 21 for
    the crawl funnel) checks every query that runs it."""
    from mric_bak_etl_spark.llm.dedup import (
        _COMPONENT_CLUSTERS_ORACLE,
        render_crawl_funnel_ctes,
    )
    from mric_bak_etl_spark.llm.similarity import _PQ_CODES_ORACLE
    from mric_bak_etl_spark.operators.aggregates import (
        _HLL_DAY_REGISTERS_ORACLE,
    )

    specs = all_specs()
    shared = {
        render_crawl_funnel_ctes(""): (
            "l42_incremental_crawl",
            "l42b_incremental_crawl_persisted",
        ),
        _HLL_DAY_REGISTERS_ORACLE: (
            "t13_streaming_sketch_registers",
            "t13b_streaming_register_maintenance",
            "a23b_portable_sketch_merge_rollup",
        ),
        _PQ_CODES_ORACLE: ("l3e_pq_topk", "l3f_ann_persisted"),
        _COMPONENT_CLUSTERS_ORACLE: (
            "l2e_dup_clusters",
            "l32_substring_dup_clusters",
            "g3_user_components",
        ),
    }
    for fragment, names in shared.items():
        for name in names:
            assert fragment in specs[name].oracle, name


def test_every_module_imports_first_in_a_fresh_interpreter():
    """Each package module imports cleanly as the first import of a new
    interpreter. In one shared process the first importer decides the
    order, so an import cycle (a registering module importing the catalog
    while the catalog loads every registering module) stays hidden."""
    import subprocess
    from concurrent.futures import ThreadPoolExecutor
    from pathlib import Path

    pkg = Path(_ROOT) / "mric_bak_etl_spark"
    modules = sorted(
        ".".join(p.relative_to(_ROOT).with_suffix("").parts).removesuffix(".__init__")
        for p in pkg.rglob("*.py")
    )

    def import_alone(module: str) -> tuple[str, str]:
        proc = subprocess.run(
            [sys.executable, "-c", f"import {module}"],
            cwd=_ROOT, capture_output=True, text=True,
        )
        tail = proc.stderr.strip().splitlines()[-1:]
        return module, f"exit {proc.returncode}: {tail}" if proc.returncode else ""

    with ThreadPoolExecutor(max_workers=4) as pool:
        failed = {m: err for m, err in pool.map(import_alone, modules) if err}
    assert not failed, failed
