"""Changed-helper → registered-consumer sweep (rotation guard).

Round 8 shipped a change to the shared ``stream_events`` helper and the
hand-maintained ``_VERIFY_FIRST`` re-confirmation block picked up four of
its six registered consumers — ``s16_streaming_file_sink`` (a transitive
consumer two modules away) was missed, so one query ran a round on changed
code without a fresh driver row. This module makes that sweep mechanical:

1. :func:`changed_symbols` diffs the working tree against the round-base
   commit (the driver's ``round N: ...`` bookkeeping commit) and returns
   every top-level function / class / assignment whose source changed,
   keyed ``(module, name)``.
2. :func:`transitive_refs` walks a registered builder's code objects —
   nested lambdas/closures included — resolving global names through the
   builder's module namespace (and one level of ``module.attr`` access),
   so helpers, oracle-fragment constants, and cross-module utilities all
   show up as ``(module, name)`` references.
3. :func:`consumers_of_changed` intersects the two: every catalog query
   whose builder (or anything it transitively calls or reads) changed
   this round. ``tests/test_plans.py`` asserts each one appears in the
   verify queue, ``catalog.queries()``, so the driver collects a
   post-change row.

Run it by hand while rotating the head::

    python -m mric_bak_etl_spark.introspect            # auto base commit
    python -m mric_bak_etl_spark.introspect HEAD~3     # explicit base

Known limits (conservative in the safe direction): name resolution is
static, so a symbol reached only through getattr-by-string or re-export
chains deeper than one ``module.attr`` hop is missed — keep shared helpers
importable by name (the repo convention already). False positives (a
changed name shadowed locally) only demand an extra re-confirmation row,
never hide one.
"""

from __future__ import annotations

import ast
import subprocess
import sys
import types
from pathlib import Path

_PKG = "mric_bak_etl_spark"
_REPO = Path(__file__).resolve().parent.parent


# --------------------------------------------------------------------------
# 1. What changed since the round base?
# --------------------------------------------------------------------------


def round_base_commit() -> str | None:
    """The driver's last ``round N: ...`` bookkeeping commit, if any."""
    try:
        out = subprocess.run(
            ["git", "log", "--grep", "^round [0-9][0-9]*:", "-n", "1",
             "--format=%H"],
            cwd=_REPO, capture_output=True, text=True, check=True,
        ).stdout.strip()
    except (subprocess.CalledProcessError, FileNotFoundError):
        return None
    return out or None


def _top_level_symbols(source: str) -> dict[str, str]:
    """name -> source segment for every top-level def/class/assignment.

    Decorators are part of the segment: most verification contracts in
    this repo (oracle SQL, docs) live inside ``@register(...)`` calls,
    and ``ast.get_source_segment`` on the bare node EXCLUDES the
    decorator list — an oracle-only edit would otherwise be invisible
    to the sweep (found by round-9 review, reproduced on t10)."""
    try:
        tree = ast.parse(source)
    except SyntaxError:
        return {}
    lines = source.splitlines(keepends=True)
    out: dict[str, str] = {}
    for node in tree.body:
        seg = ast.get_source_segment(source, node) or ""
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            first = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            seg = "".join(lines[first - 1 : node.end_lineno])
            out[node.name] = seg
        elif isinstance(node, ast.Assign):
            for tgt in node.targets:
                for leaf in ast.walk(tgt):
                    if isinstance(leaf, ast.Name):
                        out[leaf.id] = seg
        elif isinstance(node, ast.AnnAssign) and isinstance(
            node.target, ast.Name
        ):
            out[node.target.id] = seg
    return out


def changed_symbols(base: str | None = None) -> set[tuple[str, str]]:
    """``(module, name)`` for every package symbol whose top-level source
    differs between ``base`` (default: the round-base commit) and the
    current WORKING TREE (uncommitted edits count — that is the point)."""
    base = base or round_base_commit()
    if base is None:
        return set()
    try:
        files = subprocess.run(
            ["git", "diff", "--name-only", base, "--", f"{_PKG}/"],
            cwd=_REPO, capture_output=True, text=True, check=True,
        ).stdout.splitlines()
    except (subprocess.CalledProcessError, FileNotFoundError):
        return set()
    changed: set[tuple[str, str]] = set()
    for rel in files:
        if not rel.endswith(".py"):
            continue
        module = rel[:-3].replace("/", ".")
        # Symbols defined in a package __init__ carry the PACKAGE as
        # their __module__ — key them the same way transitive_refs
        # records them, or the intersection is empty by construction.
        if module.endswith(".__init__"):
            module = module[: -len(".__init__")]
        try:
            old_src = subprocess.run(
                ["git", "show", f"{base}:{rel}"],
                cwd=_REPO, capture_output=True, text=True, check=True,
            ).stdout
        except subprocess.CalledProcessError:
            old_src = ""  # file is new at HEAD
        new_path = _REPO / rel
        new_src = new_path.read_text() if new_path.exists() else ""
        old_syms = _top_level_symbols(old_src)
        new_syms = _top_level_symbols(new_src)
        for name in old_syms.keys() | new_syms.keys():
            if old_syms.get(name) != new_syms.get(name):
                changed.add((module, name))
    return changed


# --------------------------------------------------------------------------
# 2. What does each registered builder transitively reference?
# --------------------------------------------------------------------------


def _nested_names(code: types.CodeType) -> set[str]:
    names = set(code.co_names)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _nested_names(const)
    return names


def transitive_refs(fn) -> set[tuple[str, str]]:
    """Every ``(module, name)`` global binding reachable from ``fn``.

    BFS over code objects: each referenced name is resolved against the
    referencing function's own module namespace AND against every package
    module imported there (covers ``windows.stream_events`` style access —
    attribute names share co_names with globals). Referenced package
    callables are enqueued; constants (oracle SQL fragments etc.) are
    recorded but not descended into.
    """
    refs: set[tuple[str, str]] = set()
    seen_codes: set[types.CodeType] = set()
    stack = [fn]
    while stack:
        f = stack.pop()
        while hasattr(f, "__wrapped__"):
            f = f.__wrapped__
        code = getattr(f, "__code__", None)
        mod = sys.modules.get(getattr(f, "__module__", ""), None)
        if code is None or mod is None or code in seen_codes:
            continue
        seen_codes.add(code)
        names = _nested_names(code)
        namespaces = [mod] + [
            v for v in vars(mod).values()
            if isinstance(v, types.ModuleType)
            and v.__name__.startswith(_PKG)
        ]
        # Function-LOCAL imports (`from pkg.mod import helper` inside the
        # builder — the repo's lazy-import convention) never bind in module
        # globals; the dotted module path does appear in co_names though,
        # so resolve the remaining names against those modules too.
        for name in names:
            if name.startswith(_PKG + ".") and name in sys.modules:
                namespaces.append(sys.modules[name])
        for name in names:
            for ns in namespaces:
                obj = getattr(ns, name, None)
                if obj is None:
                    continue
                if callable(obj) and getattr(
                    obj, "__module__", ""
                ).startswith(_PKG):
                    refs.add((obj.__module__, getattr(obj, "__name__", name)))
                    stack.append(obj)
                elif not isinstance(obj, types.ModuleType):
                    # data binding (oracle fragment, lookup table, ...)
                    refs.add((ns.__name__, name))
    return refs


# --------------------------------------------------------------------------
# 3. The sweep.
# --------------------------------------------------------------------------


def consumers_of_changed(
    base: str | None = None,
) -> dict[str, set[tuple[str, str]]]:
    """query name -> the changed symbols it transitively consumes."""
    from mric_bak_etl_spark import catalog

    changed = changed_symbols(base)
    if not changed:
        return {}
    hits: dict[str, set[tuple[str, str]]] = {}
    for name, spec in catalog.all_specs().items():
        builder_key = (spec.builder.__module__, spec.builder.__name__)
        touched = ({builder_key} | transitive_refs(spec.builder)) & changed
        if touched:
            hits[name] = touched
    return hits


def main(argv: list[str]) -> int:
    base = argv[1] if len(argv) > 1 else None
    from mric_bak_etl_spark import catalog

    head = set(catalog.queries())
    hits = consumers_of_changed(base)
    missing = sorted(set(hits) - head)
    print(f"base={base or round_base_commit()}")
    for q in sorted(hits):
        mark = "OK  " if q in head else "MISS"
        syms = ", ".join(f"{m}.{n}" for m, n in sorted(hits[q]))
        print(f"{mark} {q}: {syms}")
    if missing:
        print(f"MISSING FROM the verify queue: {missing}")
        return 1
    print(f"all {len(hits)} changed-code consumers queued in the verify queue")
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main(sys.argv))
