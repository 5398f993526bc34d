#!/usr/bin/env python
"""Dump .explain('formatted') for named catalog queries to plans/<round>/.

Usage: python scripts/dump_plans.py <suffix> <name> [<name> ...]
Writes plans/$SPARK_GRAFT_PLAN_DIR/<name>_<suffix>.txt (the directory leaf
defaults to ``current``). Measurement aid for the optimization
rounds (guide §1: capture the plan before and after). Pass ``all`` as the
only name to dump every headline query.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mric_bak_etl_spark.catalog import all_specs, headline_names  # noqa: E402
from mric_bak_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    if names == ["all"]:
        names = headline_names()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("SPARK_GRAFT_PLAN_DIR", "current"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("mric-bak-etl-spark-plans")
    specs = all_specs()
    for name in names:
        df = specs[name].builder(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
