"""Differential testing vs DuckDB — local mirror of the driver's gate.

For every catalog query with an oracle: run the Spark builder and the DuckDB
SQL on the same parquet tables, then compare row count, column-name set, and
values (rows compared order-insensitively, floats with a tight tolerance —
the driver's value-hash is the strict version of this).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from mric_bak_etl_spark.catalog import all_specs

SPECS = all_specs()
ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is not None)
ROWS_ONLY_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is None)


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
            # date objects, Decimals, strings → canonical string form
            df[col] = s.map(lambda v: None if v is None else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(duck_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    a = _normalize(spark_pdf)
    b = _normalize(duck_pdf)
    for col in a.columns:
        if pd.api.types.is_float_dtype(a[col]):
            sa, sb = a[col].to_numpy(), b[col].to_numpy()
            for i, (x, y) in enumerate(zip(sa, sb)):
                both_nan = (x != x) and (y != y)
                if not both_nan and not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    raise AssertionError(f"{name}.{col}[{i}]: {x!r} != {y!r}")
        else:
            pd.testing.assert_series_equal(
                a[col], b[col], check_dtype=False, obj=f"{name}.{col}"
            )


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, duck, sf_dir, name):
    spec = SPECS[name]
    spark_pdf = spec.builder(spark, sf_dir).toPandas()
    duck_pdf = duck.execute(spec.oracle).df()
    assert_frames_match(spark_pdf, duck_pdf, name)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_queries_run(spark, sf_dir, name):
    spec = SPECS[name]
    df = spec.builder(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
