"""Shared fixtures: one SparkSession per test run, one DuckDB connection.

SPARK_GRAFT_TEST_SF selects the scale dir for parity tests
(default sf0.001 for speed; CI/driver verifies at sf0.01).
"""

from __future__ import annotations

import os
import shutil
import uuid

import duckdb
import pytest

from mric_bak_etl_spark.session import get_spark
from mric_bak_etl_spark.tables import TABLE_NAMES

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# Right-size the TEST session to the fixture scale (suite-wall fix, r10
# verdict task 2): at sf0.001 every stage's work fits in a handful of
# tasks, so local[32] x 32 shuffle partitions is pure task-scheduling
# overhead — and maximum exposure to co-tenant scheduling jitter (the
# dominant suite-wall noise on this box). Measured on test_oracle_parity
# (299 queries, same box, minutes apart): 10:56 at 32/32 vs 7:34 at 8/8,
# a 1.45x suite-wide lever with zero test-mass loss. The shuffle and
# spread partition count follows SPARK_GRAFT_CPUS (session.py
# default_parallelism), and an explicit value still wins (setdefault), so
# the 32-core posture remains one command away; bench.py and the driver
# build their own sessions and are untouched — this is fixture-scale
# right-sizing, not an engine change.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session", autouse=True)
def artifact_cache():
    """A fresh, empty XDG_CACHE_HOME for the session, removed at its end,
    so every persisted-artifact test builds and publishes the artifact it
    claims to test instead of reading a warm ~/.cache. It sits beside the
    user's cache root, not under the tempdir: the l26c test asserts that
    artifact roots stay out of the world-shared tempdir."""
    root = os.environ.get(
        "XDG_CACHE_HOME", os.path.join(os.path.expanduser("~"), ".cache")
    )
    path = os.path.join(root, f"mric_test_cache_{uuid.uuid4().hex[:12]}")
    os.makedirs(path)
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("XDG_CACHE_HOME", path)
        yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("mric-bak-etl-spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle setup (raw parquet, no casts)."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    yield con
    con.close()
