"""Shared pytest fixtures: one SparkSession per test run, DuckDB oracle
connection with the testdata views pre-registered (mirrors the driver's
harness), sf-dir selection via SPARK_GRAFT_TEST_SF_DIR."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trembita_spark.io import TABLES  # noqa: E402
from trembita_spark.session import get_session  # noqa: E402

# Default parity checks to the driver's correctness sf.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_SMALL = "/root/testdata/sf0.001"


def pytest_collection_modifyitems(config, items):
    """Deterministic cross-process test sharding for the gauntlet
    runner (tools/run_gauntlet.py): with GAUNTLET_SHARD="i/n" set, keep
    only the items whose stable nodeid hash lands in shard i. Every
    test runs in exactly one shard (hash partition of the identical
    collection), so the merged junit XML is equivalent to one serial
    run. Unset (the normal case), this hook is a no-op."""
    import hashlib

    spec = os.environ.get("GAUNTLET_SHARD")
    if not spec:
        return
    idx, n = (int(x) for x in spec.split("/"))
    keep, drop = [], []
    for item in items:
        h = int(hashlib.md5(item.nodeid.encode()).hexdigest(), 16)
        (keep if h % n == idx else drop).append(item)
    items[:] = keep
    config.hook.pytest_deselected(items=drop)


@pytest.fixture(scope="session")
def spark():
    yield get_session(app_name="trembita_spark_tests")


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
