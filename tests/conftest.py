"""Shared fixtures: one SparkSession per test session, a DuckDB
connection with the star-schema views registered (mirroring the driver's
oracle harness), and sf-dir paths."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from distributed_query_engine_spark.catalog import STAR_TABLES  # noqa: E402
from distributed_query_engine_spark.session import get_spark  # noqa: E402

import os  # noqa: E402

# Unit/oracle tests default to sf0.001 for speed; the driver's gate runs
# at sf0.01 — override with DQE_TEST_SF=/root/testdata/sf0.01.
SF_UNIT = os.environ.get("DQE_TEST_SF", "/root/testdata/sf0.001")
SF_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dqe-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_UNIT


def make_duck(sf: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = make_duck(sf_dir)
    yield con
    con.close()


def partition_filter_values(df, column: str) -> list[set[int]]:
    """The literal value set of every ``column IN (...)`` partition
    filter on the file scans of ``df``'s physical plan, read from the
    plan nodes (the explain string abbreviates long value lists)."""
    import re

    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    found = []
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if node.getClass().getSimpleName() != "FileSourceScanExec":
            continue
        filters = node.partitionFilters()
        for j in range(filters.size()):
            m = re.fullmatch(
                rf"{column}#\d+L? INSET (.*)|{column}#\d+L? IN \((.*)\)",
                filters.apply(j).toString(),
            )
            if m:
                vals = m.group(1) if m.group(1) is not None else m.group(2)
                found.append({int(v) for v in re.findall(r"-?\d+", vals)})
    return found
