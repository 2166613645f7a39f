"""The local mirror of the driver's correctness gate: every registered
query with an oracle runs on Spark AND DuckDB at sf0.001 and must match
exactly (count + schema + order-insensitive values). Queries without an
oracle are smoke-run (plan executes, returns rows)."""

from __future__ import annotations

import pytest

# slow tier (r16): full-registry oracle sweep (~23 min) — the driver's own CORRECTNESS gate runs the same comparison; builder target; excluded from the default run (pytest.ini)
pytestmark = pytest.mark.slow

from distributed_query_engine_spark.registry import all_oracles, all_queries
from tests.oracle_diff import assert_driver_sortable, assert_same_result

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    if name in ORACLES:
        assert_same_result(df, duck.sql(ORACLES[name]))
    else:
        # smoke: plan executes end-to-end AND the output would survive the
        # driver's pandas canonicalizer (rows-only checks still canon).
        rows = [tuple(r) for r in df.limit(200).collect()]
        assert_driver_sortable(rows, df.columns)


def test_every_oracle_has_query():
    assert set(ORACLES) <= set(QUERIES)
