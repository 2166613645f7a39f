"""Pin the pair-locality assumption behind the blocked oracles (r15).

scripts/blocked_oracle.py lets verify_at_scale check the quadratic-
output dedup family EXACTLY at 10x+ slices by replaying the oracle on a
deterministic 1/97 key block while the engine runs at full scale. That
is only sound if each query is pair-local: its full-corpus output
restricted to both-members-in-block must equal the output computed on
the block-only corpus. This test asserts exactly that equality at
sf0.01 for every BLOCKED name — if a future change introduces a global
decision (corpus-seeded centroids, rank-based vocabulary, cluster
representative), this is the test that fails.

The pin uses mod 3 instead of the sweep's 97: pair-locality holds for
ANY block, and at sf0.01's corpus size a 1/97 block leaves zero
both-in-block pairs — a vacuous equality. 1/3 keeps every name's block
populated (asserted), so the equality actually witnesses pairs.
"""

from __future__ import annotations

import pytest

# slow tier (r16): sf0.01 dedup-family oracle replays; excluded from the default run (pytest.ini)
pytestmark = pytest.mark.slow

from scripts.blocked_oracle import BLOCKED, blocked_connection, filter_engine_block

PIN_MOD = 3


@pytest.fixture(scope="module")
def blocked_duck(sf_dir):
    con = blocked_connection(sf_dir, mod=PIN_MOD)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(BLOCKED))
def test_engine_block_restriction_equals_blocked_oracle(
    name, spark, sf_dir, blocked_duck
):
    import __spark_entry__ as E

    cols, _ = BLOCKED[name]
    df = filter_engine_block(E.queries()[name](spark, sf_dir), cols, mod=PIN_MOD)
    rel = blocked_duck.sql(E.oracle_sql()[name])
    drows = rel.fetchall()
    srows = [tuple(r) for r in df.collect()]
    scols = [c.lower() for c in df.columns]
    dcols = [c.lower() for c in rel.columns]
    assert sorted(scols) == sorted(dcols)
    oi = sorted(range(len(scols)), key=lambda i: scols[i])
    od = sorted(range(len(dcols)), key=lambda i: dcols[i])
    ss = sorted(tuple(repr(r[i]) for i in oi) for r in srows)
    dd = sorted(tuple(repr(r[i]) for i in od) for r in drows)
    assert ss == dd, f"{name}: {len(ss)} engine-block rows vs {len(dd)} oracle"
    # a 0-row block would vacuously pass: the sf0.01 corpus must put
    # real pairs in the block for the pin to mean anything
    assert len(ss) > 0, f"{name}: empty block at sf0.01"
