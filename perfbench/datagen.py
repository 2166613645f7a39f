"""Seeded input generator for the benchmark workloads.

Writes the engine's star-schema tables (the column names, types and value
domains of the repository's synthetic test fixture: ``FIXTURES.md``) as
parquet files under a run directory. The benchmark program receives only
these files; the same seed always produces byte-identical tables, and a
different seed produces different keys, values, texts and vectors.

Row counts follow the fixture's scale rules (lineitem = 6,000,000 x sf,
orders = 1,500,000 x sf, ...), so ``sf`` here means the same as the
fixture's ``sf0.01`` / ``sf0.1`` directories.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
EMB_DIM = 64

_DAY_US = 86_400_000_000


def _days_us(start: str, end: str, n: int, rng: np.random.Generator) -> pa.Array:
    """``n`` whole-day timestamps, uniform over [start, end], as
    timezone-naive microseconds (the fixture's ``timestamp[us]``)."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _cents(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _choice(values, n: int, rng: np.random.Generator, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _write(out: Path, name: str, cols: dict[str, pa.Array]) -> None:
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def star_tables(out: Path, sf: float, seed: int, tables=None) -> None:
    """TPC-H-shaped relational tables: region, nation, customer,
    supplier, part, orders, lineitem (``tables`` restricts the set)."""
    rng = np.random.default_rng([seed, 1])
    want = set(tables or ("region", "nation", "customer", "supplier", "part",
                          "orders", "lineitem"))
    n_cust = round(150_000 * sf)
    n_supp = round(10_000 * sf)
    n_part = round(200_000 * sf)
    n_ord = round(1_500_000 * sf)
    n_line = round(6_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    if "region" in want:
        _write(out, "region", {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS),
        })
    if "nation" in want:
        _write(out, "nation", {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        })
    if "customer" in want:
        _write(out, "customer", {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_cents(-999.99, 9999.99, n_cust, rng)),
            "c_mktsegment": _choice(SEGMENTS, n_cust, rng),
        })
    if "supplier" in want:
        _write(out, "supplier", {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_cents(-999.99, 9999.99, n_supp, rng)),
        })
    if "part" in want:
        keys = np.arange(n_part)
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        _write(out, "part", {
            "p_partkey": pa.array(keys, i64),
            "p_name": _choice(names, n_part, rng),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _choice(PART_TYPES, n_part, rng),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0),
        })
    if "orders" in want:
        _write(out, "orders", {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _choice(("F", "O", "P"), n_ord, rng),
            "o_totalprice": pa.array(_cents(1000.0, 500_000.0, n_ord, rng)),
            "o_orderdate": _days_us("1995-01-01", "2001-08-01", n_ord, rng),
            "o_orderpriority": _choice(PRIORITIES, n_ord, rng),
        })
    if "lineitem" in want:
        _write(out, "lineitem", {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(900.0, 105_000.0, n_line, rng)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _choice(("A", "N", "R"), n_line, rng),
            "l_linestatus": _choice(("F", "O"), n_line, rng),
            "l_shipdate": _days_us("1995-01-02", "2001-11-04", n_line, rng),
        })


def document_texts(n: int, rng: np.random.Generator, dup_share: float = 0.05) -> list[str]:
    """Random texts over the fixture's 30-word vocabulary (10-100 words);
    ``dup_share`` of them are an earlier text plus the marker word
    ``dup`` — the fixture's near-duplicate twins."""
    texts = [
        " ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        for _ in range(n)
    ]
    n_dup = round(n * dup_share)
    targets = rng.choice(np.arange(1, n), n_dup, replace=False)
    for t in np.sort(targets):
        texts[t] = texts[rng.integers(0, t)] + " dup"
    return texts


def documents(out: Path, n: int, seed: int, name: str = "documents") -> list[str]:
    rng = np.random.default_rng([seed, 2])
    texts = document_texts(n, rng)
    ids = np.arange(n)
    _write(out, name, {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": _choice(LANGS, n, rng, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return texts


def embeddings(out: Path, n: int, seed: int, name: str = "embeddings") -> np.ndarray:
    """Unit-norm gaussian vectors (float32, ``EMB_DIM`` wide) with a
    random 0-9 label, as in the fixture."""
    rng = np.random.default_rng([seed, 3])
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(out, name, {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return x
