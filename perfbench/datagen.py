"""Deterministic sf0.1 TPC-H-shaped tables for the serving benchmark.

The tables have the repo's fixture schemas (FIXTURES.md §B: region, nation,
customer, supplier, part, orders, lineitem) and the sf0.1 row counts
(lineitem 600,000 rows). The data is a fixed function of ``DATA_SEED``, not of
the benchmark's ``--seed``: the seed picks the requests, the data stays the
same, so runs with different seeds measure the same tables.

Run ``python3 perfbench/datagen.py DIR`` to write the parquet files.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
        "lineitem": 600_000}
#: Bump when the generated content changes, so a stale cache is rebuilt.
VERSION = "1"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS_A = ["blue", "green", "hot", "large", "red", "small", "steel", "tiny"]
PART_WORDS_B = ["bolt", "gear", "nut", "pipe", "ring", "screw", "spring", "valve"]
#: Order dates span [START, START + DATE_SPAN_DAYS) days.
START = np.datetime64("1995-01-01", "D")
DATE_SPAN_DAYS = 2404


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Values with exactly two decimals, as the fixtures store them."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((START + days).astype("datetime64[us]"), pa.timestamp("us"))


def generate(rng_seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(rng_seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    })
    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": _names("Customer", n),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })
    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": _names("Supplier", n),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = ROWS["part"]
    words = np.array([f"{a} {b}" for a in PART_WORDS_A for b in PART_WORDS_B])
    out["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": pa.array(words[rng.integers(0, len(words), n)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n)]),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0,
    })
    n = ROWS["orders"]
    order_days = rng.integers(0, DATE_SPAN_DAYS, n)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(order_days),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })
    n = ROWS["lineitem"]
    l_order = np.sort(rng.integers(0, ROWS["orders"], n))
    # 1-based line number within each order (l_order is sorted)
    first = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    starts = np.repeat(first, np.diff(np.r_[first, n]))
    quantity = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, ROWS["part"], n),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * _money(rng, 900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(order_days[l_order] + rng.integers(1, 122, n)),
    })
    return out


def ensure(data_dir: str) -> str:
    """Write the tables under ``data_dir`` unless a complete copy of this
    VERSION is already there. Returns ``data_dir``."""
    stamp = os.path.join(data_dir, "VERSION")
    try:
        with open(stamp) as f:
            if f.read().strip() == VERSION:
                return data_dir
    except OSError:
        pass
    os.makedirs(data_dir, exist_ok=True)
    for name, table in generate().items():
        tmp = os.path.join(data_dir, f".{name}.parquet.tmp")
        # 131,072-row groups let a scan split across cores
        pq.write_table(table, tmp, row_group_size=1 << 17)
        os.replace(tmp, os.path.join(data_dir, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(VERSION)
    return data_dir


if __name__ == "__main__":
    print(ensure(sys.argv[1]))
