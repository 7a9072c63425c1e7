"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-shaped tables the engine's claims registry builders
read (``customer``, ``orders``, ``lineitem``, ``part``), one parquet file
each, with the same schemas and value domains as the engine's reference
test data. Row counts scale with ``sf``: at ``sf=0.1`` that is 15k
customers, 150k orders, 600k line items and 20k parts. The same
``(seed, sf)`` always produces the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
SHIP_DAY0 = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04


def _ts(day0: np.datetime64, offsets: np.ndarray) -> pa.Array:
    days = (day0 + offsets.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(days, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (at least one of each)."""
    base = {"customer": 150_000, "orders": 1_500_000, "lineitem": 6_000_000,
            "part": 200_000}
    return {t: max(1, int(round(n * sf))) for t, n in base.items()}


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 20261017])
    n = row_counts(sf)
    nc, no, nl, npart = n["customer"], n["orders"], n["lineitem"], n["part"]
    ns = max(1, nc // 15)
    tables: dict[str, pa.Table] = {}

    ck = np.arange(nc, dtype=np.int64)
    tables["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })

    tables["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(ORDER_DAY0, rng.integers(0, ORDER_DAYS + 1, no)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })

    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(SHIP_DAY0, rng.integers(0, SHIP_DAYS + 1, nl)),
    })

    pk = np.arange(npart, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, 8, npart)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, npart)]
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}

