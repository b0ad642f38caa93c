"""Seeded, TPC-H-shaped input tables for the benchmark.

Everything here is plain NumPy + PyArrow, so inputs exist before the Spark
session does and the same seed always yields byte-identical tables. Row
counts follow TPC-H scale factors: ``sf=0.01`` gives 1,500 customers and
15,000 orders; ``sf=0.1`` gives 15,000 customers, 150,000 orders and about
600,000 lineitems.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
STATUSES = ("F", "O", "P")
#: vocabulary for the ``documents`` table; drawn Zipf-like so a few words
#: dominate the word count, as in natural text
VOCAB = tuple(f"w{i:04d}" for i in range(2000))


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream) pair, so adding a
    table never shifts the values of another."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def customers(seed: int, sf: float) -> pa.Table:
    n = int(150_000 * sf)
    r = rng_for(seed, "customer")
    keys = np.arange(1, n + 1, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": r.integers(0, 25, n).astype(np.int64),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": r.choice(SEGMENTS, n),
    })


def orders(seed: int, sf: float) -> pa.Table:
    n = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    r = rng_for(seed, "orders")
    return pa.table({
        # TPC-H order keys are sparse: 8 of every 32 key values are used
        "o_orderkey": (np.arange(n, dtype=np.int64) // 8) * 32
        + np.arange(n, dtype=np.int64) % 8 + 1,
        "o_custkey": r.integers(1, n_cust + 1, n).astype(np.int64),
        "o_orderstatus": r.choice(STATUSES, n),
        "o_totalprice": np.round(r.uniform(850.0, 550_000.0, n), 2),
        "o_orderpriority": r.choice(PRIORITIES, n),
    })


def lineitems(seed: int, order_keys: np.ndarray) -> pa.Table:
    """1-7 lines per order (mean 4), id ``l_orderkey*8 + l_linenumber``."""
    r = rng_for(seed, "lineitem")
    per = r.integers(1, 8, len(order_keys))
    okey = np.repeat(order_keys, per)
    line = (np.arange(len(okey)) - np.repeat(np.cumsum(per) - per, per)
            + 1).astype(np.int32)
    n = len(okey)
    qty = r.integers(1, 51, n).astype(np.float64)
    shipped = r.random(n) < 0.5
    flag = np.where(shipped, r.choice(("A", "R"), n), "N")
    return pa.table({
        "l_id": okey * 8 + line,
        "l_orderkey": okey,
        "l_linenumber": line,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n), 2),
        "l_returnflag": flag,
        "l_linestatus": np.where(shipped, "F", "O"),
    })


def doc_texts(r: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of 20-80 words each, Zipf-distributed over VOCAB."""
    lengths = r.integers(20, 81, n)
    ranks = np.minimum(r.zipf(1.3, int(lengths.sum())), len(VOCAB)) - 1
    words = np.asarray(VOCAB)[ranks]
    out, pos = [], 0
    for k in lengths:
        out.append(" ".join(words[pos:pos + k]))
        pos += k
    return out


def documents(seed: int, n: int) -> pa.Table:
    r = rng_for(seed, "documents")
    return pa.table({
        "doc_id": np.arange(1, n + 1, dtype=np.int64),
        "text": doc_texts(r, n),
    })


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> dict[str, str]:
    """Write each table to ``{out_dir}/{name}.parquet``; returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
