"""Seeded TPC-H-like tables for the operator-corpus workload.

Writes the four tables the benchmarked corpus queries read (orders,
lineitem, customer, documents), one parquet file each, with the column
names, types and value domains of the TPC-H-like test data the corpus
is checked on (TESTDATA.md): timestamps without time zone in
microseconds, a ±30-day band that matches about 2% of order/line
pairs, and documents drawn from a 30-word vocabulary with 5%
near-duplicates. Each order has 1-7 lines numbered from 1, as
in TPC-H, so (l_orderkey, l_linenumber) is unique: the nearest-line
queries rank on (distance, line number), and a repeated line number at
the same distance would make their answer ambiguous.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"orders": 15_000, "customer": 1_500, "documents": 1_000}  # about 60,000 lineitems
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _timestamps(rng, n: int, first: dt.date, last: dt.date) -> pa.Array:
    days = rng.integers(0, (last - first).days + 1, n)
    us = (np.datetime64(first, "us") + days.astype("timedelta64[D]")).astype("int64")
    return pa.array(us, pa.timestamp("us"))


def _choice(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": _choice(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n),
        "source": _choice(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def generate(seed: int, out_dir: str) -> None:
    """Write the tables under ``out_dir``."""
    rng = np.random.default_rng(seed)
    n_o, n_c = SIZES["orders"], SIZES["customer"]
    lines = rng.integers(1, 8, n_o)
    n_l = int(lines.sum())
    first_row = np.repeat(np.cumsum(lines) - lines, lines)
    tables = {
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o)),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_o),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_o)),
            "o_orderdate": _timestamps(rng, n_o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _choice(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(np.repeat(np.arange(n_o, dtype="int64"), lines)),
            "l_partkey": pa.array(rng.integers(0, 2_000, n_l)),
            "l_suppkey": pa.array(rng.integers(0, 100, n_l)),
            "l_linenumber": pa.array((np.arange(n_l) - first_row + 1).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_l)),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_l),
            "l_linestatus": _choice(rng, ["F", "O"], n_l),
            "l_shipdate": _timestamps(rng, n_l, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
            "c_mktsegment": _choice(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c
            ),
        }),
        "documents": _documents(rng, SIZES["documents"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
