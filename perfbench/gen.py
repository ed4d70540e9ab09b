"""Seeded input generator for the benchmark.

Writes tables with the schemas and value distributions of the
``sf0.1`` fixtures that the query registry reads (see ``TESTDATA.md``),
drawing fresh values from ``numpy.random.default_rng(seed)`` instead of
copying rows, so ties in top-k and window orderings are as rare as in
the fixtures.  ``scale`` multiplies the sf0.1 row counts.

Also makes the change batches of the versioned-table sequence
(:func:`change_batch`): they are a function of the seed and the batch
number only.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts of the fact and dimension tables
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

#: generation order: every table draws from one generator in this order
TABLE_ORDER = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
               "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "new", "hot", "big", "old", "blue", "cold", "large"]
PART_NOUN = ["bolt", "anvil", "ring", "gear", "nut", "pipe", "valve", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()

US_PER_DAY = 86_400_000_000
#: 1995-01-01 and 2024-01-01 as microseconds since the epoch
DAY0_1995 = 9131 * US_PER_DAY
DAY0_2024 = 19723 * US_PER_DAY


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, lo_day: int, span: int, n: int) -> pa.Array:
    us = DAY0_1995 + (lo_day + rng.integers(0, span, n)) * US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _rows(name: str, scale: float) -> int:
    return max(10, int(BASE_ROWS[name] * scale))


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    words = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # a few exact copies and near-copies (one word changed plus a "dup"
    # marker), the population q60 and q63 look for
    for i in rng.choice(n, max(2, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    for i in rng.choice(n, max(2, n // 100), replace=False):
        w = texts[int(rng.integers(0, n))].split()
        w[int(rng.integers(0, len(w)))] = str(words[int(rng.integers(0, len(VOCAB)))])
        texts[i] = " ".join(w + ["dup"])
    return texts


def make_tables(rng: np.random.Generator, names: list[str], scale: float) -> dict[str, pa.Table]:
    """Build the named tables in memory.  Foreign keys are drawn from the
    key ranges the referenced tables have at this ``scale``."""
    n_cust, n_supp, n_part = _rows("customer", scale), _rows("supplier", scale), _rows("part", scale)
    n_ord = _rows("orders", scale)
    out: dict[str, pa.Table] = {}
    for name in names:
        if name == "region":
            out[name] = pa.table({
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            })
        elif name == "nation":
            out[name] = pa.table({
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
            })
        elif name == "customer":
            out[name] = pa.table({
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            })
        elif name == "supplier":
            out[name] = pa.table({
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            })
        elif name == "part":
            adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
            noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
            out[name] = pa.table({
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": np.char.add(np.char.add(adj, " "), noun),
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": rng.integers(9000, 10000, n_part) / 10.0,
            })
        elif name == "orders":
            out[name] = pa.table({
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, 0, 2404, n_ord),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            })
        elif name == "lineitem":
            n = _rows("lineitem", scale)
            out[name] = pa.table({
                "l_orderkey": rng.integers(0, n_ord, n),
                "l_partkey": rng.integers(0, n_part, n),
                "l_suppkey": rng.integers(0, n_supp, n),
                "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
                "l_shipdate": _days(rng, 1, 2498, n),
            })
        elif name == "events":
            n = _rows("events", scale)
            ts = np.sort(DAY0_2024 + rng.integers(0, 30 * US_PER_DAY, n))
            out[name] = pa.table({
                "event_id": np.arange(n, dtype=np.int64),
                # naive TIMESTAMP(MICROS): the encoding of events.ts in the
                # sf0.1 fixture file, so the events adapter takes its branch
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": rng.integers(0, max(15, int(1500 * scale)), n),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            })
        elif name == "documents":
            n = _rows("documents", scale)
            texts = _docs(rng, n)
            out[name] = pa.table({
                "doc_id": np.arange(n, dtype=np.int64),
                "text": texts,
                "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
                "source": [f"src{i % 20}" for i in range(n)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            })
        elif name == "embeddings":
            n = _rows("embeddings", scale)
            v = rng.standard_normal((n, 64)).astype(np.float32)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            out[name] = pa.table({
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": pa.array(list(v), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n), pa.int32()),
            })
        else:
            raise ValueError(f"unknown table {name!r}")
    return out


def write_tables(data_dir: str, seed: int, names: list[str], scale: float) -> dict[str, int]:
    """Write ``<data_dir>/<name>.parquet`` for each name; returns row counts."""
    os.makedirs(data_dir, exist_ok=True)
    tables = make_tables(np.random.default_rng(seed), names, scale)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(data_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --- versioned-table change batches ---------------------------------------

#: schema of the versioned table the commit sequence writes
TABLE_SCHEMA = pa.schema([
    ("key", pa.int64()),
    ("grp", pa.string()),
    ("qty", pa.int64()),
    ("price", pa.float64()),
    ("note", pa.string()),
    ("ts", pa.timestamp("us")),
])


def change_batch(seed: int, batch_no: int, keys: np.ndarray) -> pa.Table:
    """Rows for the given (sorted, distinct) keys with fresh column values."""
    rng = np.random.default_rng([seed, batch_no])
    rows = len(keys)
    return pa.table({
        "key": keys,
        "grp": np.array([f"g{i}" for i in range(16)])[rng.integers(0, 16, rows)],
        "qty": rng.integers(1, 100, rows),
        "price": _money(rng, 1.0, 9999.0, rows),
        "note": [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), 6)]) for _ in range(rows)],
        "ts": pa.array(DAY0_2024 + rng.integers(0, 30 * US_PER_DAY, rows), pa.timestamp("us")),
    }, schema=TABLE_SCHEMA)
