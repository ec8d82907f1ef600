"""Seeded generators for the benchmark's input tables.

The tables follow the layout the engine's catalog reads
(``maple_spark.catalog.TABLES``): a TPC-H-like star schema, an ``events``
stream, a ``documents`` corpus with injected near-duplicates and an
``embeddings`` table of unit vectors.  Every value comes from one
``numpy.random.Generator`` seeded by the caller, so the same seed gives
byte-identical parquet files.  Each table is written as one parquet file
with one row group, the layout the engine's fixtures use.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bumped whenever a generator changes the bytes it writes; part of the
#: oracle cache key.
VERSION = 1

#: Row counts (the engine's sf0.01 fixture shape).
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "event_users": 150,
    "documents": 500,
    "embeddings": 500,
}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "hot", "cold", "small", "large", "old", "new"]
PART_NOUN = ["bolt", "ring", "plate", "rod", "gear", "anvil", "nut", "pipe"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30
    )


def _timestamps(rng, n: int, start: str, days: int, whole_days: bool):
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, days, n).astype("timedelta64[D]")
    else:
        off = rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    return (base + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def unit_vectors(rng, n: int, dim: int) -> np.ndarray:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _embeddings_table(vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    n, dim = vecs.shape
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        # about one doc in twenty re-posts an earlier one with a marker
        # token appended, the near-duplicate shape the dedup ops look for
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def write_tables(out_dir: str, seed: int) -> None:
    """Write all catalog tables for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    n_o, n_l, n_e = ROWS["orders"], ROWS["lineitem"], ROWS["events"]
    i64 = lambda n: np.arange(n, dtype=np.int64)  # noqa: E731

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": i64(n_c),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": rng.choice(SEGMENTS, n_c),
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": i64(n_s),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    }))
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", pa.table({
        "p_partkey": i64(n_p),
        "p_name": rng.choice(names, n_p),
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(PART_TYPES, n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 1),
    }))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": i64(n_o),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _timestamps(rng, n_o, "1995-01-01", 2404, True),
        "o_orderpriority": rng.choice(PRIORITIES, n_o),
    }))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
        "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _timestamps(rng, n_l, "1995-01-02", 2498, True),
    }))
    ts = np.sort(_timestamps(rng, n_e, "2024-01-01", 30, False))
    _write(out_dir, "events", pa.table({
        "event_id": i64(n_e),
        "ts": ts,
        "user_id": rng.integers(0, ROWS["event_users"], n_e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_e),
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_e)],
    }))
    _write(out_dir, "documents", _documents(rng, ROWS["documents"]))
    n_v = ROWS["embeddings"]
    _write(out_dir, "embeddings", _embeddings_table(
        unit_vectors(rng, n_v, 64), rng.integers(0, 10, n_v)
    ))

