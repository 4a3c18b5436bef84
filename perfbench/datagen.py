"""Seeded synthetic input tables for the benchmark.

The tables have the schemas of the contract's test data (a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``), so the
contract queries and their DuckDB oracles run on them unchanged. The
same seed always writes the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Seed of the tables every run uses: a run's ``--seed`` chooses its
#: query order and change batches, not its tables, so runs with other
#: seeds differ by those alone.
TABLE_SEED = 0

#: Rows per table. Close to the contract's sf0.01 scale: every op of the
#: benchmark is bound by per-job and driver overhead at this size and at
#: sf0.1 alike, and the smaller tables keep the oracles and the result
#: hashing cheap.
SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 1000,
    "embeddings": 1000,
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = (np.datetime64(start, "D") - np.datetime64("1970-01-01", "D")).astype(int)
    hi = (np.datetime64(end, "D") - np.datetime64("1970-01-01", "D")).astype(int)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _region(rng, n):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return {
        "r_regionkey": pa.array(np.arange(n), pa.int32()),
        "r_name": pa.array(names[:n]),
    }


def _nation(rng, n):
    keys = np.arange(n)
    return {
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in keys]),
        "n_regionkey": pa.array(keys % 5, pa.int32()),
    }


def _customer(rng, n):
    keys = np.arange(n)
    return {
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    }


def _supplier(rng, n):
    keys = np.arange(n)
    return {
        "s_suppkey": pa.array(keys, pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in keys]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    }


def _part(rng, n):
    keys = np.arange(n)
    colors = ["red", "blue", "green", "hot", "old", "large", "tiny", "pale"]
    nouns = ["bolt", "ring", "plate", "nut", "screw", "gear", "pipe", "valve"]
    return {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(
            [f"{colors[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n, 2))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(
            rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n)
        ),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 2)),
    }


def _orders(rng, n):
    return {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, SIZES["customer"], n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": pa.array(
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)
        ),
    }


def _lineitem(rng, n):
    return {
        "l_orderkey": pa.array(rng.integers(0, SIZES["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, SIZES["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SIZES["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    }


def _events(rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span = 30 * 86_400_000_000
    offsets = np.sort(rng.integers(0, span, n))
    ts = (start - _EPOCH).astype("int64") + offsets
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n // 66), n), pa.int64()),
        "event_type": pa.array(
            rng.choice(["click", "error", "purchase", "signup", "view"], n)
        ),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng, n):
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(
            rng.choice(["en", "de", "es", "fr", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
        ),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n, dim=64, classes=10):
    centers = rng.normal(0.0, 1.0, (classes, dim))
    labels = rng.integers(0, classes, n)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype("float32")
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


_MAKERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def generate(out_dir: str, seed: int, tables) -> str:
    """Write ``tables`` as ``<out_dir>/<name>.parquet``; returns ``out_dir``.
    Each table draws from its own stream, so the rows of one table do
    not depend on which other tables are generated."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(_MAKERS):
        if name not in tables:
            continue
        rng = np.random.default_rng([seed, i])
        pq.write_table(
            pa.table(_MAKERS[name](rng, SIZES[name])), f"{out_dir}/{name}.parquet"
        )
    return out_dir
