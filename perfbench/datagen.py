"""Seeded input tables for the benchmark.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the column names, types and value domains of the test-data
fixture. Every value comes from ``numpy.random.default_rng(seed)``, so one
seed always gives byte-identical tables and another seed gives other rows of
the same shape. Row counts scale with ``sf`` the way the fixture's do
(lineitem = 6M x sf).

The query oracles run on the same files, so a result check does not depend
on the fixture's exact rows, only on their shape.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "plate", "rod", "bolt", "gear", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window join filter column data order group query small big "
    "stream vector customer"
).split()
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400_000_000


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> np.ndarray:
    """Whole-day timestamps (microseconds) uniform in [lo, hi]."""
    span = (hi - lo).days
    return _us(lo) + rng.integers(0, span + 1, n) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1500, round(1_500_000 * sf)),
        "lineitem": max(6000, round(6_000_000 * sf)),
        "events": max(1000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        # one document in twenty is a near-duplicate of an earlier one
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(VOCAB, int(rng.integers(8, 90)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    # one vector in twenty is a near-copy of an earlier one
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        if i > 0:
            vecs[i] = vecs[rng.integers(0, i)] + rng.normal(0.0, 0.01, EMBED_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, nc)), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, ns)), pa.float64()),
        }
    )
    npart = n["part"]
    names = [
        f"{a} {b}"
        for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))
    ]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(names, pa.string()),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, npart), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(
                _money(900.0 + (np.arange(npart) % 1000) * 0.1), pa.float64()
            ),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), pa.string()),
            "o_totalprice": pa.array(_money(rng.uniform(1000.0, 500000.0, no)), pa.float64()),
            "o_orderdate": _ts(_days(rng, no, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1))),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(
                _money(qty * rng.uniform(900.0, 2100.0, nl)), pa.float64()
            ),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
            "l_shipdate": _ts(_days(rng, nl, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))),
        }
    )
    ne = n["events"]
    # distinct, unordered timestamps over 30 days
    month_us = 30 * _DAY_US
    ts = _us(dt.datetime(2024, 1, 1)) + np.sort(
        rng.choice(month_us, ne, replace=False)
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, max(150, ne // 66), ne), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne), pa.string()),
            "value": pa.array(_money(rng.uniform(0.01, 490.0, ne)), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()
            ),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def permute(table: pa.Table, rng) -> pa.Table:
    """The same rows in a seeded order."""
    return table.take(rng.permutation(table.num_rows))


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; return the bytes written per table.

    Rows are written in a seeded permutation, so a query whose result
    depends on the physical row order reads differently under each seed.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 1_000_003)
    sizes: dict[str, int] = {}
    for name, table in make_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(permute(table, rng), path)
        sizes[name] = os.path.getsize(path)
    return sizes
