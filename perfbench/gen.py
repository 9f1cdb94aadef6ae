"""Seeded input generator for the benchmark.

Writes the ten engine tables (region .. embeddings) as one parquet file
each, with the schemas, row counts and value domains the engine's
fixtures have (FIXTURES.md): uniform independent columns over the same
ranges, timestamps as naive microseconds, ``events`` ordered by event
time, unit-norm 64-dim float32 embeddings. The same seed and scale
factor always give the same bytes' worth of the same values.

Only numpy and pyarrow are used, so generation costs no Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """``n`` midnight timestamps drawn uniformly from [lo, hi]."""
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, int((b - a).astype(int)) + 1, n)
    return (a + d).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


class _Sizes:
    def __init__(self, sf: float):
        self.supp = max(10, int(10_000 * sf))
        self.cust = max(150, int(150_000 * sf))
        self.part = max(200, int(200_000 * sf))
        self.ord = max(1_500, int(1_500_000 * sf))
        self.line = max(6_000, int(6_000_000 * sf))
        self.ev = max(1_000, int(1_000_000 * sf))
        self.users = max(15, self.cust // 10)
        self.docs = max(500, int(50_000 * sf))
        self.emb = max(500, int(20_000 * sf))


_I32, _I64 = pa.int32(), pa.int64()


def _region(rng, n: _Sizes) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(range(5), _I32), "r_name": _REGIONS,
    })


def _nation(rng, n: _Sizes) -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), _I32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], _I32),
    })


def _customer(rng, n: _Sizes) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n.cust), _I64),
        "c_name": _names("Customer", n.cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n.cust), _I32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n.cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n.cust)],
    })


def _supplier(rng, n: _Sizes) -> pa.Table:
    return pa.table({
        "s_suppkey": pa.array(np.arange(n.supp), _I64),
        "s_name": _names("Supplier", n.supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n.supp), _I32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n.supp),
    })


def _part(rng, n: _Sizes) -> pa.Table:
    pk = np.arange(n.part)
    return pa.table({
        "p_partkey": pa.array(pk, _I64),
        "p_name": np.char.add(
            np.char.add(np.array(_ADJ)[rng.integers(0, 8, n.part)], " "),
            np.array(_NOUN)[rng.integers(0, 8, n.part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n.part).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n.part)],
        "p_size": pa.array(rng.integers(1, 51, n.part), _I32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })


def _orders(rng, n: _Sizes) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n.ord), _I64),
        "o_custkey": pa.array(rng.integers(0, n.cust, n.ord), _I64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n.ord)],
        "o_totalprice": _money(rng, 1000, 500000, n.ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n.ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n.ord)],
    })


def _lineitem(rng, n: _Sizes) -> pa.Table:
    m = n.line
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n.ord, m), _I64),
        "l_partkey": pa.array(rng.integers(0, n.part, m), _I64),
        "l_suppkey": pa.array(rng.integers(0, n.supp, m), _I64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), _I32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, m),
        "l_discount": rng.integers(0, 11, m) / 100,
        "l_tax": rng.integers(0, 9, m) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
    })


def _events(rng, n: _Sizes) -> pa.Table:
    """Thirty days of events from 2024-01-01, in event-time order."""
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n.ev)) + np.datetime64(
        "2024-01-01", "us"
    ).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n.ev), _I64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n.users, n.ev), _I64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n.ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n.ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n.ev)],
    })


def _embeddings(rng, n: _Sizes) -> pa.Table:
    emb = rng.standard_normal((n.emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n.emb), _I64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n.emb), _I32),
    })


def tables(seed: int, sf: float, names=TABLES) -> dict[str, pa.Table]:
    """Build the tables in ``names`` for ``sf`` from ``seed``. Each table
    draws from its own stream, so a table does not depend on which
    others are built with it."""
    sizes = _Sizes(sf)
    return {
        name: _BUILDERS[name](
            np.random.default_rng([seed, TABLES.index(name)]), sizes
        )
        for name in names
    }


def _documents(rng, sizes: _Sizes) -> pa.Table:
    """Word-salad documents over a 31-word vocabulary, 10..100 words
    each. About 1 in 500 repeats an earlier text exactly and about 1 in
    50 repeats one with two words changed, so the dedup keys find
    something."""
    n = sizes.docs
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.002:
            texts.append(texts[rng.integers(0, i)])
            continue
        if i and r < 0.022:
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def write(out_dir: str, seed: int, sf: float, names=TABLES) -> int:
    """Write the tables under ``out_dir``; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables(seed, sf, names).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
