"""Seeded input generation for the benchmark.

Every table is a TPC-H-ish synthetic relation with the same schema as
the engine's test data (``FIXTURES.md`` group B), generated from
``--seed`` with numpy so the benchmark needs nothing outside its
checkout. The same seed gives byte-identical tables; another seed
gives different rows with the same row counts and schema.

Sizes follow scale factor 0.1: ``lineitem`` 600k rows, ``orders``
150k, ``documents`` 5k, ``events`` 100k.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": int(150_000 * SF),
    "supplier": int(10_000 * SF),
    "part": int(200_000 * SF),
    "orders": int(1_500_000 * SF),
    "lineitem": int(6_000_000 * SF),
    "events": int(1_000_000 * SF),
    "documents": int(50_000 * SF),
    "embeddings": int(20_000 * SF),
}

_WORDS = (
    "a the data table row column key value spark stream batch query "
    "scan filter join group agg sort merge hash window vector part line "
    "order customer fast slow big small"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EPOCH = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400 * 1_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per table: adding a table never shifts
    # the rows of another
    return np.random.default_rng([seed, sum(map(ord, table))])


def _choice(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span) -> pa.Array:
    d = rng.integers(0, span, n).astype("int64") * _DAY_US
    return pa.array(_EPOCH + d.astype("timedelta64[us]"), pa.timestamp("us"))


def region(seed: int) -> pa.Table:
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(names),
    })


def nation(seed: int) -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def customer(seed: int) -> pa.Table:
    n, rng = ROWS["customer"], _rng(seed, "customer")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _choice(rng, segs, n),
    })


def supplier(seed: int) -> pa.Table:
    n, rng = ROWS["supplier"], _rng(seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })


def part(seed: int) -> pa.Table:
    n, rng = ROWS["part"], _rng(seed, "part")
    adj = np.array(["large", "hot", "blue", "old", "cold", "small"], object)
    noun = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe"], object)
    names = adj[rng.integers(0, 6, n)] + " " + noun[rng.integers(0, 6, n)]
    types = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
    return pa.table({
        "p_partkey": pa.array(np.arange(n, dtype="int64")),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()
        ),
        "p_type": _choice(rng, types, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + np.arange(n) % 1000 * 0.1, 2)),
    })


def orders(seed: int) -> pa.Table:
    n, rng = ROWS["orders"], _rng(seed, "orders")
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n)),
        "o_orderstatus": _choice(rng, ["O", "F", "P"], n),
        "o_totalprice": pa.array(_money(rng, 850.0, 450_000.0, n)),
        "o_orderdate": _days(rng, n, 2500),
        "o_orderpriority": _choice(rng, prio, n),
    })


def lineitem(seed: int) -> pa.Table:
    n, rng = ROWS["lineitem"], _rng(seed, "lineitem")
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n)),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, 900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["O", "F"], n),
        "l_shipdate": _days(rng, n, 2500),
    })


def events(seed: int) -> pa.Table:
    n, rng = ROWS["events"], _rng(seed, "events")
    step = rng.integers(1, 2 * 30 * _DAY_US // n, n).astype("int64")
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(step).astype(
        "timedelta64[us]"
    )
    types = ["signup", "purchase", "view", "click", "error"]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n)),
        "event_type": _choice(rng, types, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
        ),
    })


def documents(seed: int) -> pa.Table:
    """Random word soup over a small vocabulary; one doc in ten is a
    near-duplicate (a few words swapped) of an earlier doc, so the
    dedup family finds real clusters."""
    n, rng = ROWS["documents"], _rng(seed, "documents")
    words = np.array(_WORDS, object)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = words[rng.integers(0, len(words))]
        else:
            toks = list(words[rng.integers(0, len(words), rng.integers(10, 90))])
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], "int64")),
    })


def embeddings(seed: int) -> pa.Table:
    n, rng = ROWS["embeddings"], _rng(seed, "embeddings")
    label = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(0, 1, (10, 64)).astype("float32")
    vecs = centers[label] + rng.normal(0, 0.5, (n, 64)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label),
    })


GENERATORS = {
    f.__name__: f
    for f in (region, nation, customer, supplier, part, orders, lineitem,
              events, documents, embeddings)
}


def write_tables(seed: int, out_dir: str, names) -> dict[str, pa.Table]:
    """Generate ``names`` into ``out_dir/<name>.parquet`` (zstd, one
    file each) and return the in-memory tables."""
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for name in names:
        tbl = GENERATORS[name](seed)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       compression="zstd")
        out[name] = tbl
    return out


def zstd_bytes(tbl: pa.Table, scratch: str) -> int:
    """Size of ``tbl`` written once as plain zstd parquet: the user
    bytes the amplification ratios divide by."""
    path = os.path.join(scratch, "_user_bytes.parquet")
    pq.write_table(tbl, path, compression="zstd")
    size = os.path.getsize(path)
    os.remove(path)
    return size


def fixed_now() -> dt.datetime:
    """The benchmark's wall clock for commit stamps, retention
    cut-offs and orphan mtimes: fixed, so every unit sees the same
    ages whatever day it runs."""
    return dt.datetime(2026, 6, 1, 12, 0, 0)
