"""Seeded generator for the engine's fixture tables.

Writes the ten tables the engine's catalog expects (`session.TABLES`) as
one parquet file each, with the schemas and value domains of the
TPC-H-ish fixtures the inventory queries are written against: the same
column types, key ranges, categorical values and per-scale row counts.
Values are drawn from a NumPy generator with a fixed seed, so a scale
always gives byte-identical tables. `ensure` writes them once per
checkout; every later run reads the same files, and a run's seed chooses
only what it does with them.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86400 * 10**6
DATA_SEED = 20240101


def _days(rng: np.random.Generator, n: int) -> pa.Array:
    us = (rng.integers(0, ORDER_DAYS, n) * 86400 * 10**6).astype("int64")
    base = int(ORDER_EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6
    return pa.array(us + base, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every fixture table for scale factor `sf` from `seed`."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_ev = int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        # Whole hundreds of dollars: price * (1 - discount) * (1 + tax) is
        # then exact in cents, so a rounded revenue or charge sum cannot
        # land on a half cent, where engines summing in different orders
        # may round apart.
        "l_extendedprice": np.round(rng.uniform(9, 1050, n_line)) * 100,
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line),
    })
    ev_base = int(EVENT_EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)) + ev_base
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = pa.table(_documents(rng, n_docs))
    out["embeddings"] = pa.table(_embeddings(rng, n_emb))
    return out


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random word documents; about 5% are an earlier-drawn document with
    one or two trailing 'dup' tokens, so near-duplicate passes find work."""
    texts = [
        " ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))])
        for _ in range(n)
    ]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup" * int(rng.integers(1, 3))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    """Unit vectors loosely clustered around one centroid per label.

    Rows with a component or a component sum within 1e-4 of zero are
    drawn again: rounded to five places such a value is a signed zero,
    which DuckDB keeps as -0.0 and Spark as 0.0, and the oracle check
    would then sort the rows apart."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0, 1, (10, dim))
    x = np.empty((n, dim))
    todo = np.arange(n)
    while todo.size:
        v = rng.normal(0, 1, (todo.size, dim)) + 0.15 * centroids[labels[todo]]
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        x[todo] = v
        v32 = v.astype("float32").astype("float64")
        near_zero = (np.abs(v32) < 1e-4).any(axis=1) | (np.abs(v32.sum(axis=1)) < 1e-4)
        todo = todo[near_zero]
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def ensure(cache_dir: str, sf: float) -> str:
    """Return `cache_dir/sf<sf>`, first writing every table there as
    `<name>.parquet` (one row group each) if it is not there yet. The
    tables are written to a scratch directory and renamed into place, so
    a run that is cut never leaves a partial set behind."""
    out_dir = os.path.join(cache_dir, f"sf{sf:g}")
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp)
    try:
        for name, table in tables(sf, DATA_SEED).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, out_dir)
    except OSError:
        if not os.path.isdir(out_dir):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out_dir
