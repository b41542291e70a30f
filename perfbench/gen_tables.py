"""Seeded fixture tables for the query workloads.

Writes the ten tables the registered queries read (a TPC-H-like star
schema, an ``events`` stream table, a ``documents`` corpus and an
``embeddings`` table), one parquet file each. Column names, arrow types
(timestamps are microseconds on disk), value domains and row counts
follow the reference fixtures the engine's correctness gate runs on:
lineitem = 6,000,000 x sf; at sf 0.01 there are 500 documents and 500
embeddings. The documents are 10-99 words drawn from the same
30-word vocabulary, and about 5% of them repeat an earlier document
with " dup" appended (a repeat may itself be repeated), as in the
reference corpus. The same seed writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from file_scraper_spark.tables import table_path

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "green")
PART_NOUN = ("ring", "bolt", "widget", "gear", "gizmo", "plate", "nut", "pipe")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.44, 0.14, 0.14, 0.14)
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
EMBED_DIM = 64
DUP_SHARE = 0.05

_DAY_US = 86_400 * 1_000_000
_EPOCH = np.datetime64("1970-01-01", "us")


def _days(first: str, last: str, n: int, rng) -> np.ndarray:
    lo = (np.datetime64(first, "D") - np.datetime64("1970-01-01", "D")).astype(int)
    hi = (np.datetime64(last, "D") - np.datetime64("1970-01-01", "D")).astype(int)
    return _EPOCH + (rng.integers(lo, hi + 1, n) * _DAY_US).astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _write(out_dir: str, name: str, cols: dict[str, pa.Array | np.ndarray]) -> None:
    table = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v)
                      for k, v in cols.items()})
    pq.write_table(table, table_path(out_dir, name))


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[rng.integers(0, i)] + " dup")  # near-duplicate
        else:
            n_words = rng.integers(10, 100)
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n_words)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> dict:
    vec = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), EMBED_DIM)
        .cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def write_fixture(out_dir: str, seed: int, sf: float) -> None:
    """Write all ten tables for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), int(15_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.floor(rng.exponential(50.0, n_events) * 100) / 100.0 + 0.01,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
                          pa.string()),
    })
    _write(out_dir, "documents", _documents(rng, int(50_000 * sf)))
    _write(out_dir, "embeddings", _embeddings(rng, max(500, int(20_000 * sf))))
