"""Seeded analytic fixture tables for the core query suite.

Writes the ten tables the core queries read (``region nation customer
supplier part orders lineitem events documents embeddings``), one Parquet
file each, with the column names, physical types and value distributions of
the fixture generation the repository's queries were written against: a
TPC-H-shaped star schema, a 30-day ``events`` stream with JSON ``props``,
word-salad ``documents`` with about 5 % chained near-duplicates, and random
unit ``embeddings``. Row counts scale with ``sf`` the same way.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = "small red blue hot old large cold shiny".split()
_NOUN = "ring widget bolt gear plate rod nut spring".split()
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a the row scan key agg slow fast table value part hash merge batch spark "
    "order data column join small line customer query window filter big vector "
    "group sort stream"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _strings(fmt: str, n: int) -> pa.Array:
    return pa.array([fmt % i for i in range(n)], pa.string())


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words.tolist()))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def build(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale ``sf``, deterministic per seed."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_o, n_e = int(1_500_000 * sf), int(1_000_000 * sf)
    n_l = 4 * n_o
    n_d, n_v = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    i32 = np.int32
    out = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": _REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=i32)),
                "n_name": _strings("NATION_%d", 25),
                "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
                "c_name": _strings("Customer#%09d", n_c),
                "c_nationkey": pa.array(rng.integers(0, 25, n_c, dtype=i32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
                "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_c).tolist(), pa.string()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
                "s_name": _strings("Supplier#%09d", n_s),
                "s_nationkey": pa.array(rng.integers(0, 25, n_s, dtype=i32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_s)),
            }
        ),
    }
    keys = np.arange(n_p, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_p), rng.choice(_NOUN, n_p))], pa.string()
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)], pa.string()),
            "p_type": pa.array(rng.choice(_TYPES, n_p).tolist(), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_p, dtype=i32)),
            "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 2)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_o).tolist(), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_o)),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_o)),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_o).tolist(), pa.string()),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l, dtype=i32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_l)),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_l).tolist(), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_l).tolist(), pa.string()),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_l)),
        }
    )
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_e)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_e, dtype=np.int64)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_e).tolist(), pa.string()),
            "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_e), 2))),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)], pa.string()),
        }
    )
    out["documents"] = _documents(rng, n_d)
    vec = rng.standard_normal((n_v, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_v, dtype=np.int64)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_v, dtype=i32)),
        }
    )
    return out


def write(seed: int, sf: float, out_dir: str) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in build(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
