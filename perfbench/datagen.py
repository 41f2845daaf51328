"""Seeded synthetic inputs: the ten tables the queries read, and the
event-stream files.

The tables follow the schemas and value ranges of the engine's test
fixtures (FIXTURES.md): a TPC-H-like star schema, an ``events`` table,
and the LLM-curation ``documents``/``embeddings`` pair, including the
~5 % near-duplicate documents the dedup operators look for. Row counts
scale with ``sf`` the way the fixtures do (lineitem = 6M x sf).
The same (seed, sf) always writes the same files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "green", "small", "large", "shiny", "dull", "old"]
PART_NOUN = ["ring", "widget", "bolt", "nut", "gear", "spring", "valve", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
EMBED_DIM = 64

_EPOCH_2024 = dt.datetime(2024, 1, 1)


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    start = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    span = (hi - lo).days
    return _ts(lo, rng.integers(0, span + 1, n) * 86_400_000_000)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    # near-duplicates: a copy of another document with one word appended
    for i in rng.choice(n, max(1, n // 20), replace=False):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    x = rng.normal(0.0, 1.0, (n, EMBED_DIM)) + 0.6 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten input tables as ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_line = max(2_000, int(6_000_000 * sf))
    n_evt = max(500, int(1_000_000 * sf))
    n_user = max(10, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    def i64(a):
        return pa.array(a, pa.int64())

    def i32(a):
        return pa.array(a, pa.int32())

    tables = {
        "region": pa.table({"r_regionkey": i32(np.arange(5)), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": i32(np.arange(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(n_cust)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(n_supp)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(np.arange(n_part)),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part).tolist(),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(np.arange(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
                "l_partkey": i64(rng.integers(0, n_part, n_line)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
                "l_linenumber": i32(rng.integers(1, 8, n_line)),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
                "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
                "l_shipdate": _days(rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(np.arange(n_evt)),
                "ts": _ts(_EPOCH_2024, np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))),
                "user_id": i64(rng.integers(0, n_user, n_evt)),
                "event_type": rng.choice(EVENT_TYPES, n_evt).tolist(),
                "value": np.round(rng.exponential(50.0, n_evt), 2),
                "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_vec),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def stream_file(
    rng: np.random.Generator, first_id: int, players: int, per_player: int, t_lo_us: int, t_hi_us: int
) -> pa.Table:
    """One event-stream input file: ``per_player`` events for each of
    ``players`` keys, event times in (t_lo_us, t_hi_us] with the newest
    exactly at ``t_hi_us`` (the file's due time)."""
    n = players * per_player
    ts = t_lo_us + rng.integers(1, t_hi_us - t_lo_us + 1, n)
    ts[int(rng.integers(0, n))] = t_hi_us
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(np.repeat(np.arange(players), per_player), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n).tolist(),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.nulls(n, pa.string()),
        }
    )
