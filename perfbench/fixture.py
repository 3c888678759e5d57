"""Seeded generator of the engine's fixture tables (FIXTURES.md, family A).

The benchmark never reads fixtures from outside its checkout: every run
writes its own parquet files from ``--seed``. Its row counts, key ranges,
category sets and value distributions were set from measurements of the
seed-42 sf0.01 and sf0.1 tables of TESTDATA.md (the tables the engine's
correctness gate and ``bench.py`` read); PROTOCOL.md ("Fixture") lists
those figures beside this generator's. Word order in documents, embedding
values and which rows carry which category are drawn afresh: only the
distributions match, not the rows.

``sf`` sizes every table the way the sf0.001/sf0.01/sf0.1 fixtures are
sized (sf0.1: 600k lineitem rows, 5000 documents, 2000 embeddings), and
every foreign key resolves against its dimension.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    """String column from category indices, without a Python-object pass."""
    return pa.array(values, pa.string()).take(pa.array(idx))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: dt.datetime, last: dt.datetime, n: int) -> pa.Array:
    span = (last - first).days + 1
    us = _micros(first) + rng.integers(0, span, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _documents(rng, n: int) -> dict:
    lens = rng.integers(10, 100, n)  # 10-99 words, mean 54.5
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    # exactly 5% near-duplicates: an earlier document (itself possibly a
    # near-duplicate) with " dup" appended
    for i in np.sort(rng.choice(np.arange(1, n), round(0.05 * n), replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(LANGS, rng.choice(len(LANGS), n, p=LANG_P)),
        "source": _pick([f"src{i}" for i in range(20)], np.arange(n) % 20),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict:
    m = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    flat = pa.array(m.ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All fixture tables as Arrow tables. Same arguments, same tables."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust)),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(names, rng.integers(0, len(names), n_part)),
        "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, n_part)),
        "p_type": _pick(PART_TYPES, rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
    }
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord)),
    }
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n_line)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n_line)),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_line),
    }
    month_us = 30 * 86_400_000_000
    ts = np.sort(_micros(dt.datetime(2024, 1, 1)) + rng.integers(0, month_us, n_ev))
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": _pick([f'{{"k": {k}}}' for k in range(100)], rng.integers(0, 100, n_ev)),
    }
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return {name: pa.table(cols) for name, cols in t.items()}


def write_fixture(out_dir: str, seed: int, sf: float) -> str:
    """Write one parquet file per table into ``out_dir``; return a sha256
    over the files' bytes, in table order (the fixture's fingerprint)."""
    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256()
    for name, table in build_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        with open(path, "rb") as f:
            digest.update(f.read())
    return digest.hexdigest()
