"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the registry queries read (``region`` .. ``events``,
``documents``, ``embeddings``) as one parquet file each, with the column
names, types and value distributions of the engine's TPC-H-ish test
fixtures. The tables depend only on ``scale`` (and the fixed
``TABLE_SEED``), never on the benchmark's ``--seed``: the seed picks what
the workloads do with the tables (the near-dup delta slice, the
incremental change batches), so every seed reads the same corpus.

Near-duplicates are planted the way the fixtures plant them: 5% of the
documents are an exact copy of another document with `` dup`` appended
(word-3-shingle Jaccard >= 0.8 even for the shortest documents), and all
other document pairs share almost no shingles. The registry's near-dup
oracles rely on that gap.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "green")
PART_NOUN = ("ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
RETURN_FLAGS = ("A", "N", "R")
LINE_STATUS = ("F", "O")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)
EMBED_DIM = 64
EMBED_LABELS = 10

EVENTS_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
ORDER_DAYS = (dt.date(1995, 1, 1), dt.date(2001, 8, 1))
SHIP_DAYS = (dt.date(1995, 1, 2), dt.date(2001, 11, 4))


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at ``scale`` (1.0 = 6M lineitems). The text and
    vector tables keep a 500-row floor, as the fixtures do."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * scale)),
        "supplier": max(5, round(10_000 * scale)),
        "part": max(20, round(200_000 * scale)),
        "orders": max(100, round(1_500_000 * scale)),
        "lineitem": max(400, round(6_000_000 * scale)),
        "events": max(300, round(1_000_000 * scale)),
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng: np.random.Generator, span: tuple[dt.date, dt.date], n: int) -> pa.Array:
    lo = np.datetime64(span[0], "D")
    width = (np.datetime64(span[1], "D") - lo).astype(int) + 1
    days = lo + rng.integers(0, width, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"))


def events_table(
    rng: np.random.Generator, n: int, start: dt.datetime, days: int,
    n_users: int, first_id: int = 0,
) -> pa.Table:
    """``n`` events with increasing timestamps spread over ``days`` days
    from ``start`` (exponential gaps, microsecond precision)."""
    gaps = rng.exponential(1.0, n)
    offsets = np.cumsum(gaps) / (gaps.sum() + gaps[-1]) * days * 86_400e6
    ts = np.datetime64(start, "us") + offsets.astype("int64").astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype="int64")),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype="int64")),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def orders_table(
    rng: np.random.Generator, keys: np.ndarray, n_customers: int
) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys.astype("int64")),
        "o_custkey": pa.array(rng.integers(0, n_customers, n, dtype="int64")),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": _days(rng, ORDER_DAYS, n),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 100, n)]
    dups = rng.choice(n, n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for d in dups:
        texts[d] = texts[rng.choice(originals)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.asarray([len(t) for t in texts], dtype="int64")),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, EMBED_LABELS, n)
    x = 0.14 * centers[labels] + rng.normal(size=(n, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    })


def generate(out_dir: str, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns the row counts."""
    rng = np.random.default_rng(TABLE_SEED)
    n = row_counts(scale)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
    })
    k = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(rng.integers(0, 25, k).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
        "c_mktsegment": _pick(rng, SEGMENTS, k),
    })
    k = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(rng.integers(0, 25, k).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
    })
    k = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k, dtype="int64")),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, k), rng.integers(0, 8, k))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
        "p_type": _pick(rng, PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1)),
    })
    tables["orders"] = orders_table(rng, np.arange(n["orders"]), n["customer"])
    k = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k, dtype="int64")),
        "l_partkey": pa.array(rng.integers(0, n["part"], k, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, k).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, k)),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
        "l_returnflag": _pick(rng, RETURN_FLAGS, k),
        "l_linestatus": _pick(rng, LINE_STATUS, k),
        "l_shipdate": _days(rng, SHIP_DAYS, k),
    })
    tables["events"] = events_table(
        rng, n["events"], EVENTS_START, EVENT_DAYS, n_users=max(15, n["events"] // 66)
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
