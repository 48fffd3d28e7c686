"""Seeded generator for the benchmark tables.

Writes the ten tables the query registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``)
as one parquet file each, with the schemas and value domains of the
project's synthetic TPC-H-style test data. The same ``(seed, scale)``
always gives byte-identical tables; different seeds give tables of the
same size and shape with different values, so a workload's cost stays
put across seeds while its outputs change.

``scale`` multiplies the row counts of the sf0.01 layout (1,500
customers, 15,000 orders, 60,000 line items, ...).
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts at scale 1.0 (the sf0.01 layout)
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _epoch_us(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def _days(rng: np.random.Generator, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    span = (hi - lo).days
    us = _epoch_us(lo) + rng.integers(0, span + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: max(1, round(c * scale)) for t, c in BASE_ROWS.items()}
    i32, i64 = pa.int32(), pa.int64()
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )

    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )

    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )

    np_ = n["part"]
    keys = np.arange(np_)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": _pick(rng, names, np_),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
            "p_type": _pick(rng, PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )

    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _days(rng, no, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )

    nl = n["lineitem"]
    quantity = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, nl, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
        }
    )

    ne = n["events"]
    start = _epoch_us(dt.datetime(2024, 1, 1))
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, ne))
    users = max(1, round(EVENT_USERS * scale))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, ne), i64),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": _money(rng, ne, 0.01, 490.02),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )

    nd = n["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts = []
    for length in rng.integers(10, 101, nd):
        words = list(vocab[rng.integers(0, len(VOCAB), length)])
        if rng.random() < 0.02:
            words[rng.integers(0, length)] = "dup"
        texts.append(" ".join(words))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), i64),
            "text": texts,
            "lang": _pick(rng, LANGS, nd, p=LANG_P),
            "source": [f"src{k % 20}" for k in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )

    nv = n["embeddings"]
    vecs = rng.normal(0.0, 1.0, (nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), i32),
        }
    )
    return tables


def write_tables(out_dir: Path, seed: int, scale: float) -> None:
    """Write every table to ``out_dir/<name>.parquet``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
