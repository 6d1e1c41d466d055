"""Seeded generator of the benchmark's input tables.

Writes the ten tables the query registry reads (``session.TABLE_NAMES``)
as single-file, single-row-group parquet, with the schemas, row counts and
value distributions of the sf0.1 fixtures: uniform foreign keys, money
values rounded to cents, a time-sorted event stream and a document corpus
over a 30-word vocabulary in which 5% of documents are marked near
duplicates of an earlier one.  The same seed gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 0.1; other scales multiply them.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    for i in range(n):
        if i >= n // 50 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            if rng.random() < 0.03:
                texts.append(" ".join(words))  # exact duplicate
                continue
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), lengths[i])]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centroids = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def tables(seed: int, scale: float = 0.1) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at scale factor ``scale``, as Arrow
    tables."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, round(v * scale / 0.1)) for k, v in ROWS.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": _names("Customer", c),
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, c)),
            "c_mktsegment": rng.choice(SEGMENTS, c).tolist(),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": _names("Supplier", s),
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, s)),
        }
    )
    p = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": rng.choice(PART_TYPES, p).tolist(),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": _cents(900.0 + (np.arange(p) % 1000) * 0.1),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], o).tolist(),
            "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, o)),
            "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2404, o) * _DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, o).tolist(),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype("float64"),
            "l_extendedprice": _cents(rng.uniform(900.0, 105000.0, li)),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], li).tolist(),
            "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2499, li) * _DAY_US),
        }
    )
    e = n["events"]
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": _ts(_EPOCH_2024_US + np.sort(rng.integers(0, 30 * _DAY_US, e))),
            "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, e).tolist(),
            "value": _cents(rng.exponential(50.0, e)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(out_dir: str, seed: int, scale: float = 0.1) -> dict[str, int]:
    """Write every table under ``out_dir`` as ``<name>.parquet``; returns
    the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(seed, scale).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(table.num_rows, 1),
            compression="snappy",
        )
        rows[name] = table.num_rows
    return rows
