"""The query suite's corpus: the ten parquet tables the query registry reads,
generated from a fixed seed at the registry's small scale (60k lineitem
rows, 500 documents, 500 64-d embeddings).

The corpus is static: every run and every seed reads identical bytes, so the
suite's golden results in ``golden.json`` hold for all runs. Column names and
types follow the registry's input contract (``queries.load``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
N_CUSTOMER, N_SUPPLIER, N_PART = 1500, 100, 2000
N_ORDERS, N_LINEITEM, N_EVENTS = 15_000, 60_000, 10_000
N_DOCS, N_VECS, DIM = 500, 500, 64

_VOCAB = (
    "a the data spark table row column key value hash join merge sort "
    "filter group agg window stream batch query scan order line part "
    "customer small big fast slow vector"
).split()
_ADJ = ("small", "red", "blue", "hot", "old", "new", "large", "cold")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "pipe")


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def build() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": _money(rng, N_CUSTOMER, 0, 10_000),
            "c_mktsegment": segments[rng.integers(0, 5, N_CUSTOMER)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": _money(rng, N_SUPPLIER, 0, 10_000),
        }
    )
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    retail = 900.0 + (np.arange(N_PART) % 1000) / 10.0
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(N_PART), pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": ptypes[rng.integers(0, 6, N_PART)],
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": retail,
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": _money(rng, N_ORDERS, 1_000, 500_000),
            "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
            "o_orderpriority": prio[rng.integers(0, 5, N_ORDERS)],
        }
    )
    partkey = rng.integers(0, N_PART, N_LINEITEM)
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[partkey] * 100) / 100,
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
            "l_shipdate": _days(rng, N_LINEITEM, "1995-01-02", "2001-11-05"),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, 150, N_EVENTS), pa.int64()),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, N_EVENTS)
            ],
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, N_EVENTS), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(_VOCAB[w] for w in rng.integers(0, len(_VOCAB), n)))
    langs = np.array(["en", "en", "de", "es", "fr", "zh", "en"])
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), N_DOCS)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    centers = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centers[labels] + 0.6 * rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write(out_dir: str) -> str:
    """Write the corpus as ``<out_dir>/<table>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
