"""The query suite: one registry query per family over the static corpus in
``tables.py``, and the canonical result hash its golden file records.

The list is weighted toward the ROADMAP's targets: the relational core
(aggregate, star join, windows), the CDC/reconcile queries, vector search,
a Pandas-UDF kernel and a text operator. At this scale each query's cost is
mostly per-job and per-task overhead, not data. The iterative families
(connected components, BPE, banded LSH: 3-6 s per call here) are left out
so a warm pass fits the run length.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

SUITE = (
    "pricing_summary",
    "star_join_revenue",
    "dau_wau_stickiness",
    "sessionize",
    "window_topn_per_group",
    "reconcile_record_diff",
    "cdc_latest_state",
    "knn_cosine_topk",
    "grouped_map_normalize",
    "text_quality",
)
GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return str(int(v)) if v.is_integer() else repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    canonicalized and sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\x1e".join(sorted(cols)).encode())
    for line in canon:
        h.update(b"\x1d" + line.encode())
    return h.hexdigest()


def load_golden(path: str = GOLDEN) -> dict:
    with open(path) as fh:
        return json.load(fh)


def check(name: str, rows: int, digest: str, golden: dict) -> str | None:
    """None when the result matches its golden entry, else the problem."""
    g = golden.get(name)
    if g is None:
        return f"{name}: no golden entry"
    if rows != g["rows"]:
        return f"{name}: {rows} rows, golden {g['rows']}"
    if g.get("hash") is not None and digest != g["hash"]:
        return f"{name}: result hash differs from golden ({g['source']})"
    return None
