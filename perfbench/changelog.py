"""Seeded Debezium-MongoDB changelog generator and the state it implies.

One generator serves both CDC workloads. For a given seed and base time the
emitted envelope lines are byte-identical, and the generator keeps what the
correctness gates need: the expected live document per key, the clean event
count per collection and the poison (dead-letter) count.

Events carry ``ts_ms = base_ms + sequence number``, so timestamps increase
strictly across the whole log (the gates order the append log by them) and
stay inside the pipeline's stale-event window when ``base_ms`` is the run's
start time.
"""

from __future__ import annotations

import bisect
import json
import random
from dataclasses import dataclass

DB = "bench"


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's changelog; written into the run's details."""

    collections: tuple[str, ...]
    #: share of insert, update and delete events among clean events
    op_mix: tuple[float, float, float]
    #: share of corrupt envelopes (they must land in the DLQ)
    poison_share: float
    #: zipf exponent over a collection's live keys for updates and deletes
    key_skew: float
    #: inserts each collection receives before any update or delete
    initial_docs: int
    #: batch index from which shape-"a" documents carry the extra field
    drift_batch: int | None
    drift_field: str = "tier"

    def details(self) -> dict:
        return {
            "collections": list(self.collections),
            "op_mix_ins_upd_del": list(self.op_mix),
            "poison_share": self.poison_share,
            "key_skew_zipf": self.key_skew,
            "initial_docs": self.initial_docs,
            "drift_batch": self.drift_batch,
            "drift_field": self.drift_field,
            "shapes": {"a": list(SHAPE_A), "b": list(SHAPE_B)},
        }


#: document fields per shape (before drift); collection names start with
#: their shape letter, so collections of one shape share one schema
SHAPE_A = ("_id", "v", "name", "score", "created", "tags", "address")
SHAPE_B = ("_id", "v", "customer", "amount", "placed", "status", "items")

_WORDS = (
    "amber", "birch", "cedar", "delta", "ember", "fjord", "grove", "heath",
    "indigo", "juniper", "kelp", "lumen", "moss", "nectar", "onyx", "pine",
)
_STATUS = ("new", "paid", "shipped", "returned")


def truth_row(key: str, doc: dict) -> tuple:
    """(key, v, string field, double field, date millis) — the projection
    both gates compare; the lake side selects the same columns."""
    if "name" in doc:
        return (key, doc["v"], doc["name"], doc["score"], doc["created"])
    return (key, doc["v"], doc["customer"], doc["amount"], doc["placed"])


class Changelog:
    """Deterministic event source over ``spec.collections``.

    ``next_batch(n)`` returns ``n`` envelope lines; ``collection`` restricts a
    batch to one collection (the upsert workload's per-topic batches)."""

    def __init__(self, spec: Spec, seed: int, base_ms: int):
        self.spec = spec
        self.rng = random.Random(seed)
        self.base_ms = base_ms
        self.seq = 0
        self.batches = 0
        self.poison = 0
        self.clean = {c: 0 for c in spec.collections}
        #: collection -> key -> live document (plain values, dates as millis)
        self.live: dict[str, dict[str, dict]] = {c: {} for c in spec.collections}
        #: collection -> keys in insertion order (zipf rank = position)
        self._order: dict[str, list[str]] = {c: [] for c in spec.collections}
        self._next_key = 0
        #: cumulative zipf weights by rank, grown on demand
        self._cum: list[float] = []

    # ------------------------------------------------------------ docs

    def _new_key(self) -> str:
        self._next_key += 1
        return f"{self.rng.getrandbits(32):08x}{self._next_key:016x}"

    def _drifted(self) -> bool:
        d = self.spec.drift_batch
        return d is not None and self.batches >= d

    def _doc(self, coll: str, key: str, v: int, ts: int) -> dict:
        r = self.rng
        if coll.startswith("a"):
            doc = {
                "v": v,
                "name": f"{r.choice(_WORDS)}-{r.randrange(10_000)}",
                "score": r.randrange(100_000) / 100 + 0.5,
                "created": ts - r.randrange(86_400_000),
                "tags": [r.choice(_WORDS) for _ in range(1 + r.randrange(3))],
                "address": {
                    "city": r.choice(_WORDS),
                    "zip": f"{r.randrange(100_000):05d}",
                },
            }
            if self._drifted():
                doc[self.spec.drift_field] = r.choice(("gold", "silver"))
        else:
            doc = {
                "v": v,
                "customer": f"c{r.randrange(5_000)}",
                "amount": r.randrange(1_000_000) / 100 + 0.5,
                "placed": ts - r.randrange(86_400_000),
                "status": r.choice(_STATUS),
                "items": [
                    {"sku": r.choice(_WORDS), "n": 1 + r.randrange(5)}
                    for _ in range(1 + r.randrange(3))
                ],
            }
        return doc

    @staticmethod
    def _wire(key: str, doc: dict) -> str:
        """Extended JSON as MongoDB's change stream renders it."""
        out = {"_id": {"$oid": key}}
        for k, val in doc.items():
            if k in ("created", "placed"):
                out[k] = {"$date": val}
            else:
                out[k] = val
        return json.dumps(out, separators=(",", ":"))

    def _pick(self, coll: str) -> str:
        keys = self._order[coll]
        n = len(keys)
        cum = self._cum
        while len(cum) < n:
            cum.append((cum[-1] if cum else 0.0) + (len(cum) + 1) ** -self.spec.key_skew)
        u = self.rng.random() * cum[n - 1]
        return keys[min(bisect.bisect_right(cum, u, 0, n), n - 1)]

    # ---------------------------------------------------------- events

    def _envelope(self, coll: str) -> str:
        ts = self.base_ms + self.seq
        self.seq += 1
        live = self.live[coll]
        ins, upd, _ = self.spec.op_mix
        if len(live) < self.spec.initial_docs:
            op = "c"
        else:
            x = self.rng.random()
            op = "c" if x < ins else ("u" if x < ins + upd else "d")
        if op == "c":
            key = self._new_key()
            doc = self._doc(coll, key, 1, ts)
        else:
            key = self._pick(coll)
            doc = self._doc(coll, key, live[key]["v"] + 1, ts)
        payload: dict = {
            "op": op,
            "ts_ms": ts,
            "source": {"db": DB, "collection": coll, "ts_ms": ts},
        }
        if op == "d":
            del live[key]
            self._order[coll].remove(key)
            payload["after"] = None
            payload["_id"] = json.dumps({"$oid": key})
        else:
            if op == "c":
                self._order[coll].append(key)
            live[key] = doc
            payload["after"] = self._wire(key, doc)
        self.clean[coll] += 1
        return json.dumps({"payload": payload}, separators=(",", ":"))

    def _poison(self) -> str:
        self.poison += 1
        ts = self.base_ms + self.seq
        self.seq += 1
        # truncated envelope: unparseable, so the pipeline dead-letters it
        return f'{{"payload":{{"op":"u","ts_ms":{ts},"source":{{"db":"{DB}"'

    def next_batch(self, n: int, collection: str | None = None) -> list[str]:
        colls = (collection,) if collection else self.spec.collections
        lines = []
        for _ in range(n):
            if self.rng.random() < self.spec.poison_share:
                lines.append(self._poison())
            else:
                lines.append(self._envelope(self.rng.choice(colls)))
        self.batches += 1
        return lines

    # ----------------------------------------------------------- truth

    def truth(self, coll: str) -> list[tuple]:
        return [truth_row(k, d) for k, d in self.live[coll].items()]

    def expected_doc(self, coll: str, key: str) -> dict | None:
        return self.live[coll].get(key)

    def hot_key(self, coll: str) -> str:
        """The most-updated live key (zipf rank 1 that is still live)."""
        return self._order[coll][0]
