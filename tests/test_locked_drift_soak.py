"""Randomized LOCKED-mode ingest soak (r7).

The type-drift counter rides ``DataFrame.observe`` — a listener-based
metric — under exactly the conditions where listener metrics break:
per-collection writes running concurrently on driver threads, DLQ
poison in the same batch, duplicate-batch replays (skipped txns must
not read an unfired observation), and multi-collection routing. This
soak generates ~25 seeded random batches over 5 collections with a
KNOWN per-collection drift count per batch and asserts, every batch:

- IngestStats.type_drift_rows == the generator's reference counts;
- drifted rows still LAND (value nulled, row kept);
- DLQ rows are counted, never drift-counted;
- replaying a batch (same batch_id) reports zero drift and no growth;
- final per-table row counts and per-field NULL counts equal the
  generator's ledger exactly.
"""

from __future__ import annotations

import json
import random
import time

import pytest

from mongodb_cdc_delta_spark.cdc.pipeline import CDCIngestor
from mongodb_cdc_delta_spark.schema import MergeMode

pytestmark = pytest.mark.slow

COLLS = [f"c{i}" for i in range(5)]


def _doc(i: int, drift_n: bool) -> dict:
    return {
        "_id": {"$oid": f"{i:024x}"},
        # n is pinned long: a string here is value-level type drift
        "n": f"drift-{i}" if drift_n else i,
        "name": f"row{i}",
    }


def _envelope(i: int, coll: str, drift_n: bool) -> tuple:
    return (
        json.dumps(
            {
                "payload": {
                    "op": "c",
                    "ts_ms": int(time.time() * 1000),
                    "source": {"db": "d", "collection": coll},
                    "after": json.dumps(_doc(i, drift_n)),
                }
            }
        ),
    )


POISON = ('{"payload": {"op": "c"}}',)  # no source/db -> CORRUPTED


def test_locked_drift_soak(spark, tmp_path):
    rnd = random.Random(77)
    root = str(tmp_path / "lake")

    # bootstrap every collection's table with one clean AUTO batch
    boot = CDCIngestor(spark, root, mode=MergeMode.AUTO)
    rows = []
    seq = 0
    for coll in COLLS:
        for _ in range(4):
            rows.append(_envelope(seq, coll, drift_n=False))
            seq += 1
    boot.ingest_batch(spark.createDataFrame(rows, "value string"), batch_id=0)

    locked = CDCIngestor(spark, root, mode=MergeMode.LOCKED)

    # ledger[coll] = [total_rows, null_n_rows]
    ledger = {c: [4, 0] for c in COLLS}
    total_dlq = 0

    for batch_id in range(1, 26):
        batch_rows = []
        expect_drift: dict[str, int] = {}
        active = rnd.sample(COLLS, rnd.randint(1, 5))
        for coll in active:
            n_rows = rnd.randint(1, 8)
            n_drift = rnd.randint(0, n_rows)
            order = [True] * n_drift + [False] * (n_rows - n_drift)
            rnd.shuffle(order)
            for drift in order:
                batch_rows.append(_envelope(seq, coll, drift))
                seq += 1
            if n_drift:
                expect_drift[f"d_{coll}"] = n_drift
            ledger[coll][0] += n_rows
            ledger[coll][1] += n_drift
        n_poison = rnd.randint(0, 2)
        batch_rows.extend([POISON] * n_poison)
        total_dlq += n_poison
        rnd.shuffle(batch_rows)

        df = spark.createDataFrame(batch_rows, "value string")
        stats = locked.ingest_batch(df, batch_id=batch_id)

        assert stats.type_drift_rows == expect_drift, (
            f"batch {batch_id}: drift counter mismatch "
            f"(got {stats.type_drift_rows}, want {expect_drift})"
        )
        assert stats.dlq_rows == n_poison
        assert stats.schema_evolutions == []

        # every 7th batch: replay the SAME batch (duplicate txn) — must
        # skip, must not hang on the unfired observation, must not
        # change the drift ledger or row counts
        if batch_id % 7 == 0:
            stats2 = locked.ingest_batch(df, batch_id=batch_id)
            assert stats2.type_drift_rows == {}
            for coll in active:
                t = locked.table(f"d_{coll}")
                assert t.read().count() == ledger[coll][0], (
                    f"replay of batch {batch_id} duplicated rows"
                )

    # final ledger check: totals and null-n counts per table
    for coll in COLLS:
        t = locked.table(f"d_{coll}")
        got_rows = t.read().count()
        got_nulls = t.read().where("n IS NULL").count()
        assert got_rows == ledger[coll][0], f"{coll}: row count"
        assert got_nulls == ledger[coll][1], f"{coll}: nulled drift rows"
    assert locked.table("_dlq").read().count() == total_dlq
