"""A batch's independent table writes run concurrently from driver
threads, and every Spark job they launch carries the caller's job group
(so a streaming query's job group, and its cancellation, reach them).

Two batch shapes: every collection with its own schema (three groups
of one) and two schema groups of two; both carry a poison event, so the
DLQ append is one of the concurrent writes."""

from __future__ import annotations

import json
import threading
import time
import uuid

import pytest

from mongodb_cdc_delta_spark.cdc.pipeline import CDCIngestor


def _envelope(coll, i, extra=None):
    doc = {"_id": f"{coll}-{i}", "n": i, **(extra or {})}
    return json.dumps(
        {
            "payload": {
                "op": "c",
                "ts_ms": int(time.time() * 1000),
                "source": {"db": "shop", "collection": coll},
                "after": json.dumps(doc),
            }
        }
    )


@pytest.mark.parametrize(
    "shared, n_writes",
    [
        # c0, c1 (x), c2 (y): three groups of one + DLQ
        (False, 4),
        # {c0, c1} and {c2 wide, c3 wide} as two groups + DLQ
        (True, 3),
    ],
)
def test_caller_job_group_tags_every_concurrent_write_job(
    spark, tmp_path, shared, n_writes
):
    colls = ["c0", "c1", "c2"] + (["c3"] if shared else [])
    extra = {"c2": "x", "c3": "x"} if shared else {"c1": "x", "c2": "y"}
    lines = [
        _envelope(c, i, extra={extra[c]: i} if c in extra else None)
        for c in colls
        for i in range(5)
    ] + ["{{{not json"]
    raw = spark.createDataFrame([(v,) for v in lines], "value string")
    ing = CDCIngestor(spark, str(tmp_path / "lake"))

    sc = spark.sparkContext
    lock = threading.Lock()

    def spy(fn, seen):
        # records (thread ident, job group visible on that thread)
        def wrapped(*a, **k):
            with lock:
                seen.append(
                    (threading.get_ident(), sc.getLocalProperty("spark.jobGroup.id"))
                )
            return fn(*a, **k)

        return wrapped

    # every write enters through one of these: a group's write task, or
    # the DLQ append's guarded write
    groups = []
    ing._write_group = spy(ing._write_group, groups)
    guarded = []
    ing._guarded = spy(ing._guarded, guarded)

    tracker = sc.statusTracker()
    untagged_before = set(tracker.getJobIdsForGroup(None))
    group = f"concurrent-writes-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "concurrent table writes")
    try:
        stats = ing.ingest_batch(raw, batch_id=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    assert stats.dlq_rows == 1
    assert {t: r["rows"] for t, r in stats.collections.items()} == {
        f"shop_{c}": 5 for c in colls
    }
    # the writes ran off the caller's thread, and saw its job group there;
    # each group's commit attempt and the DLQ append pass _guarded once
    assert len(groups) == n_writes - 1
    assert len(guarded) == n_writes
    seen = groups + guarded
    assert threading.get_ident() not in {t for t, _ in seen}
    assert {g for _, g in seen} == {group}
    # ... and so did every Spark job they launched: none is untagged, and
    # the group holds the inference job plus at least one job per write
    assert set(tracker.getJobIdsForGroup(None)) <= untagged_before
    assert len(tracker.getJobIdsForGroup(group)) >= 1 + n_writes
