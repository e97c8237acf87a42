"""Fast-lane smoke tests of the one CDC write path: every collection of a
batch commits through a routed group (``_plan_writes`` → ``_write_group``),
a single collection being a group of one.

- a replayed ``batch_id`` skips every table;
- with ``materialize_current``, a retry after the main commit still
  merges ``__current``;
- a crash between the group's manifest and its publishes rolls forward at
  the next ingestor construction;
- a batch without ``batch_id`` commits with no txn mark and no manifest;
- LOCKED mode ingests into a table that evolved earlier (its added fields
  are stored after the CDC metadata columns).
"""

from __future__ import annotations

import json
import os
import time

import pytest

import mongodb_cdc_delta_spark.sinks.txn as txn_mod
from mongodb_cdc_delta_spark.cdc.pipeline import CDC_META_COLUMNS, CDCIngestor
from mongodb_cdc_delta_spark.schema import MergeMode


def _raw(spark, colls, n=3, extra=None):
    lines = [
        json.dumps(
            {
                "payload": {
                    "op": "c",
                    "ts_ms": int(time.time() * 1000),
                    "source": {"db": "shop", "collection": c},
                    "after": json.dumps({"_id": f"{c}-{i}", "a": i, **(extra or {})}),
                }
            }
        )
        for c in colls
        for i in range(n)
    ]
    return spark.createDataFrame([(v,) for v in lines], "value string")


def test_replayed_batch_id_skips_every_table(spark, tmp_path):
    ing = CDCIngestor(spark, str(tmp_path / "lake"))
    raw = _raw(spark, ["c0", "c1"])
    ing.ingest_batch(raw, batch_id=7)
    st = ing.ingest_batch(raw, batch_id=7)
    assert set(st.collections) == {"shop_c0", "shop_c1"}
    assert all(r["skipped"] and r["rows"] == 0 for r in st.collections.values())
    for c in ("c0", "c1"):
        assert ing.table(f"shop_{c}").count() == 3


def test_current_merge_runs_after_replayed_main_commit(spark, tmp_path):
    # crash window: the main table committed batch 0, __current did not
    raw = _raw(spark, ["users"], n=2)
    CDCIngestor(spark, str(tmp_path / "lake")).ingest_batch(raw, batch_id=0)
    ing = CDCIngestor(spark, str(tmp_path / "lake"), materialize_current=True)
    st = ing.ingest_batch(raw, batch_id=0)
    assert st.collections["shop_users"]["skipped"] is True
    assert ing.table("shop_users").count() == 2
    assert ing.table("shop_users__current").count() == 2
    # and the MERGE is exactly-once too
    ing.ingest_batch(raw, batch_id=0)
    assert ing.table("shop_users__current").count() == 2


def test_crash_mid_finalize_rolls_forward(spark, tmp_path, monkeypatch):
    lake = str(tmp_path / "lake")
    raw = _raw(spark, ["c0", "c1"])

    def dying_finalize(self):
        # the manifest is durable: publish one table, then die
        txn_mod._publish_entry(self.spark, self._staged[0], self.app_id, self.version)
        raise RuntimeError("injected crash mid-finalize")

    with monkeypatch.context() as m:
        m.setattr(txn_mod.MultiTableTxn, "finalize", dying_finalize)
        with pytest.raises(RuntimeError, match="injected"):
            CDCIngestor(spark, lake).ingest_batch(raw, batch_id=3)
    ing = CDCIngestor(spark, lake)  # recover() rolls the manifest forward
    assert os.listdir(os.path.join(lake, "_txn")) == []
    for c in ("c0", "c1"):
        assert ing.table(f"shop_{c}").count() == 3
    st = ing.ingest_batch(raw, batch_id=3)
    assert all(r["skipped"] for r in st.collections.values())


def test_batch_without_id_commits_unmarked(spark, tmp_path):
    ing = CDCIngestor(spark, str(tmp_path / "lake"))
    raw = _raw(spark, ["c0", "c1"])
    ing.ingest_batch(raw)
    ing.ingest_batch(raw)  # no id, no replay guard: appended twice
    for c in ("c0", "c1"):
        t = ing.table(f"shop_{c}")
        assert t.count() == 6
        assert all(h.txn is None for h in t.history())
    # nothing to roll forward without a mark, so no manifest was written
    assert not os.path.exists(os.path.join(str(tmp_path / "lake"), "_txn"))


def test_locked_batch_into_an_evolved_table(spark, tmp_path):
    lake = str(tmp_path / "lake")
    auto = CDCIngestor(spark, lake)
    auto.ingest_batch(_raw(spark, ["c0"]), batch_id=0)
    auto.ingest_batch(_raw(spark, ["c0"], extra={"b": "x"}), batch_id=1)
    stored = [f.name for f in auto.table("shop_c0").schema().fields]
    assert stored == ["_id", "a", *CDC_META_COLUMNS, "b"]

    locked = CDCIngestor(spark, lake, mode=MergeMode.LOCKED)
    st = locked.ingest_batch(_raw(spark, ["c0"]), batch_id=2)
    assert st.collections["shop_c0"]["rows"] == 3
    assert st.schema_evolutions == []
    t = locked.table("shop_c0")
    assert [f.name for f in t.schema().fields] == stored
    assert t.count() == 9
    assert t.read().where("b IS NULL").count() == 6
