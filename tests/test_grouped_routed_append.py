"""Coalesced routed append (r9 verdict #1): a multi-collection batch is
written by ONE Spark job per same-schema collection group and published
through ONE MultiTableTxn manifest with the normal per-table
``cdc-<table>`` markers. These tests pin:

- content parity: grouped output is identical to the per-collection path
  (same rows, same typing, same per-collection stats shape);
- group splitting: a collection whose post-evolution schema disagrees
  falls back without contaminating the shared job;
- exactly-once: replaying a batch_id skips every table; a crash between
  manifest and publishes rolls FORWARD at the next ingestor construction;
- DLQ attribution still lands per collection in grouped mode.
"""

from __future__ import annotations

import json
import time

import pytest

from mongodb_cdc_delta_spark.cdc.pipeline import CDCIngestor

pytestmark = pytest.mark.slow


def _envelope(coll, i, extra=None, op="c", db="shop"):
    doc = {"_id": f"{coll}-{i}", "n": i}
    if extra:
        doc.update(extra)
    return json.dumps(
        {
            "payload": {
                "op": op,
                "ts_ms": int(time.time() * 1000),
                "source": {"db": db, "collection": coll},
                "after": json.dumps(doc),
            }
        }
    )


def _batch(spark, colls, n=50, extra_for=None):
    lines = []
    for c in colls:
        for i in range(n):
            lines.append(
                _envelope(c, i, extra=({"x": i} if c == extra_for else None))
            )
    return spark.createDataFrame([(v,) for v in lines], "value string")


def _data_rows(ing, table):
    df = ing.table(table).read()
    cols = [c for c in df.columns if c == "_id" or not c.startswith("_")]
    return sorted(map(tuple, df.select(*sorted(cols)).collect()))


COLLS = ["c0", "c1", "c2", "c3"]


class TestGroupedParity:
    def test_grouped_matches_per_collection_path(self, spark, tmp_path):
        raw = _batch(spark, COLLS)
        g = CDCIngestor(spark, str(tmp_path / "lake_g"), coalesce_commits=True)
        p = CDCIngestor(
            spark, str(tmp_path / "lake_p"), coalesce_commits=False
        )
        st_g = g.ingest_batch(raw, batch_id=1)
        st_p = p.ingest_batch(raw, batch_id=1)
        assert set(st_g.collections) == set(st_p.collections) == {
            f"shop_{c}" for c in COLLS
        }
        for t in st_g.collections:
            assert st_g.collections[t]["rows"] == 50
            assert st_g.collections[t]["rows"] == st_p.collections[t]["rows"]
            assert not st_g.collections[t]["skipped"]
            assert _data_rows(g, t) == _data_rows(p, t)
            # identical lake schema from both paths
            assert g.table(t).schema() == p.table(t).schema()

    def test_replay_same_batch_id_skips_everything(self, spark, tmp_path):
        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        raw = _batch(spark, COLLS)
        ing.ingest_batch(raw, batch_id=7)
        st = ing.ingest_batch(raw, batch_id=7)
        assert all(v["skipped"] for v in st.collections.values())
        for c in COLLS:
            assert ing.table(f"shop_{c}").count() == 50

    def test_schema_splitter_falls_back_per_collection(self, spark, tmp_path):
        """c2 carries an extra field → its inferred schema differs → it
        must leave the shared job (singleton fallback) and still land
        correctly, wider."""
        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        st = ing.ingest_batch(
            _batch(spark, COLLS, extra_for="c2"), batch_id=1
        )
        assert st.collections["shop_c2"]["rows"] == 50
        assert "x" in [f.name for f in ing.table("shop_c2").schema().fields]
        assert "x" not in [
            f.name for f in ing.table("shop_c1").schema().fields
        ]
        # next batch without the field: c2's post-evolution (live-merged)
        # schema still differs → stays out of the group; others grouped
        st2 = ing.ingest_batch(_batch(spark, COLLS), batch_id=2)
        assert st2.collections["shop_c2"]["rows"] == 50
        assert ing.table("shop_c2").count() == 100
        assert ing.table("shop_c0").count() == 100

    def test_dlq_attribution_in_grouped_mode(self, spark, tmp_path):
        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        lines = [_envelope(c, i) for c in COLLS for i in range(10)]
        # two corrupt events with parseable envelopes, one envelope-less
        lines.append(
            json.dumps(
                {
                    "payload": {
                        "op": "c",
                        "ts_ms": int(time.time() * 1000),
                        "source": {"db": "shop", "collection": "c1"},
                    }
                }
            )
        )
        raw = spark.createDataFrame([(v,) for v in lines], "value string")
        st = ing.ingest_batch(raw, batch_id=1)
        assert st.dlq_rows == 1
        assert st.dlq_by_collection == {"shop.c1": 1}
        for c in COLLS:
            assert ing.table(f"shop_{c}").count() == 10


class TestGroupedCrashRecovery:
    def test_crash_after_manifest_rolls_forward(self, spark, tmp_path):
        """Kill the txn between prepare() (manifest durable) and the
        per-table publishes: the NEXT CDCIngestor construction must roll
        every table's commit forward, and replaying the batch skips."""
        import mongodb_cdc_delta_spark.sinks.txn as txn_mod

        lake = str(tmp_path / "lake")
        ing = CDCIngestor(spark, lake)
        raw = _batch(spark, COLLS)
        orig_finalize = txn_mod.MultiTableTxn.finalize

        def dying_finalize(self):
            # manifest is durable; publish exactly one table, then die
            assert self._manifest_path is not None
            txn_mod._publish_entry(
                self.spark, self._staged[0], self.app_id, self.version
            )
            raise RuntimeError("injected crash mid-finalize")

        txn_mod.MultiTableTxn.finalize = dying_finalize
        try:
            with pytest.raises(RuntimeError, match="injected"):
                ing.ingest_batch(raw, batch_id=3)
        finally:
            txn_mod.MultiTableTxn.finalize = orig_finalize
        # fresh ingestor (new process in real life) → recover rolls forward
        ing2 = CDCIngestor(spark, lake)
        for c in COLLS:
            assert ing2.table(f"shop_{c}").count() == 50, c
        st = ing2.ingest_batch(raw, batch_id=3)
        assert all(v["skipped"] for v in st.collections.values())
        for c in COLLS:
            assert ing2.table(f"shop_{c}").count() == 50, c
