"""Routed group append (r9 verdict #1): every collection of a batch is
written by ONE Spark job per same-schema collection group and published
through ONE MultiTableTxn commit with the normal per-table
``cdc-<table>`` markers; a single collection is a group of one. These
tests pin:

- content parity: the group write lands what ``LakeTable.append`` of the
  same typed rows lands (same rows, same typing, same schema);
- group splitting: a collection whose post-evolution schema disagrees
  leaves the shared job without contaminating it;
- exactly-once: replaying a batch_id skips every table; a crash between
  manifest and publishes rolls FORWARD at the next ingestor construction;
- DLQ attribution still lands per collection;
- a partition layout change still fails that table's write.
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


def _appended_like_ingest(spark, raw, root, table):
    """``LakeTable.append`` of one collection's typed rows: the shipped
    single-table append, fed the projection the ingest builds."""
    from mongodb_cdc_delta_spark.cdc.pipeline import (
        _meta_schema,
        _parse_events_full,
        _typed_rows,
        doc_schemas,
        infer_collections,
        millis_cast_rule,
    )
    from mongodb_cdc_delta_spark.sinks.table import LakeTable
    from pyspark.sql.types import StructType

    parsed, clean, _dlq = _parse_events_full(raw)
    parsed = parsed.persist()
    try:
        (r,) = [
            r
            for r in infer_collections(parsed)
            if f"{r['db']}_{r['collection']}" == table
        ]
        doc, parse = doc_schemas(r["ddl"])
        target = StructType(list(doc.fields) + list(_meta_schema(clean).fields))
        sub = clean.where(f"concat(db, '_', collection) = '{table}'")
        t = LakeTable(spark, f"{root}/{table}")
        t.append(
            _typed_rows(sub, parse, target, millis_cast_rule),
            partition_by=["_ingestion_date"],
        )
    finally:
        parsed.unpersist()
    return t


class TestGroupedParity:
    def test_group_write_matches_lake_table_append(self, spark, tmp_path):
        raw = _batch(spark, COLLS)
        g = CDCIngestor(spark, str(tmp_path / "lake_g"))
        st_g = g.ingest_batch(raw, batch_id=1)
        assert set(st_g.collections) == {f"shop_{c}" for c in COLLS}
        for t in st_g.collections:
            assert st_g.collections[t]["rows"] == 50
            assert not st_g.collections[t]["skipped"]
            ref = _appended_like_ingest(spark, raw, str(tmp_path / "lake_a"), t)
            got = g.table(t)
            cols = sorted(
                c for c in ref.read().columns if c == "_id" or not c.startswith("_")
            )
            assert sorted(map(tuple, got.read().select(*cols).collect())) == sorted(
                map(tuple, ref.read().select(*cols).collect())
            )
            # identical lake schema from both writers
            assert got.schema() == ref.schema()

    def test_replay_same_batch_id_skips_everything(self, spark, tmp_path):
        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        raw = _batch(spark, COLLS)
        ing.ingest_batch(raw, batch_id=7)
        st = ing.ingest_batch(raw, batch_id=7)
        assert all(v["skipped"] for v in st.collections.values())
        for c in COLLS:
            assert ing.table(f"shop_{c}").count() == 50

    def test_schema_splitter_forms_a_group_of_one(self, spark, tmp_path):
        """c2 carries an extra field → its inferred schema differs → it
        must leave the shared job (a group of one) and still land
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


class TestGroupedLayout:
    def test_layout_change_fails_that_tables_write(self, spark, tmp_path):
        lake = str(tmp_path / "lake")
        CDCIngestor(spark, lake).ingest_batch(
            _batch(spark, ["c0"], n=5), batch_id=0
        )
        ing = CDCIngestor(spark, lake, partition_by=())
        with pytest.raises(ValueError, match="partition layout change"):
            ing.ingest_batch(_batch(spark, ["c0", "c1"], n=5), batch_id=1)
        # only c0's write failed: c1 (a new table) landed in the new layout
        assert ing.table("shop_c0").count() == 5
        assert ing.table("shop_c1").count() == 5
