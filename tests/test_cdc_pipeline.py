"""CDC ingest pipeline: Debezium envelope → parse/classify/extract →
extended-JSON normalization → DLQ split → per-collection lake append.

Event shapes mirror the reference's contract fixtures
(tests/contract/test_debezium_events.py:20-56) and its e2e assertions
(tests/e2e/test_cdc_flow.py:60-157: per-op row counts + updated values).
"""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from mongodb_cdc_delta_spark.cdc.pipeline import (
    CDC_META_COLUMNS,
    CDCIngestor,
    DLQReason,
    _parse_events_full,
    doc_schemas,
    infer_collections,
    normalize_extended_json,
    parse_events,
)

NOW = "2024-01-24 00:00:00"
TS = 1706054400000  # 2024-01-24T00:00:00Z millis


# r11 fast-tier: moved to the slow (full-battery) lane in r11 so the default fast tier stays <15 min; this surface remains covered by the full battery and by the oracle-parity/plan-gate suites that stay in the fast lane
pytestmark = pytest.mark.slow

def envelope(op, db="shop", coll="users", after=None, before=None, ts=TS):
    payload = {"op": op, "ts_ms": ts, "source": {"db": db, "collection": coll}}
    if after is not None:
        payload["after"] = json.dumps(after) if isinstance(after, dict) else after
    if before is not None:
        payload["before"] = (
            json.dumps(before) if isinstance(before, dict) else before
        )
    return json.dumps({"payload": payload})


def raw_df(spark, values, with_kafka=True):
    if with_kafka:
        rows = [
            (v, "mongodb.shop.users", 0, i) for i, v in enumerate(values)
        ]
        return spark.createDataFrame(
            rows, "value string, topic string, partition int, offset long"
        )
    return spark.createDataFrame([(v,) for v in values], "value string")


def _normalized(spark, doc):
    return (
        spark.createDataFrame([(doc,)], "doc string")
        .selectExpr(f"{normalize_extended_json('doc')} AS d")
        .first()["d"]
    )


class TestParseEvents:
    def test_insert_update_delete_classification(self, spark):
        events = [
            envelope("c", after={"_id": "a", "n": 1}),
            envelope("r", after={"_id": "b", "n": 2}),  # snapshot read → insert
            envelope("u", after={"_id": "a", "n": 3}),
            envelope("d", before={"_id": "b", "n": 2}),
            envelope("x", after={"_id": "z"}),  # unknown op → dropped
        ]
        clean, dlq = parse_events(raw_df(spark, events), now=NOW)
        ops = [r["_cdc_operation"] for r in clean.orderBy("_kafka_offset").collect()]
        assert ops == ["insert", "insert", "update", "delete"]
        assert dlq.count() == 0

    def test_delete_falls_back_to_key(self, spark):
        # Debezium-Mongo deletes often carry no before image — key only
        ev = json.dumps(
            {
                "payload": {
                    "op": "d",
                    "ts_ms": TS,
                    "_id": '"doc9"',
                    "source": {"db": "shop", "collection": "users"},
                }
            }
        )
        clean, _ = parse_events(raw_df(spark, [ev]), now=NOW)
        row = clean.first()
        assert row["_cdc_operation"] == "delete"
        assert json.loads(row["doc"]) == {"_id": "doc9"}

    def test_corrupted_and_oversized_to_dlq(self, spark):
        events = [
            "not json at all {{{",
            json.dumps({"payload": {"op": "c", "ts_ms": TS}}),  # no source
            envelope("c", after=None),  # insert without document
        ]
        clean, dlq = parse_events(raw_df(spark, events), now=NOW)
        assert clean.count() == 0
        reasons = {r["reason"] for r in dlq.collect()}
        assert reasons == {DLQReason.CORRUPTED_DATA.value}

    def test_oversized_document_to_dlq(self, spark):
        big = envelope("c", after={"_id": "big", "blob": "x" * 100})
        clean, dlq = parse_events(
            raw_df(spark, [big]), now=NOW, max_doc_bytes=50
        )
        assert clean.count() == 0
        assert dlq.first()["reason"] == DLQReason.OVERSIZED_DOCUMENT.value

    def test_stale_event_to_dlq(self, spark):
        old_ts = TS - 8 * 86400 * 1000  # 8 days before NOW → stale at 7d
        events = [
            envelope("c", after={"_id": "old"}, ts=old_ts),
            envelope("c", after={"_id": "new"}),
        ]
        clean, dlq = parse_events(raw_df(spark, events), now=NOW)
        assert clean.count() == 1
        assert dlq.first()["reason"] == DLQReason.STALE_EVENT.value

    def test_metadata_columns_present(self, spark):
        clean, _ = parse_events(
            raw_df(spark, [envelope("c", after={"_id": "m"})]), now=NOW
        )
        row = clean.first()
        for c in CDC_META_COLUMNS:
            assert c in clean.columns
        assert row["_kafka_topic"] == "mongodb.shop.users"
        assert row["_kafka_offset"] == 0
        assert row["_ingestion_date"] == "2024-01-24"
        assert row["_source_database"] == "shop"
        assert row["_source_collection"] == "users"

    def test_file_source_without_kafka_columns(self, spark):
        clean, _ = parse_events(
            raw_df(spark, [envelope("c", after={"_id": "f"})], with_kafka=False),
            now=NOW,
        )
        row = clean.first()
        assert row["_cdc_operation"] == "insert"
        assert row["_kafka_topic"] is None


class TestExtendedJson:
    def test_normalize_wrappers(self, spark):
        doc = (
            '{"_id": {"$oid": "65b0a1b2c3d4e5f601234567"},'
            ' "when": {"$date": {"$numberLong": "1706054400000"}},'
            ' "amount": {"$numberDecimal": "19.99"},'
            ' "count": {"$numberLong": "42"},'
            ' "blob": {"$binary": {"base64": "aGVsbG8=", "subType": "00"}}}'
        )
        out = _normalized(spark, doc)
        parsed = json.loads(out)
        assert parsed["_id"] == "65b0a1b2c3d4e5f601234567"
        assert parsed["when"] == 1706054400000
        assert parsed["amount"] == 19.99
        assert parsed["count"] == 42
        assert parsed["blob"] == "aGVsbG8="

    def test_normalize_scientific_notation_and_bare_date(self, spark):
        # negative exponents and the legacy bare-millis $date form must
        # unwrap, or from_json sees an object where the parse schema
        # expects double/long and silently nulls the field (data loss)
        doc = (
            '{"tiny": {"$numberDouble": "1.5e-3"},'
            ' "huge": {"$numberDecimal": "-2.5E+10"},'
            ' "nan": {"$numberDouble": "NaN"},'
            ' "neginf": {"$numberDouble": "-Infinity"},'
            ' "legacy_when": {"$date": 1706054400000}}'
        )
        out = _normalized(spark, doc)
        assert '"tiny": 1.5e-3' in out
        assert '"huge": -2.5E+10' in out
        assert '"nan": NaN' in out
        assert '"neginf": -Infinity' in out
        assert '"legacy_when": 1706054400000' in out
        # and the parse path (from_json, which accepts non-numeric doubles)
        # recovers the typed values
        parsed = (
            spark.createDataFrame([(doc,)], "doc string")
            .selectExpr(
                f"from_json({normalize_extended_json('doc')}, 'tiny double, "
                "huge double, nan double, neginf double, legacy_when long') "
                "AS p"
            )
            .select("p.*")
            .first()
        )
        assert parsed["tiny"] == 1.5e-3
        assert parsed["huge"] == -2.5e10
        assert parsed["nan"] != parsed["nan"]  # NaN
        assert parsed["neginf"] == float("-inf")
        assert parsed["legacy_when"] == 1706054400000

    def test_infer_doc_schema(self, spark):
        # the shipped inference: one aggregate per batch, then the BSON
        # wrapper refinement ($date millis → timestamp parsed as long)
        events = [
            envelope("c", after={"a": 1, "b": "x", "nested": {"c": 1.5}}),
            envelope("c", after={"a": 2, "d": True, "t": {"$date": TS}}),
        ]
        parsed, _, _ = _parse_events_full(raw_df(spark, events), now=NOW)
        (row,) = infer_collections(parsed)
        assert (row["db"], row["collection"], row["n_clean"], row["n_dlq"]) == (
            "shop", "users", 2, 0
        )
        schema, parse = doc_schemas(row["ddl"])
        names = {f.name for f in schema.fields}
        assert names == {"a", "b", "nested", "d", "t"}
        assert schema["nested"].dataType.typeName() == "struct"
        assert schema["nested"].dataType["c"].dataType.typeName() == "double"
        assert schema["t"].dataType.typeName() == "timestamp"
        assert parse["t"].dataType.typeName() == "long"


class TestCDCIngestor:
    def test_end_to_end_multi_collection(self, spark, tmp_path):
        # reference e2e test_cdc_flow.py: inserts/updates/deletes land as
        # append-log rows tagged _cdc_operation, per collection
        events = [
            envelope("c", coll="users", after={"_id": "u1", "name": "Alice", "age": 30}),
            envelope("c", coll="users", after={"_id": "u2", "name": "Bob", "age": 25}),
            envelope("u", coll="users", after={"_id": "u1", "name": "Alice2", "age": 31}),
            envelope("d", coll="users", before={"_id": "u2", "name": "Bob", "age": 25}),
            envelope("c", coll="orders", after={"_id": "o1", "total": 99.5}),
        ]
        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        stats = ing.ingest_batch(raw_df(spark, events), batch_id=0, now=NOW)
        assert set(stats.collections) == {"shop_users", "shop_orders"}

        users = ing.table("shop_users").read()
        assert users.count() == 4
        by_op = {
            r["_cdc_operation"]: r["n"]
            for r in users.groupBy("_cdc_operation").agg(F.count("*").alias("n")).collect()
        }
        assert by_op == {"insert": 2, "update": 1, "delete": 1}
        # updated value visible (reference test_cdc_flow.py:129-146)
        upd = users.where(F.col("_cdc_operation") == "update").first()
        assert upd["name"] == "Alice2" and upd["age"] == 31

        orders = ing.table("shop_orders").read()
        assert orders.count() == 1 and orders.first()["total"] == 99.5

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        events = [envelope("c", after={"_id": "u1", "n": 1})]
        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        ing.ingest_batch(raw_df(spark, events), batch_id=5, now=NOW)
        stats2 = ing.ingest_batch(raw_df(spark, events), batch_id=5, now=NOW)
        assert stats2.collections["shop_users"]["skipped"]
        assert ing.table("shop_users").read().count() == 1

    def test_schema_evolution_across_batches(self, spark, tmp_path):
        # reference load test: phased schema growth incl. int→float widening
        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        ing.ingest_batch(
            raw_df(spark, [envelope("c", after={"_id": "1", "value": 10})]),
            batch_id=0,
            now=NOW,
        )
        ing.ingest_batch(
            raw_df(
                spark,
                [envelope("c", after={"_id": "2", "value": 2.5, "tag": "new"})],
            ),
            batch_id=1,
            now=NOW,
        )
        t = ing.table("shop_users")
        assert t.schema()["value"].dataType.typeName() == "double"
        vals = sorted(r.value for r in t.read().collect())
        assert vals == [2.5, 10.0]

    def test_dlq_table_written(self, spark, tmp_path):
        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        stats = ing.ingest_batch(
            raw_df(spark, ["garbage {{", envelope("c", after={"_id": "ok"})]),
            batch_id=0,
            now=NOW,
        )
        assert stats.dlq_rows == 1
        dlq = ing.table("_dlq").read()
        assert dlq.count() == 1
        assert dlq.first()["reason"] == DLQReason.CORRUPTED_DATA.value


class TestDLQReplay:
    def test_replay_recovers_fixed_events(self, spark, tmp_path):
        import time as _time

        now_ms = int(_time.time() * 1000)
        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        # an event that is DLQ'd only because it is oversized under a tiny
        # cap — replaying under the normal cap succeeds ("fix the cause,
        # drain the queue")
        ok_doc = envelope("c", after={"_id": "big", "n": 1}, ts=now_ms)
        ing.stale_days = 365_000  # isolate the size policy
        small_cap = CDCIngestor(
            spark, str(tmp_path / "lake"), stale_days=365_000
        )
        clean, dlq = parse_events(
            raw_df(spark, [ok_doc]), max_doc_bytes=50
        )
        small_cap.table("_dlq").append(dlq, partition_by=[])
        assert small_cap.table("_dlq").read().count() == 1

        stats = small_cap.replay_dlq(batch_id=99)
        assert stats.collections["shop_users"]["files"] >= 1
        assert small_cap.table("shop_users").read().count() == 1
        # drained originals purged
        assert small_cap.table("_dlq").read().count() == 0

    def test_replay_refailures_stay_in_dlq(self, spark, tmp_path):
        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        stats = ing.ingest_batch(
            raw_df(spark, ["still broken {{{"]), batch_id=0, now=NOW
        )
        assert stats.dlq_rows == 1
        # replaying a genuinely corrupt event fails again and must remain
        stats2 = ing.replay_dlq(batch_id=1)
        assert stats2.dlq_rows == 1
        dlq = ing.table("_dlq").read()
        assert dlq.count() == 1
        assert dlq.first()["reason"] == DLQReason.CORRUPTED_DATA.value

    def test_reason_filter_is_quoted(self, spark, tmp_path):
        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        _clean, dlq = parse_events(raw_df(spark, ["broken {{{"]), now=NOW)
        for reason in ("it's stale", "other"):
            ing.table("_dlq").append(
                dlq.withColumn("reason", F.lit(reason)), partition_by=[]
            )
        # a crafted reason matches nothing, so it purges nothing
        ing.replay_dlq(reasons=["nope') OR ('1' = '1"], batch_id=1)
        assert ing.table("_dlq").count() == 2
        # a reason holding a quote matches exactly its own row: replayed,
        # it fails again (a fresh DLQ row) and only the original is purged
        ing.replay_dlq(reasons=["it's stale"], batch_id=2)
        assert sorted(
            r["reason"] for r in ing.table("_dlq").read().collect()
        ) == [DLQReason.CORRUPTED_DATA.value, "other"]


class TestExtendedJsonExtras:
    def test_uuid_and_timestamp_wrappers(self, spark):
        doc = (
            '{"u": {"$uuid": "3b241101-e2bb-4255-8caf-4136c566a962"},'
            ' "t": {"$timestamp": {"t": 1706054400, "i": 3}}}'
        )
        out = _normalized(spark, doc)
        parsed = json.loads(out)
        assert parsed["u"] == "3b241101-e2bb-4255-8caf-4136c566a962"
        assert parsed["t"] == 1706054400

    def test_schema_evolution_counter(self, spark, tmp_path):
        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        s1 = ing.ingest_batch(
            raw_df(spark, [envelope("c", after={"_id": "1", "n": 1})]),
            batch_id=0, now=NOW,
        )
        assert s1.schema_evolutions == []  # first write: no prior schema
        s2 = ing.ingest_batch(
            raw_df(spark, [envelope("c", after={"_id": "2", "n": 2})]),
            batch_id=1, now=NOW,
        )
        assert s2.schema_evolutions == []  # same shape: no evolution
        s3 = ing.ingest_batch(
            raw_df(spark, [envelope("c", after={"_id": "3", "extra": "x"})]),
            batch_id=2, now=NOW,
        )
        assert s3.schema_evolutions == ["shop_users"]


class TestCurrentStateMaterialization:
    def test_current_table_tracks_live_state(self, spark, tmp_path):
        ing = CDCIngestor(
            spark, str(tmp_path / "lake"), materialize_current=True
        )
        # batch 0: two inserts
        ing.ingest_batch(
            raw_df(
                spark,
                [
                    envelope("c", after={"_id": "u1", "name": "Alice", "n": 1}),
                    envelope("c", after={"_id": "u2", "name": "Bob", "n": 2}),
                ],
            ),
            batch_id=0,
            now=NOW,
        )
        cur = ing.table("shop_users__current").read()
        assert cur.count() == 2

        # batch 1: update u1, delete u2, insert u3
        ing.ingest_batch(
            raw_df(
                spark,
                [
                    envelope("u", after={"_id": "u1", "name": "Alice2", "n": 10}),
                    envelope("d", before={"_id": "u2", "name": "Bob", "n": 2}),
                    envelope("c", after={"_id": "u3", "name": "Cara", "n": 3}),
                ],
            ),
            batch_id=1,
            now=NOW,
        )
        cur = {r["_id"]: r for r in ing.table("shop_users__current").read().collect()}
        assert set(cur) == {"u1", "u3"}
        assert cur["u1"]["name"] == "Alice2" and cur["u1"]["n"] == 10

        # append log keeps full history alongside (SURVEY §1.4)
        assert ing.table("shop_users").read().count() == 5

    def test_same_key_twice_in_batch_latest_wins(self, spark, tmp_path):
        ing = CDCIngestor(
            spark, str(tmp_path / "lake"), materialize_current=True
        )
        ing.ingest_batch(
            raw_df(
                spark,
                [
                    envelope("c", after={"_id": "k", "v": "first"}),
                    envelope("u", after={"_id": "k", "v": "second"}),
                ],
            ),
            batch_id=0,
            now=NOW,
        )
        cur = ing.table("shop_users__current").read().collect()
        assert len(cur) == 1 and cur[0]["v"] == "second"

    def test_replayed_batch_does_not_double_merge(self, spark, tmp_path):
        ing = CDCIngestor(
            spark, str(tmp_path / "lake"), materialize_current=True
        )
        events = raw_df(spark, [envelope("c", after={"_id": "x", "n": 1})])
        ing.ingest_batch(events, batch_id=0, now=NOW)
        ing.ingest_batch(events, batch_id=0, now=NOW)  # replay
        assert ing.table("shop_users__current").read().count() == 1
        assert ing.table("shop_users").read().count() == 1

    def test_retry_after_main_commit_still_merges_current(self, spark, tmp_path):
        # crash window: main append committed, __current merge did not.
        # Simulate by ingesting WITHOUT materialization (main table commits
        # under txn cdc-shop_users/0), then retrying the same batch with
        # materialization on: the skipped main append must NOT skip the
        # merge, or __current misses the batch forever.
        events = raw_df(spark, [envelope("c", after={"_id": "x", "n": 1})])
        CDCIngestor(spark, str(tmp_path / "lake")).ingest_batch(
            events, batch_id=0, now=NOW
        )
        ing = CDCIngestor(
            spark, str(tmp_path / "lake"), materialize_current=True
        )
        stats = ing.ingest_batch(events, batch_id=0, now=NOW)
        assert stats.collections["shop_users"]["skipped"] is True
        assert ing.table("shop_users__current").read().count() == 1


class TestSnapshotLoad:
    def test_bulk_load_then_stream_seamless(self, spark, tmp_path):
        # reference S8: initial snapshot (op='r') then streaming changes
        import json as _json

        dump = tmp_path / "users.jsonl"
        docs = [{"_id": f"s{i}", "name": f"user-{i}", "n": i} for i in range(100)]
        dump.write_text("\n".join(_json.dumps(d) for d in docs))

        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        stats = ing.snapshot_load(
            spark.read.text(str(dump)), "shop", "users", batch_id=0
        )
        assert stats.collections["shop_users"]["rows"] == 100
        t = ing.table("shop_users").read()
        assert t.count() == 100
        # snapshot rows are inserts (op r → insert, reference
        # event_handler.py:117-118)
        assert t.where("_cdc_operation = 'insert'").count() == 100

        # subsequent streamed update applies on top (recent event time —
        # snapshot_load stamps the real clock, so `now` is real too)
        import time as _t

        ing.ingest_batch(
            raw_df(
                spark,
                [
                    envelope(
                        "u",
                        after={"_id": "s0", "name": "upd", "n": -1},
                        ts=int(_t.time() * 1000),
                    )
                ],
            ),
            batch_id=1,
        )
        assert ing.table("shop_users").read().count() == 101

    def test_snapshot_idempotent(self, spark, tmp_path):
        import json as _json

        dump = tmp_path / "d.jsonl"
        dump.write_text(_json.dumps({"_id": "a", "x": 1}))
        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        ing.snapshot_load(spark.read.text(str(dump)), "db", "c", batch_id=7)
        res = ing.snapshot_load(spark.read.text(str(dump)), "db", "c", batch_id=7)
        assert res.collections["db_c"]["skipped"]
        assert ing.table("db_c").read().count() == 1


class TestAuditWriteThrough:
    def test_ingest_batch_records_audit_entry(self, spark, tmp_path):
        import json as _json

        from mongodb_cdc_delta_spark.cdc.control import ControlPlane

        control = ControlPlane(spark, str(tmp_path / "lake"))
        ing = CDCIngestor(
            spark, str(tmp_path / "lake"), control_plane=control
        )
        ing.ingest_batch(
            raw_df(spark, [envelope("c", after={"_id": "a", "n": 1})]),
            batch_id=0,
            now=NOW,
        )
        audit = control.audit_log().collect()
        assert len(audit) == 1
        row = audit[0]
        assert row["actor"] == "cdc-ingestor"
        assert row["action"] == "ingest_batch"
        details = _json.loads(row["details"])
        assert details["batch_id"] == 0
        assert "shop_users" in details["collections"]


class TestParallelCollections:
    def test_parallel_matches_serial(self, spark, tmp_path):
        """One batch of four collections plus a poison event — one group
        write and the DLQ append, run concurrently — lands what four
        single-collection batches (four groups of one) land one by one."""
        colls = ("users", "orders", "items", "carts")
        by_coll = {
            c: [
                envelope("c", coll=c, after={"_id": f"{c}{i}", "n": i})
                for i in range(5)
            ]
            for c in colls
        }
        serial = CDCIngestor(spark, str(tmp_path / "s"))
        for c in colls:
            serial.ingest_batch(raw_df(spark, by_coll[c]), batch_id=0, now=NOW)
        events = [e for c in colls for e in by_coll[c]] + ["{{{not json"]
        par = CDCIngestor(spark, str(tmp_path / "p"))
        p_stats = par.ingest_batch(raw_df(spark, events), batch_id=0, now=NOW)
        assert set(p_stats.collections) == {f"shop_{c}" for c in colls}
        assert p_stats.dlq_rows == 1
        assert par.table("_dlq").read().count() == 1

        def data(ing, name):
            return [
                (r["_id"], r["n"], r["_cdc_operation"])
                for r in ing.table(name).read().orderBy("_id").collect()
            ]

        for name, res in p_stats.collections.items():
            assert res["rows"] == 5 and not res["skipped"]
            assert data(par, name) == data(serial, name)
            assert par.table(name).schema() == serial.table(name).schema()
        # replay is still exactly-once per table and for the DLQ
        p2 = par.ingest_batch(raw_df(spark, events), batch_id=0, now=NOW)
        assert all(r["skipped"] for r in p2.collections.values())
        assert par.table("_dlq").read().count() == 1
        for name in p_stats.collections:
            assert par.table(name).count() == 5


class TestDLQRateGuard:
    def test_overflow_capped_and_counted(self, spark, tmp_path):
        # 20 corrupt events against a 5-row cap: 5 stored, 15 counted
        bad = ["{{{not json %d" % i for i in range(20)]
        ing = CDCIngestor(
            spark, str(tmp_path / "lake"), dlq_max_rows_per_batch=5
        )
        stats = ing.ingest_batch(raw_df(spark, bad), batch_id=0, now=NOW)
        assert stats.dlq_rows == 20
        assert stats.dlq_overflow == 15
        assert ing.table("_dlq").read().count() == 5

    def test_under_cap_untouched(self, spark, tmp_path):
        bad = ["{{{not json %d" % i for i in range(3)]
        ing = CDCIngestor(spark, str(tmp_path / "lake"))
        stats = ing.ingest_batch(raw_df(spark, bad), batch_id=0, now=NOW)
        assert stats.dlq_rows == 3 and stats.dlq_overflow == 0
        assert ing.table("_dlq").read().count() == 3


class TestCurrentTableBloom:
    def test_current_table_gets_key_bloom_property(self, spark, tmp_path):
        ing = CDCIngestor(
            spark, str(tmp_path / "lake"), materialize_current=True
        )
        events = raw_df(spark, [envelope("c", after={"_id": "k1", "n": 1})])
        ing.ingest_batch(events, batch_id=0, now=NOW)
        ing.ingest_batch(
            raw_df(spark, [envelope("u", after={"_id": "k1", "n": 2})]),
            batch_id=1,
            now=NOW,
        )
        props = ing.table("shop_users__current").properties()
        assert props.get("bloom.filter.columns") == "_id"
