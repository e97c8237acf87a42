"""LOCKED merge mode: schema pinned to the live table, no per-batch
variant inference (a schema-governance mode; measured hot-path saving
~6% on small envelopes — see MergeMode.LOCKED's docstring).

Contract under test:
- a LOCKED batch over an existing table produces BIT-EQUAL rows to the
  AUTO path on the same events (including $date in BOTH wire forms —
  epoch-millis and ISO — which AUTO disambiguates via inference and
  LOCKED via the digit-string cast rule);
- unknown fields in incoming documents are ignored (documented LOCKED
  semantics), never evolve the table;
- a collection with no existing table raises a configuration error;
- merge_schemas(LOCKED) raises on any schema difference.
"""

from __future__ import annotations

import json
import time

import pytest

from mongodb_cdc_delta_spark.cdc.pipeline import CDCIngestor
from mongodb_cdc_delta_spark.schema import MergeMode
from mongodb_cdc_delta_spark.schema.types import (
    SchemaEvolutionError,
    merge_schemas,
)
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

# deep ingest e2e: excluded from the fast lane (see pytest.ini)
pytestmark = pytest.mark.slow


def _event(i: int, coll: str = "items", extra: dict | None = None) -> tuple:
    doc = {
        "_id": {"$oid": f"{i:024x}"},
        "n": i,
        "name": f"row{i}",
        "created": {"$date": {"$numberLong": str(1700000000000 + i)}},
        "updated": {"$date": "2024-03-01T12:00:00Z"},
    }
    if extra:
        doc.update(extra)
    return (
        json.dumps(
            {
                "payload": {
                    "op": "c",
                    "ts_ms": int(time.time() * 1000),
                    "source": {"db": "d", "collection": coll},
                    "after": json.dumps(doc),
                }
            }
        ),
    )


def _events_df(spark, lo, hi, **kw):
    return spark.createDataFrame(
        [_event(i, **kw) for i in range(lo, hi)], "value string"
    )


def _rows(t):
    return sorted(
        tuple(r)
        for r in t.read()
        .select("_id", "n", "name", "created", "updated")
        .collect()
    )


class TestLockedMode:
    def test_locked_rows_equal_auto_rows(self, spark, tmp_path):
        auto = CDCIngestor(spark, str(tmp_path / "auto"), mode=MergeMode.AUTO)
        auto.ingest_batch(_events_df(spark, 0, 50), batch_id=0)
        auto.ingest_batch(_events_df(spark, 50, 100), batch_id=1)

        locked_root = str(tmp_path / "locked")
        boot = CDCIngestor(spark, locked_root, mode=MergeMode.AUTO)
        boot.ingest_batch(_events_df(spark, 0, 50), batch_id=0)
        locked = CDCIngestor(spark, locked_root, mode=MergeMode.LOCKED)
        locked.ingest_batch(_events_df(spark, 50, 100), batch_id=1)

        ta, tl = auto.table("d_items"), locked.table("d_items")
        assert tl.schema() == ta.schema()
        assert _rows(tl) == _rows(ta)
        # both $date wire forms landed as real timestamps
        ts_types = {
            f.name: f.dataType.typeName()
            for f in tl.schema().fields
            if f.name in ("created", "updated")
        }
        assert ts_types == {"created": "timestamp", "updated": "timestamp"}

    def test_unknown_fields_are_ignored_not_evolved(self, spark, tmp_path):
        root = str(tmp_path / "lake")
        boot = CDCIngestor(spark, root, mode=MergeMode.AUTO)
        boot.ingest_batch(_events_df(spark, 0, 10), batch_id=0)
        before = boot.table("d_items").schema()

        locked = CDCIngestor(spark, root, mode=MergeMode.LOCKED)
        stats = locked.ingest_batch(
            _events_df(spark, 10, 20, extra={"surprise": "xyz"}),
            batch_id=1,
        )
        t = locked.table("d_items")
        # pinned: same fields, same types (nullability normalizes to
        # True on any post-create merge, same as the AUTO path)
        assert [(f.name, f.dataType) for f in t.schema().fields] == [
            (f.name, f.dataType) for f in before.fields
        ]
        assert "surprise" not in [f.name for f in t.schema().fields]
        assert stats.schema_evolutions == []
        assert t.read().count() == 20

    def test_missing_table_is_a_config_error(self, spark, tmp_path):
        locked = CDCIngestor(
            spark, str(tmp_path / "lake"), mode=MergeMode.LOCKED
        )
        with pytest.raises(ValueError, match="LOCKED mode: no existing"):
            locked.ingest_batch(
                _events_df(spark, 0, 5, coll="never_seen"), batch_id=0
            )

    def test_dlq_still_counted_without_inference(self, spark, tmp_path):
        root = str(tmp_path / "lake")
        CDCIngestor(spark, root, mode=MergeMode.AUTO).ingest_batch(
            _events_df(spark, 0, 5), batch_id=0
        )
        locked = CDCIngestor(spark, root, mode=MergeMode.LOCKED)
        good = [_event(i) for i in range(5, 10)]
        bad = [('{"payload": {"op": "c"}}',)]  # no source/db: CORRUPTED
        df = spark.createDataFrame(good + bad, "value string")
        stats = locked.ingest_batch(df, batch_id=1)
        assert stats.dlq_rows == 1
        assert locked.table("_dlq").read().count() == 1

    def test_merge_schemas_locked_raises_on_difference(self):
        s1 = StructType([StructField("a", LongType(), True)])
        s2 = StructType(
            [
                StructField("a", LongType(), True),
                StructField("b", StringType(), True),
            ]
        )
        assert merge_schemas(s1, s1, MergeMode.LOCKED) == s1
        with pytest.raises(SchemaEvolutionError, match="LOCKED"):
            merge_schemas(s1, s2, MergeMode.LOCKED)

    def test_type_drift_counter(self, spark, tmp_path):
        # ADVICE r6: a producer drifting an existing field's TYPE (string
        # where the table has long) must not be silent — the rows land
        # (value nulled by the pinned parse) and the batch reports the
        # affected row count per table.
        root = str(tmp_path / "lake")
        boot = CDCIngestor(spark, root, mode=MergeMode.AUTO)
        boot.ingest_batch(_events_df(spark, 0, 10), batch_id=0)

        locked = CDCIngestor(spark, root, mode=MergeMode.LOCKED)
        good = [_event(i) for i in range(10, 15)]
        drifted = [
            _event(i, extra={"n": f"not-a-number-{i}"})
            for i in range(15, 18)
        ]
        df = spark.createDataFrame(good + drifted, "value string")
        stats = locked.ingest_batch(df, batch_id=1)

        assert stats.type_drift_rows == {"d_items": 3}
        t = locked.table("d_items")
        assert t.read().count() == 18
        # drifted rows landed with n nulled, schema unchanged
        assert t.read().where("n IS NULL").count() == 3
        assert stats.schema_evolutions == []

        # a clean LOCKED batch reports nothing
        stats2 = locked.ingest_batch(
            _events_df(spark, 18, 22), batch_id=2
        )
        assert stats2.type_drift_rows == {}

        # replayed (skipped) txn: no job runs, counter stays empty and
        # the observation read must not hang
        stats3 = locked.ingest_batch(
            _events_df(spark, 18, 22), batch_id=2
        )
        assert stats3.type_drift_rows == {}

    def test_two_table_batch_shares_one_job(self, spark, tmp_path):
        # both tables agree on schema, so they form one group: one write
        # job, whose observation counts each table's drift on its own
        root = str(tmp_path / "lake")
        boot = CDCIngestor(spark, root, mode=MergeMode.AUTO)
        boot.ingest_batch(
            spark.createDataFrame(
                [_event(i, coll=c) for c in ("items", "parts") for i in range(5)],
                "value string",
            ),
            batch_id=0,
        )
        locked = CDCIngestor(spark, root, mode=MergeMode.LOCKED)
        groups = []
        write_group = locked._write_group
        locked._write_group = lambda clean, members, batch_id: (
            groups.append([m["table_name"] for m in members])
            or write_group(clean, members, batch_id)
        )
        events = (
            [_event(i, coll="items") for i in range(5, 8)]
            + [_event(8, coll="items", extra={"n": "drifted"})]
            + [_event(i, coll="parts", extra={"n": f"x{i}"}) for i in range(5, 8)]
        )
        stats = locked.ingest_batch(
            spark.createDataFrame(events, "value string"), batch_id=1
        )
        assert groups == [["d_items", "d_parts"]]
        assert stats.type_drift_rows == {"d_items": 1, "d_parts": 3}
        assert locked.table("d_items").count() == 9
        assert locked.table("d_parts").count() == 8
        assert stats.schema_evolutions == []

    def test_locked_parse_schema_recurses_maps(self):
        # ADVICE r6: map<_, timestamp> must parse as map<_, string> so
        # the digit-string cast rule sees the wire token
        from pyspark.sql.types import MapType, TimestampType
        from mongodb_cdc_delta_spark.cdc.pipeline import (
            locked_parse_schema,
        )

        pinned = StructType(
            [
                StructField(
                    "m",
                    MapType(StringType(), TimestampType(), True),
                    True,
                ),
                StructField("t", TimestampType(), True),
            ]
        )
        got = locked_parse_schema(pinned)
        assert got["m"].dataType == MapType(
            StringType(), StringType(), True
        )
        assert got["t"].dataType == StringType()

    def test_timestamp_drift_is_counted_not_fatal(self, spark, tmp_path):
        # r7 review: a pinned TIMESTAMP field parses as string, so
        # from_json can't null it — drift shows only at the CAST. The
        # probe compares wire vs the FINAL value, and the cast is
        # try_cast so garbage degrades to counted NULL instead of an
        # ANSI raise that kills the whole batch.
        root = str(tmp_path / "lake")
        boot = CDCIngestor(spark, root, mode=MergeMode.AUTO)
        boot.ingest_batch(_events_df(spark, 0, 10), batch_id=0)

        locked = CDCIngestor(spark, root, mode=MergeMode.LOCKED)
        good = [_event(i) for i in range(10, 14)]
        drifted = [
            _event(
                i,
                extra={"created": f"not a timestamp {i}"},
            )
            for i in range(14, 17)
        ]
        df = spark.createDataFrame(good + drifted, "value string")
        stats = locked.ingest_batch(df, batch_id=1)
        assert stats.type_drift_rows == {"d_items": 3}
        t = locked.table("d_items")
        assert t.read().count() == 17
        assert t.read().where("created IS NULL").count() == 3
        # valid rows still carry real timestamps in both wire forms
        assert (
            t.read().where("created IS NOT NULL").count() == 14
        )

    def test_locked_map_timestamp_values_convert(self, spark):
        # r7 review: the cast renderer previously fell through to a plain
        # CAST for MapType, bypassing locked_cast_rule — epoch-millis
        # map values then raised under ANSI. Pin the full cast path:
        # map<string,string> wire values -> map<string,timestamp>.
        from mongodb_cdc_delta_spark.cdc.pipeline import locked_cast_rule
        from mongodb_cdc_delta_spark.schema.types import cast_to_schema
        from pyspark.sql.types import (
            MapType,
            StructField as SF,
            StructType as ST,
            TimestampType,
        )

        df = spark.createDataFrame(
            [
                (
                    {
                        "a": "1700000000000",
                        "b": "2024-03-01 12:00:00",
                        "c": "garbage",
                    },
                )
            ],
            ST([SF("m", MapType(StringType(), StringType(), True), True)]),
        )
        target = ST(
            [SF("m", MapType(StringType(), TimestampType(), True), True)]
        )
        out = cast_to_schema(df, target, scalar_rule=locked_cast_rule)
        row = out.collect()[0]["m"]
        assert row["a"] is not None and row["a"].year == 2023
        assert row["b"] is not None and row["b"].year == 2024
        assert row["c"] is None  # drifted value degrades, never raises
