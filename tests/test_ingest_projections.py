"""The ingest path's per-batch projections are SQL text.

- Building a batch's plans costs a bounded number of driver→JVM round
  trips (py4j ``send_command`` calls), counted with no Spark action run.
- Field names that are not plain identifiers (dots, backticks) ingest in
  a shared group and in groups of one.
- The cast renderer relaxes ARRAY element and MAP value nullability (SQL
  type text cannot spell them non-null) and keeps everything else.
- Group writes pass the circuit breaker like every other sink write.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

import pytest
from py4j import protocol
from py4j.clientserver import ClientServerConnection
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mongodb_cdc_delta_spark.cdc.pipeline import (
    CDC_META_COLUMNS,
    CDCIngestor,
    _parse_events_full,
    _typed_rows,
    millis_cast_rule,
)
from mongodb_cdc_delta_spark.quality.reliability import (
    CircuitBreaker,
    CircuitOpenError,
)
from mongodb_cdc_delta_spark.schema import cast_to_schema


def _envelope(coll, doc):
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


def _raw(spark, lines):
    raw = spark.createDataFrame([(v,) for v in lines], "value string")
    raw.schema  # fetched once here, outside any counted block
    return raw


_RELEASE = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME


@contextmanager
def _round_trips():
    """Count this thread's py4j commands inside the block. Releases of
    JVM references are left out: Python's garbage collector sends them
    whenever it runs, so they would make the count vary."""
    me = threading.get_ident()
    orig = ClientServerConnection.send_command
    n = [0]

    def counting(self, command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith(_RELEASE):
            n[0] += 1
        return orig(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        yield n
    finally:
        ClientServerConnection.send_command = orig


#: the perfbench ``cdc_stream`` shape-"a" document, as stored
SHAPE_A = StructType(
    [
        StructField("_id", StringType()),
        StructField("v", LongType()),
        StructField("name", StringType()),
        StructField("score", DoubleType()),
        StructField("created", TimestampType()),
        StructField("tags", ArrayType(StringType())),
        StructField(
            "address",
            StructType(
                [
                    StructField("city", StringType()),
                    StructField("zip", StringType()),
                ]
            ),
        ),
    ]
)


def _shape_a_batch(spark):
    docs = [
        {
            "_id": {"$oid": f"65b0a1b2c3d4e5f6012345{i:02d}"},
            "v": i,
            "name": "n",
            "score": 1.5,
            "created": {"$date": 1706054400000},
            "tags": ["t"],
            "address": {"city": "c", "zip": "00001"},
        }
        for i in range(4)
    ]
    return _raw(spark, [_envelope(f"a{i % 2}", d) for i, d in enumerate(docs)])


class TestRoundTripBudget:
    """Ceilings on building (not running) one batch's plans. Before the
    projections were SQL text the parse took ~1,230 round trips and a
    16-column cast ~400 (~1,500 when a field was added)."""

    def test_envelope_parse(self, spark):
        raw = _shape_a_batch(spark)
        with _round_trips() as n:
            _parse_events_full(raw, now="2024-01-24 00:00:00")
        assert n[0] <= 150, n[0]

    def test_grouped_write_projection(self, spark):
        _parsed, clean, _dlq = _parse_events_full(_shape_a_batch(spark))
        meta = StructType([clean.schema[c] for c in CDC_META_COLUMNS])
        parse = StructType(
            [
                StructField(
                    f.name,
                    LongType() if f.name == "created" else f.dataType,
                )
                for f in SHAPE_A.fields
            ]
        )
        target = StructType(list(SHAPE_A.fields) + list(meta.fields))
        route = "concat(`db`, '_', `collection`)"
        with _round_trips() as n:
            rows = _typed_rows(
                clean,
                parse,
                target,
                millis_cast_rule,
                {"__route": (route, StringType())},
            )
        assert n[0] <= 80, n[0]
        assert [f.name for f in rows.schema.fields] == [
            f.name for f in target.fields
        ] + ["__route"]
        assert rows.schema["created"].dataType == TimestampType()

    def test_cast_to_schema_cdc_stream_shape(self, spark):
        meta = StructType(
            [
                StructField("_cdc_timestamp", TimestampType()),
                StructField("_cdc_operation", StringType()),
                StructField("_ingestion_timestamp", TimestampType()),
                StructField("_kafka_offset", LongType()),
                StructField("_kafka_partition", IntegerType()),
                StructField("_kafka_topic", StringType()),
                StructField("_ingestion_date", StringType()),
                StructField("_source_database", StringType()),
                StructField("_source_collection", StringType()),
            ]
        )
        table = StructType(list(SHAPE_A.fields) + list(meta.fields))
        evolved = StructType(
            list(SHAPE_A.fields)
            + [StructField("tier", StringType())]
            + list(meta.fields)
        )
        for target in (table, evolved):
            df = spark.createDataFrame([], table)
            with _round_trips() as n:
                out = cast_to_schema(df, target)
            assert n[0] <= 40, n[0]
            assert out.schema == target


@pytest.mark.parametrize("shared", [True, False])
def test_dotted_and_backticked_field_names_ingest(spark, tmp_path, shared):
    # one group for both collections, or two groups of one
    doc = {"_id": "k", "a.b": 1, "we`ird": 3, "x": {"p.q": 2}}
    lines = [
        _envelope("c0", dict(doc, _id="c0")),
        _envelope("c1", dict(doc, _id="c1", **({} if shared else {"y": 1}))),
    ]
    ing = CDCIngestor(spark, str(tmp_path / "lake"))
    stats = ing.ingest_batch(_raw(spark, lines), batch_id=0)
    assert stats.dlq_rows == 0
    for c in ("c0", "c1"):
        (row,) = ing.table(f"shop_{c}").read().collect()
        assert row["_id"] == c
        assert row["a.b"] == 1
        assert row["we`ird"] == 3
        assert row["x"]["p.q"] == 2


def test_cast_relaxes_only_array_and_map_element_nullability(spark):
    src = StructType(
        [
            StructField("xs", ArrayType(IntegerType(), False), False),
            StructField(
                "m", MapType(StringType(), IntegerType(), False), False
            ),
            StructField(
                "s",
                StructType([StructField("x", IntegerType(), False)]),
                False,
            ),
            StructField("n", IntegerType(), False),
        ]
    )
    df = spark.createDataFrame([([1, 2], {"k": 3}, (4,), 5)], src)
    target = StructType(
        [
            StructField("xs", ArrayType(LongType(), False), False),
            StructField("m", MapType(StringType(), LongType(), False), False),
            StructField(
                "s",
                StructType(
                    [
                        StructField("x", LongType(), False),
                        StructField("y", StringType(), True),
                    ]
                ),
                True,
            ),
            StructField("n", LongType(), False),
        ]
    )
    out = cast_to_schema(df, target)
    got = {f.name: f for f in out.schema.fields}
    # relaxed: SQL type text cannot spell a non-null element or value
    assert got["xs"].dataType == ArrayType(LongType(), True)
    assert got["m"].dataType == MapType(StringType(), LongType(), True)
    # kept: struct field nullability and top-level column nullability
    assert got["s"].dataType == target["s"].dataType
    assert got["n"].nullable is False
    assert got["xs"].nullable is False
    row = out.first()
    assert (row.xs, row.m, row.s.x, row.s.y, row.n) == (
        [1, 2],
        {"k": 3},
        4,
        None,
        5,
    )


def test_open_breaker_rejects_grouped_batch(spark, tmp_path):
    breaker = CircuitBreaker(failure_threshold=1, timeout_seconds=3600.0)
    with pytest.raises(IOError):
        breaker.call(lambda: (_ for _ in ()).throw(IOError("sink down")))
    assert breaker.state == "open"
    ing = CDCIngestor(spark, str(tmp_path / "lake"), circuit_breaker=breaker)
    lines = [
        _envelope(c, {"_id": f"{c}-{i}", "n": i})
        for c in ("c0", "c1")
        for i in range(3)
    ]
    with pytest.raises(CircuitOpenError):
        ing.ingest_batch(_raw(spark, lines), batch_id=0)
    assert not ing.table("shop_c0").exists()
    assert not ing.table("shop_c1").exists()
