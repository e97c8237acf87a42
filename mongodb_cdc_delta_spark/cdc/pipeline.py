"""Debezium CDC event pipeline: raw Kafka value → per-collection lake tables.

Re-expresses the reference's delta-writer data plane as one declarative
DataFrame transformation per micro-batch (reference lifecycle §3.1:
event_handler.py parse/classify/extract, bson_to_delta.py normalization,
batch_processor.py routing, delta_writer.py write):

- envelope parse: single typed ``from_json`` for scalars + ``get_json_object``
  for the document body, which uniformly handles Debezium-Mongo's
  string-encoded ``after`` and the inline-object fixture shape
  (reference tests/contract/test_debezium_events.py:20-56)
- op classify c/r→insert, u→update, d→delete, unknown→dropped
  (reference event_handler.py:102-124)
- document extract: after for insert/update, before-else-key for delete
  (reference event_handler.py:126-166)
- Mongo extended-JSON normalization ($oid/$date/$numberX/$binary) as
  vectorized regexp rewrites on the JSON text — the whole-stage-codegen
  equivalent of the reference's per-value Python recursion
  (reference bson_to_delta.py:24-84)
- CDC metadata columns (reference event_handler.py:168-214,
  schema_inferrer.py:463-501)
- dirty-data / oversize / stale policies → DLQ with the reference's reason
  enum (reference dlq_writer.py:24-34, spec FR-015/FR-024/FR-056)
- per-collection schema inference via ``schema_of_variant_agg`` (one JVM
  aggregate, no Python loop — replaces schema_inferrer.py:62-125), widened
  against the live table schema (schema/types.py), then an idempotent
  transactional append (sinks/table.py)

Scale notes: everything before the write is one shuffle-free narrow pipeline
over the Kafka batch; the only driver-side loop is over *distinct
collections* in the batch (bounded by topic count, not rows). Schema
inference is a JVM aggregate per collection. At 1000 executors this is scan →
filter → append, exactly what the 10k events/s/collection target
(BASELINE.md) wants.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from enum import Enum
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..schema import MergeMode, merge_schemas
from ..schema.types import (
    SchemaEvolutionError,
    ddl,
    projection_sql,
    quote,
    sql_str,
)
from ..sinks.table import LakeTable

MAX_DOCUMENT_BYTES = 16 * 1024 * 1024  # MongoDB's 16 MB document cap
STALE_DAYS_DEFAULT = 7  # spec FR-024 (spec.md:302-305)
#: group write task sizing: one write task per ~this many clean rows, so
#: a small group is ONE task (and one file per table) while a large
#: backlog still fans out; per-task overhead, not data, dominated batch
#: wall time when every slice inherited the source partition count
#: (the routed-lane headroom fix, r10)
ROWS_PER_WRITE_TASK = 20_000

#: CDC metadata columns appended to every table
#: (reference schema_inferrer.py:463-501, event_handler.py:200-213)
CDC_META_COLUMNS = [
    "_cdc_timestamp",
    "_cdc_operation",
    "_ingestion_timestamp",
    "_kafka_offset",
    "_kafka_partition",
    "_kafka_topic",
    "_ingestion_date",
    "_source_database",
    "_source_collection",
]


class DLQReason(str, Enum):
    """Verbatim from reference dlq_writer.py:24-34, plus the spec'd
    stale-event policy (FR-024)."""

    MAX_RETRIES_EXCEEDED = "max_retries_exceeded"
    CORRUPTED_DATA = "corrupted_data"
    SCHEMA_VALIDATION_FAILED = "schema_validation_failed"
    OVERSIZED_DOCUMENT = "oversized_document"
    INVALID_BSON = "invalid_bson"
    TRANSFORMATION_ERROR = "transformation_error"
    MINIO_ERROR = "minio_error"
    DELTA_WRITE_ERROR = "delta_write_error"
    UNHANDLED_EXCEPTION = "unhandled_exception"
    STALE_EVENT = "stale_event"


DLQ_SCHEMA = StructType(
    [
        StructField("original_event", StringType(), True),
        StructField("reason", StringType(), True),
        StructField("error_message", StringType(), True),
        StructField("source_topic", StringType(), True),
        StructField("partition", LongType(), True),
        StructField("offset", LongType(), True),
        StructField("retry_count", LongType(), True),
        StructField("_ingestion_timestamp", TimestampType(), True),
    ]
)

# typed scalar extraction — one parse; after/before handled separately
ENVELOPE_SCHEMA = StructType(
    [
        StructField(
            "payload",
            StructType(
                [
                    StructField("op", StringType(), True),
                    StructField("ts_ms", LongType(), True),
                    StructField(
                        "source",
                        StructType(
                            [
                                StructField("db", StringType(), True),
                                StructField("collection", StringType(), True),
                                StructField("snapshot", StringType(), True),
                                StructField("ts_ms", LongType(), True),
                            ]
                        ),
                        True,
                    ),
                ]
            ),
            True,
        )
    ]
)


#: MongoDB extended-JSON wrappers → plain JSON scalars, as (Java regex,
#: replacement) pairs applied in order to the document text
EXTENDED_JSON_REWRITES = [
    # {"$oid": "24-hex"} → "24-hex"
    (r'\{\s*"\$oid"\s*:\s*("[0-9a-fA-F]{24}")\s*\}', r"$1"),
    # {"$date": {"$numberLong": "123"}} → 123 (epoch millis)
    (
        r'\{\s*"\$date"\s*:\s*\{\s*"\$numberLong"\s*:\s*"(-?\d+)"\s*\}\s*\}',
        r"$1",
    ),
    # {"$date": "ISO8601"} → "ISO8601"
    (r'\{\s*"\$date"\s*:\s*("[^"]*")\s*\}', r"$1"),
    # {"$date": 123} → 123 (legacy bare epoch-millis form; refine_bson_markers
    # already types it (timestamp, long))
    (r'\{\s*"\$date"\s*:\s*(-?\d+)\s*\}', r"$1"),
    # {"$numberLong|Int": "123"} → 123
    (r'\{\s*"\$number(?:Long|Int)"\s*:\s*"(-?\d+)"\s*\}', r"$1"),
    # {"$numberDouble|Decimal": "1.5"} → 1.5 — the exponent sign group
    # matters: "1.5e-3" must unwrap too, or from_json sees an object where
    # the parse schema expects a double and silently nulls the field.
    # NaN/±Infinity pass through unquoted: from_json's Jackson parser
    # accepts non-numeric doubles (the inference path never sees them —
    # it reads the RAW wrapper text, which is valid JSON).
    (
        r'\{\s*"\$number(?:Double|Decimal)"\s*:\s*'
        r'"(-?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?|NaN|-?Infinity)"\s*\}',
        r"$1",
    ),
    # {"$binary": {"base64": "...", "subType": "xx"}} → base64 string
    (
        r'\{\s*"\$binary"\s*:\s*\{\s*"base64"\s*:\s*("[^"]*")\s*,\s*'
        r'"subType"\s*:\s*"[^"]*"\s*\}\s*\}',
        r"$1",
    ),
    # {"$uuid": "xxxx-..."} → "xxxx-..." (canonical string form)
    (r'\{\s*"\$uuid"\s*:\s*("[0-9a-fA-F-]{36}")\s*\}', r"$1"),
    # {"$timestamp": {"t": secs, "i": ordinal}} → secs (BSON internal
    # timestamp; the reference's unknown-type fallback would stringify it —
    # epoch seconds preserve orderability instead)
    (
        r'\{\s*"\$timestamp"\s*:\s*\{\s*"t"\s*:\s*(\d+)\s*,\s*"i"\s*:\s*\d+'
        r"\s*\}\s*\}",
        r"$1",
    ),
]


def normalize_extended_json(expr: str) -> str:
    """SQL text rewriting MongoDB extended-JSON wrappers in the string
    ``expr`` to plain JSON scalars, as vectorized regexes over the document
    text (reference bson_to_delta.py:24-84 does this per-value in Python:
    ObjectId→hex string, Decimal128→decimal, Binary→base64 string,
    $date→timestamp millis)."""
    for pattern, repl in EXTENDED_JSON_REWRITES:
        expr = f"regexp_replace({expr}, {sql_str(pattern)}, {sql_str(repl)})"
    return expr


#: the clean document text with its extended-JSON wrappers unwrapped; the
#: regex chain runs only on documents that carry a wrapper at all
NORMALIZED_DOC = (
    f"CASE WHEN contains(`doc`, '\"$') "
    f"THEN {normalize_extended_json('`doc`')} ELSE `doc` END"
)

#: a parsed event that reaches a table: not dead-lettered, known op
CLEAN_ROW = "`_dlq_reason` IS NULL AND `_cdc_operation` IS NOT NULL"


def _vget(path: str, typ: str) -> str:
    return f"try_variant_get(`__v`, {sql_str(path)}, {sql_str(typ)})"


def _vdoc(path: str) -> str:
    """Document body as a JSON string: Debezium-Mongo string-encodes
    after/before (variant string → cast), fixture shapes inline the
    object (variant object → to_json); one coalesce covers both."""
    node = _vget(path, "variant")
    return (
        f"coalesce({_vget(path, 'string')}, "
        f"CASE WHEN {node} IS NOT NULL THEN to_json({node}) END)"
    )


def parse_events(
    raw_df: DataFrame,
    now=None,
    stale_days: int = STALE_DAYS_DEFAULT,
    max_doc_bytes: int = MAX_DOCUMENT_BYTES,
) -> tuple[DataFrame, DataFrame]:
    """Split a raw event batch into (clean, dlq).

    clean: db, collection, doc (normalized JSON string) + CDC_META_COLUMNS.
    dlq:   DLQ_SCHEMA rows (corrupted / oversized / stale).
    Unknown ops are dropped, matching the reference (event_handler.py:121-124
    returns None → skip, not DLQ).
    """
    _parsed, clean, dlq = _parse_events_full(
        raw_df, now=now, stale_days=stale_days, max_doc_bytes=max_doc_bytes
    )
    return clean, dlq


def _parse_events_full(
    raw_df: DataFrame,
    now=None,
    stale_days: int = STALE_DAYS_DEFAULT,
    max_doc_bytes: int = MAX_DOCUMENT_BYTES,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``parse_events`` plus the shared parsed parent frame.

    ``ingest_batch`` persists the PARENT so the clean branch (inference +
    append) and the dlq branch (count + append) both read one cached parse —
    caching only ``clean`` would make ``dlq.count()`` re-parse every raw
    envelope a second time (measured ~15% of batch wall time).

    ``raw_df`` is either a Kafka source frame (topic/partition/offset
    present) or a bare ``value`` frame (file source in tests). Offset-less
    sources get synthetic per-partition offsets (monotonic in read order)
    so intra-batch per-key ordering — which Kafka guarantees via offsets —
    holds for file replay too (current-state materialization and
    ``current_state`` order on ``_kafka_offset``). ``now`` is a timestamp
    string in the session time zone (default: the query's current time).

    Optional provenance channel: when the raw frame carries ``__src_db`` /
    ``__src_coll`` columns (the snapshot bulk loader knows every line's
    collection from file discovery), they back-fill db/collection for rows
    whose ENVELOPE failed to parse — so a corrupt line dead-letters
    attributed to its collection instead of the (null, null) residue
    bucket (r9 verdict #6).

    Every projection is SQL text sent in one ``selectExpr``/``where``
    call: the plan costs a few driver round trips, not one per node."""
    now_sql = (
        f"CAST({sql_str(str(now))} AS TIMESTAMP)"
        if now is not None
        else "current_timestamp()"
    )
    cols = set(raw_df.columns)
    if "value" not in cols:
        raise ValueError("raw event frame must have a `value` column")
    src = [
        "CAST(`value` AS STRING) AS `value`",
        "`topic`" if "topic" in cols else "CAST(NULL AS STRING) AS `topic`",
        "`partition`"
        if "partition" in cols
        else "spark_partition_id() AS `partition`",
        "`offset`"
        if "offset" in cols
        else "monotonically_increasing_id() AS `offset`",
        # ONE JSON parse per event: the envelope lands in a variant column
        # and every field is a cheap variant extraction (the previous
        # from_json + 3x get_json_object formulation re-parsed the full
        # event text 4x)
        "try_parse_json(CAST(`value` AS STRING)) AS `__v`",
    ]
    db = _vget("$.payload.source.db", "string")
    coll = _vget("$.payload.source.collection", "string")
    if "__src_db" in cols:
        src.append("`__src_db`")
        db = f"coalesce({db}, `__src_db`)"
    if "__src_coll" in cols:
        src.append("`__src_coll`")
        coll = f"coalesce({coll}, `__src_coll`)"
    kafka = ["`value`", "`topic`", "`partition`", "`offset`"]
    fields = raw_df.selectExpr(*src).selectExpr(
        *kafka,
        f"{db} AS `db`",
        f"{coll} AS `collection`",
        f"{_vget('$.payload.op', 'string')} AS `op_raw`",
        f"{_vdoc('$.payload.after')} AS `after`",
        f"{_vdoc('$.payload.before')} AS `before`",
        # key-only delete doc: Debezium string-encodes payload._id (the
        # string CONTENT is raw JSON, quotes included), so the string cast
        # is used verbatim; non-string variants (inline numbers/objects)
        # re-serialize
        f"coalesce({_vget('$.payload._id', 'string')}, "
        f"to_json({_vget('$.payload._id', 'variant')})) AS `key`",
        f"timestamp_millis(coalesce({_vget('$.payload.ts_ms', 'long')}, "
        f"{_vget('$.payload.source.ts_ms', 'long')})) AS `_cdc_timestamp`",
    )
    parsed = fields.selectExpr(
        *kafka,
        "`db`",
        "`collection`",
        "`op_raw`",
        "CASE WHEN `op_raw` IN ('c', 'r') THEN 'insert' "
        "WHEN `op_raw` = 'u' THEN 'update' "
        "WHEN `op_raw` = 'd' THEN 'delete' END AS `_cdc_operation`",
        "CASE WHEN `op_raw` IN ('c', 'r', 'u') THEN `after` "
        "WHEN `op_raw` = 'd' THEN coalesce(`before`, CASE WHEN `key` IS NOT "
        "NULL THEN concat('{\"_id\": ', `key`, '}') END) END AS `doc`",
        "`_cdc_timestamp`",
    ).selectExpr(
        "*",
        f"CASE WHEN length(`value`) > {int(max_doc_bytes)} "
        f"THEN {sql_str(DLQReason.OVERSIZED_DOCUMENT.value)} "
        "WHEN `db` IS NULL OR `collection` IS NULL OR `op_raw` IS NULL "
        f"THEN {sql_str(DLQReason.CORRUPTED_DATA.value)} "
        "WHEN `_cdc_operation` IS NOT NULL AND `doc` IS NULL "
        f"THEN {sql_str(DLQReason.CORRUPTED_DATA.value)} "
        f"WHEN `_cdc_timestamp` < {now_sql} - "
        f"make_dt_interval({int(stale_days)}) "
        f"THEN {sql_str(DLQReason.STALE_EVENT.value)} END AS `_dlq_reason`",
    )

    # doc stays RAW here: schema inference reads the extended-JSON wrapper
    # markers ($oid/$date/...) to assign real lake types (timestamp, not
    # millis-long); normalization happens at parse time in ingest_batch
    clean = parsed.where(CLEAN_ROW).selectExpr(
        "`db`",
        "`collection`",
        "`doc`",
        "`_cdc_timestamp`",
        "`_cdc_operation`",
        f"{now_sql} AS `_ingestion_timestamp`",
        "`offset` AS `_kafka_offset`",
        "CAST(`partition` AS INT) AS `_kafka_partition`",
        "`topic` AS `_kafka_topic`",
        f"date_format({now_sql}, 'yyyy-MM-dd') AS `_ingestion_date`",
        "`db` AS `_source_database`",
        "`collection` AS `_source_collection`",
    )
    dlq = parsed.where("`_dlq_reason` IS NOT NULL").selectExpr(
        "`value` AS `original_event`",
        "`_dlq_reason` AS `reason`",
        "CAST(NULL AS STRING) AS `error_message`",
        "`topic` AS `source_topic`",
        "CAST(`partition` AS BIGINT) AS `partition`",
        "`offset`",
        "CAST(0 AS BIGINT) AS `retry_count`",
        f"{now_sql} AS `_ingestion_timestamp`",
    )
    return parsed, clean, dlq


def infer_collections(parsed: DataFrame, infer_schema: bool = True) -> list:
    """ONE aggregate job over a parsed batch: per (db, collection), its
    clean row count ``n_clean``, its dead-letter count ``n_dlq`` and,
    unless ``infer_schema`` is off (LOCKED), ``ddl``: the
    ``schema_of_variant_agg`` of its clean RAW documents (one JVM
    aggregate, no per-document Python fold; see ``doc_schemas``)."""
    aggs = [
        f"sum(CAST({CLEAN_ROW} AS INT)) AS `n_clean`",
        "sum(CASE WHEN `_dlq_reason` IS NOT NULL THEN 1 ELSE 0 END) "
        "AS `n_dlq`",
    ]
    if infer_schema:
        aggs.insert(
            0,
            "schema_of_variant_agg(try_parse_json(CASE WHEN "
            f"{CLEAN_ROW} THEN `doc` END)) AS `ddl`",
        )
    return (
        parsed.groupBy("db", "collection")
        .agg(*[F.expr(a) for a in aggs])
        .collect()
    )


def doc_schemas(
    inferred: str | None,
) -> tuple[StructType, StructType] | None:
    """(target, parse) schemas for one collection from the type text
    ``infer_collections`` inferred for it; None when the batch held no
    parseable document."""
    if inferred is None or not inferred.startswith("OBJECT<"):
        return None
    raw = StructType.fromDDL(inferred.replace("OBJECT<", "STRUCT<"))
    # wrapper markers → real lake types (target) + the physical
    # post-normalization types (parse)
    return refine_bson_markers(_decimals_to_double(raw))


def _decimals_to_double(t):
    """JSON fractional numbers are BSON doubles (reference bson_to_delta.py
    maps double→float64); variant inference yields DECIMAL — normalize.
    Scale-0 decimals included: variant only emits DECIMAL when the literal
    had a decimal point (`-74.0` → decimal(2,0)); pure integers are BIGINT."""
    from pyspark.sql.types import ArrayType, DecimalType, DoubleType

    if isinstance(t, DecimalType):
        return DoubleType()
    if isinstance(t, ArrayType):
        return ArrayType(_decimals_to_double(t.elementType), True)
    if isinstance(t, StructType):
        return StructType(
            [
                StructField(f.name, _decimals_to_double(f.dataType), True)
                for f in t.fields
            ]
        )
    return t


def refine_bson_markers(t):
    """Map extended-JSON wrapper structs in a RAW-doc inferred schema to the
    reference's BSON→lake types (bson_to_delta.py:42-84: ObjectId→string,
    datetime→timestamp, Decimal128→numeric, Binary→base64 string).

    Returns (target_type, parse_type): target is the stored type; parse is
    the physical type `normalize_extended_json` leaves in the JSON text
    ($date millis → long parsed then cast to timestamp; $date ISO → string
    that from_json parses into timestamp directly).

    Also resolves the schemaless edge cases (SURVEY §7.3, reference
    bson_to_delta.py:130-147): all-empty arrays (element VOID) →
    array<string>; empty structs → string (parquet rejects zero-field
    structs; the string keeps the '{}' payload); bare VOID → string."""
    from pyspark.sql.types import (
        ArrayType,
        DataType,
        DoubleType,
        NullType,
    )

    if isinstance(t, NullType):
        return StringType(), StringType()
    if isinstance(t, StructType):
        if not t.fields:  # empty struct: parquet can't store it
            return StringType(), StringType()
        names = {f.name for f in t.fields}
        inner = {f.name: f.dataType for f in t.fields}
        if names == {"$oid"} or names == {"$uuid"}:
            return StringType(), StringType()
        if names == {"$date"}:
            v = inner["$date"]
            if isinstance(v, StructType):  # {"$date": {"$numberLong": "..."}}
                return TimestampType(), LongType()
            if isinstance(v, StringType):  # ISO-8601 form
                return TimestampType(), TimestampType()
            return TimestampType(), LongType()  # numeric millis
        if names == {"$numberLong"} or names == {"$numberInt"}:
            return LongType(), LongType()
        if names == {"$numberDouble"} or names == {"$numberDecimal"}:
            return DoubleType(), DoubleType()
        if names == {"$binary"}:
            return StringType(), StringType()
        if names == {"$timestamp"}:
            return LongType(), LongType()
        tgt_fields, parse_fields = [], []
        for f in t.fields:
            tgt, prs = refine_bson_markers(f.dataType)
            tgt_fields.append(StructField(f.name, tgt, True))
            parse_fields.append(StructField(f.name, prs, True))
        return StructType(tgt_fields), StructType(parse_fields)
    if isinstance(t, ArrayType):
        tgt, prs = refine_bson_markers(t.elementType)
        return ArrayType(tgt, True), ArrayType(prs, True)
    return t, t


def millis_cast_rule(expr, src, dst):
    """Scalar cast override for cast_to_schema: long→timestamp means epoch
    millis in CDC data (Debezium convention), not Spark CAST's seconds."""
    if isinstance(src, LongType) and isinstance(dst, TimestampType):
        return f"timestamp_millis({expr})"
    return None


def locked_parse_schema(t):
    """Parse schema for LOCKED mode, derived from the TARGET schema alone
    (no inference saw the wire form): every timestamp parses as STRING —
    after normalize_extended_json a $date is either a bare millis number
    or an ISO string, and from_json coerces both JSON tokens to string —
    then `locked_cast_rule` disambiguates by shape. Everything else
    parses as its target type directly. Recurses through every container
    type that can carry a timestamp — struct, array, AND map (ADVICE r6:
    a pinned map<_, timestamp> previously kept TimestampType in the
    parse schema, so epoch-millis wire forms silently nulled)."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(t, TimestampType):
        return StringType()
    if isinstance(t, StructType):
        return StructType(
            [
                StructField(f.name, locked_parse_schema(f.dataType), True)
                for f in t.fields
            ]
        )
    if isinstance(t, ArrayType):
        return ArrayType(locked_parse_schema(t.elementType), True)
    if isinstance(t, MapType):
        # JSON map keys are always strings on the wire; only the value
        # type can hide a timestamp
        return MapType(t.keyType, locked_parse_schema(t.valueType), True)
    return t


def locked_cast_rule(expr, src, dst):
    """millis_cast_rule plus the LOCKED string→timestamp disambiguation:
    an all-digits string is epoch millis, anything else is a datetime
    literal (ISO-8601 forms) via try_cast — a producer drifting a pinned
    timestamp field to garbage must degrade to NULL (which the post-cast
    type-drift probe COUNTS) rather than raise mid-batch under ANSI and
    take every collection in the micro-batch down with it."""
    got = millis_cast_rule(expr, src, dst)
    if got is not None:
        return got
    if isinstance(src, StringType) and isinstance(dst, TimestampType):
        return (
            f"CASE WHEN {expr} RLIKE '^-?[0-9]+$' "
            f"THEN timestamp_millis(CAST({expr} AS BIGINT)) "
            f"ELSE TRY_CAST({expr} AS TIMESTAMP) END"
        )
    return None


def _meta_schema(clean: DataFrame) -> StructType:
    """The CDC metadata fields as ``clean`` types them."""
    return StructType([clean.schema[c] for c in CDC_META_COLUMNS])


def _typed_rows(
    sub: DataFrame,
    parse_schema: StructType,
    target: StructType,
    scalar_rule,
    extra: dict | None = None,
) -> DataFrame:
    """A collection slice of ``clean`` as table rows, in two projections
    of SQL text: the normalized document parsed with ``parse_schema`` into
    one struct, then every ``target`` field (document fields, then CDC
    metadata) cast by name, followed by each ``extra`` column
    (name → (SQL over ``sub``, type)) passed through."""
    extra = extra or {}
    parsed = sub.selectExpr(
        f"from_json({NORMALIZED_DOC}, {sql_str(ddl(parse_schema))}) AS `__d`",
        *[quote(c) for c in CDC_META_COLUMNS],
        *[f"{e} AS {quote(n)}" for n, (e, _t) in extra.items()],
    )
    # from_json types the struct as parse_schema with every level
    # nullable, which is how refine_bson_markers and locked_parse_schema
    # build it; the metadata fields of target are clean's own
    sources = {
        f.name: (f"`__d`.{quote(f.name)}", f.dataType)
        for f in parse_schema.fields
    }
    for f in target.fields:
        if f.name in CDC_META_COLUMNS:
            sources[f.name] = (quote(f.name), f.dataType)
    passthrough = [StructField(n, t) for n, (_e, t) in extra.items()]
    for f in passthrough:
        sources[f.name] = (quote(f.name), f.dataType)
    out = StructType(list(target.fields) + passthrough)
    return parsed.selectExpr(*projection_sql(sources, out, scalar_rule))


@dataclass
class IngestStats:
    collections: dict[str, dict[str, Any]] = field(default_factory=dict)
    dlq_rows: int = 0
    #: rows beyond the per-batch DLQ cap that were counted but not stored
    dlq_overflow: int = 0
    #: dead-letter counts attributed per source, keyed "db.collection";
    #: rows whose envelope carried no recoverable source (and no
    #: provenance channel backfilled one) land under "_unattributed".
    #: Sum always equals dlq_rows. (r9 verdict #6 / ADVICE #5.)
    dlq_by_collection: dict[str, int] = field(default_factory=dict)
    dropped_unknown_ops: int = 0
    #: tables whose stored schema widened this batch (reference
    #: prometheus_metrics.py schema-evolution counter)
    schema_evolutions: list[str] = field(default_factory=list)
    #: LOCKED mode only (ADVICE r6): per table, rows where a pinned
    #: top-level field was PRESENT on the wire but parsed to NULL under
    #: the pinned type (value-level type drift — e.g. a producer starts
    #: sending strings where the table has long). LOCKED never evolves
    #: the table, so without this counter that drift is silent NULL
    #: data loss; with it, governance can alert on the first bad batch.
    type_drift_rows: dict[str, int] = field(default_factory=dict)


class CDCIngestor:
    """Per-collection CDC batch writer over a lake root directory; one
    LakeTable per `{db}_{collection}` (reference event_consumer.py:232-247
    table URIs) plus a `_dlq` table (reference dlq_writer.py)."""

    def __init__(
        self,
        spark: SparkSession,
        lake_root: str,
        mode: MergeMode = MergeMode.AUTO,
        stale_days: int = STALE_DAYS_DEFAULT,
        partition_by: tuple[str, ...] = ("_ingestion_date",),
        retry_config=None,
        circuit_breaker=None,
        materialize_current: bool = False,
        key_col: str = "_id",
        control_plane=None,
        dlq_max_rows_per_batch: int = 10_000,
    ):
        import os

        from ..quality.reliability import RetryConfig
        from ..sinks.txn import recover as _txn_recover

        self.spark = spark
        self.lake_root = lake_root
        # roll forward any group txn a previous process left mid-
        # finalize (manifest present ⇒ the batch MUST complete), and
        # sweep stage dirs orphaned by a crash before prepare()
        self._txn_dir = os.path.join(lake_root, "_txn")
        self._txn_stage_dir = os.path.join(lake_root, "_txn_stage")
        _txn_recover(spark, self._txn_dir)
        self._sweep_stale_stages()
        self.mode = mode
        self.stale_days = stale_days
        self.partition_by = list(partition_by)
        self.retry_config = retry_config or RetryConfig()
        self.circuit_breaker = circuit_breaker
        #: reference dlq_writer rate limit analogue (10k/min → per-batch)
        self.dlq_max_rows_per_batch = dlq_max_rows_per_batch
        #: optional ControlPlane: each ingest batch writes ONE audit entry
        #: (per-collection row/dlq stats as JSON details) — the reference
        #: audits every management op (api/src/routers/admin.py:148-185);
        #: here the data plane self-reports its writes the same way
        self.control_plane = control_plane
        #: SURVEY §1.4: the append log is primary; optionally each batch
        #: also MERGEs the latest row per key into a `<table>__current`
        #: table (upsert for insert/update, key removal for delete) — the
        #: standard Spark CDC materialized current-state view.
        self.materialize_current = materialize_current
        self.key_col = key_col

    def _guarded(self, write):
        """Run one sink write — a table append or a grouped write attempt —
        under retry (transient + schema errors, reference
        error_handler.py R1 + delta_writer.py:166-201 R3) and the optional
        circuit breaker (R2): every attempt passes the breaker."""
        from ..quality.reliability import (
            is_retryable,
            is_schema_error,
            retry_call,
        )
        from ..sinks.table import ConcurrentWriteError

        def attempt():
            if self.circuit_breaker is not None:
                return self.circuit_breaker.call(write)
            return write()

        return retry_call(
            attempt,
            self.retry_config,
            # lost optimistic-concurrency races re-replay the log and retry
            retry_if=lambda e: isinstance(e, ConcurrentWriteError)
            or is_retryable(e)
            or is_schema_error(e),
        )

    def table(self, name: str) -> LakeTable:
        import os

        return LakeTable(self.spark, os.path.join(self.lake_root, name))

    def ingest_batch(
        self,
        raw_df: DataFrame,
        batch_id: int | None = None,
        now=None,
        dlq_app_id: str = "cdc-_dlq",
    ) -> IngestStats:
        """Process one micro-batch: parse → split → route → append.

        Idempotent under retries when batch_id is given (foreachBatch
        exactly-once: txn app_id per table + batch_id as txn version).
        ``dlq_app_id`` namespaces the shared ``_dlq`` table's txn marker:
        callers that split ONE logical batch_id across several
        ingest_batch calls (one ``snapshot_load`` per collection) must
        pass distinct ids, or the second call's DLQ append is skipped as
        an already-committed replay.
        """
        stats = IngestStats()
        # ONE cached parse: both branches (clean → inference + append, dlq →
        # count + append) read the persisted parsed parent, so each raw
        # envelope's variant parse runs exactly once per batch
        parsed, clean, dlq = _parse_events_full(
            raw_df, now=now, stale_days=self.stale_days
        )
        parsed = parsed.persist()
        try:
            # ONE aggregate job yields every collection in the batch, its
            # inferred doc schema, AND the DLQ row count (vs. one distinct
            # + one inference job per collection + a separate dlq.count()):
            # at N collections this is 1 pass over the batch, not N+2.
            # Per-batch job count is the throughput ceiling when many
            # pipelines share one driver (each job is a driver-serialized
            # round trip), so the hot path keeps it minimal.
            # LOCKED: the schema is pinned to each live table, so the
            # variant-inference aggregate is replaced by a plain count
            # rollup (discovery + DLQ count). The batch's dominant cost —
            # materializing the envelope parse — is shared by both modes,
            # so the measured saving is ~6% on small envelopes, growing
            # with document size/nesting; the real point of LOCKED is
            # schema GOVERNANCE: no producer drift can evolve the table.
            locked = self.mode == MergeMode.LOCKED
            inferred = infer_collections(parsed, infer_schema=not locked)
            n_dlq = sum(r["n_dlq"] for r in inferred)
            schemas = {}
            for r in inferred:
                key = (r["db"], r["collection"])
                if not locked:
                    sch = doc_schemas(r["ddl"])
                    if sch is not None:
                        schemas[key] = sch
                    continue
                if not r["n_clean"]:
                    continue
                live = self.table(f"{r['db']}_{r['collection']}").schema()
                if live is None:
                    raise ValueError(
                        f"LOCKED mode: no existing table for "
                        f"{r['db']}.{r['collection']} — create it "
                        "with one AUTO/STRICT batch first"
                    )
                target = StructType(
                    [f for f in live.fields if f.name not in CDC_META_COLUMNS]
                )
                schemas[key] = (target, locked_parse_schema(target))
            for r in inferred:
                if r["n_dlq"]:
                    key = (
                        f"{r['db']}.{r['collection']}"
                        if r["db"] is not None and r["collection"] is not None
                        else "_unattributed"
                    )
                    stats.dlq_by_collection[key] = (
                        stats.dlq_by_collection.get(key, 0) + r["n_dlq"]
                    )
            n_clean_by_key = {
                (r["db"], r["collection"]): r["n_clean"] for r in inferred
            }
            writes = self._plan_writes(
                clean, sorted(schemas.items()), batch_id, n_clean_by_key
            )
            stats.dlq_rows = n_dlq
            if n_dlq:
                # rate guard (reference dlq_writer.py:121-332 limits DLQ
                # writes to 10k/min): a poison storm — e.g. a producer
                # suddenly emitting garbage — must not turn the DLQ table
                # into the write bottleneck. Keep a deterministic prefix
                # (by kafka coordinates) and count the overflow; the
                # storm's shape is diagnosable from the kept sample.
                if n_dlq > self.dlq_max_rows_per_batch:
                    stats.dlq_overflow = n_dlq - self.dlq_max_rows_per_batch
                    dlq = (
                        dlq.orderBy("source_topic", "partition", "offset")
                        .limit(self.dlq_max_rows_per_batch)
                    )
                txn = (dlq_app_id, batch_id) if batch_id is not None else None

                def write_dlq():
                    self._guarded(
                        lambda: self.table("_dlq").append(
                            dlq, partition_by=[], txn=txn
                        )
                    )
                    return []

                writes.append(write_dlq)
            results = [r for out in self._run_concurrently(writes) for r in out]
            for table_name, res, evolved, drift_rows in results:
                stats.collections[table_name] = res
                if evolved:
                    stats.schema_evolutions.append(table_name)
                if drift_rows:
                    stats.type_drift_rows[table_name] = drift_rows
        finally:
            parsed.unpersist()
        if self.control_plane is not None:
            import json as _json

            try:
                self.control_plane.record_audit(
                    actor="cdc-ingestor",
                    action="ingest_batch",
                    resource=self.lake_root,
                    details=_json.dumps(
                        {
                            "batch_id": batch_id,
                            "collections": stats.collections,
                            "dlq_rows": stats.dlq_rows,
                            "schema_evolutions": stats.schema_evolutions,
                        },
                        default=str,
                    ),
                )
            except Exception:
                pass  # audit is best-effort; never fail the data write
        return stats

    def _sweep_stale_stages(self, max_age_sec: float = 3600.0) -> None:
        """Remove ``_txn_stage`` dirs older than ``max_age_sec`` with no
        surviving manifest (recover() just drained those): leftovers of a
        crash before ``prepare()``, whose files were never adopted. The
        age guard protects a CONCURRENT live writer's in-flight stage."""
        import os
        import shutil
        import time as _time

        if not os.path.isdir(self._txn_stage_dir):
            return
        cutoff = _time.time() - max_age_sec
        for name in os.listdir(self._txn_stage_dir):
            p = os.path.join(self._txn_stage_dir, name)
            try:
                if os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass

    def _run_concurrently(self, writes: list) -> list:
        """Run one batch's mutually independent table writes from driver
        threads and return their results in submission order.

        Every write is its own Spark job on its own table (or its own
        grouped stage dir + uuid-named manifest), so the jobs only share
        the persisted parse; run one after another, each pays the
        driver's per-job round trip in series. The width is the number
        of writes, capped at the context's default parallelism. Threads
        start through ``inheritable_thread_target``, so the caller's job
        group, description, scheduler pool and tags reach every job (a
        streaming query's stop() still cancels them). All writes run to
        completion before the first failure re-raises; replaying the
        batch id skips whatever committed."""
        if len(writes) <= 1:
            return [w() for w in writes]
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        inherit = inheritable_thread_target(self.spark)
        if not callable(inherit):
            # pinned-thread mode off: no per-thread properties to carry
            def inherit(f):
                return f

        width = min(len(writes), self.spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max_workers=width) as pool:
            futures = [pool.submit(inherit(w)) for w in writes]
        return [f.result() for f in futures]

    def _plan_writes(
        self,
        clean: DataFrame,
        items: list,
        batch_id: int | None,
        n_clean_by_key: dict,
    ) -> list:
        """Split one batch's collections into routed groups, after
        inference and before any write starts, and return one write task
        per group (``_write_group``), each returning a list of
        ``(table_name, append result, schema_evolved, type_drift_rows)``.

        Every collection is a member of exactly one group; a batch of one
        collection is a group of one. Members share a group when they
        agree on the table target schema, the parse schema and the
        per-table write options (bloom-filter columns, generated
        partition columns), so that one job can honour them all. Routing
        N collections through one job is the routed-lane headroom fix: a
        job plus a commit per collection per trigger capped throughput at
        the reference's routed shape (10 collections × 5k ev/s,
        spec.md:283-288; r9 verdict #1, BENCH_r09 p50 28.8 s). A member
        whose plan already failed (a partition layout change, a schema its
        mode refuses) is a group of its own whose write raises that error,
        so only that table's write fails. A member whose ``cdc-<table>``
        mark already holds ``batch_id`` is a replay: its group writes
        nothing for it, but still runs its ``__current`` MERGE.
        ``_run_concurrently`` overlaps the groups."""
        meta = _meta_schema(clean)
        groups: dict[tuple, list[dict]] = {}
        for key, (doc_schema, parse_schema) in items:
            table_name = f"{key[0]}_{key[1]}"
            table = self.table(table_name)
            m = {
                "table_name": table_name,
                "parse_schema": parse_schema,
                "n": int(n_clean_by_key.get(key, 0)),
                "evolved": False,
                "skipped": None,
                "error": None,
            }
            if (
                batch_id is not None
                and table.txn_version(f"cdc-{table_name}") >= batch_id
            ):
                m["skipped"] = {
                    "rows": 0,
                    "files": 0,
                    "version": table.version(),
                    "skipped": True,
                }
            snap = table._replay()
            live = snap.schema
            data = doc_schema
            if snap.files and list(snap.partition_by) != self.partition_by:
                # mixed hive layouts under one basePath silently drop
                # files; layout changes go through repartition_table
                m["error"] = ValueError(
                    f"partition layout change {snap.partition_by} -> "
                    f"{self.partition_by} on a non-empty table: use "
                    f"repartition_table() to rewrite into the new layout"
                )
            elif live is not None:
                live_data = StructType(
                    [f for f in live.fields if f.name not in CDC_META_COLUMNS]
                )
                try:
                    data = merge_schemas(live_data, doc_schema, self.mode)
                except SchemaEvolutionError as e:
                    m["error"] = e
                else:
                    m["evolved"] = data != live_data
            # the table's own field order (an evolved table stores added
            # fields after the metadata columns), then any new fields
            fields = {f.name: f for f in [*data.fields, *meta.fields]}
            order = [f.name for f in live.fields] if live is not None else []
            order += [n for n in fields if n not in order]
            m["target"] = StructType([fields[n] for n in order if n in fields])
            gens = table._generated_columns()
            m["generated"] = tuple(
                (p, gens[p])
                for p in self.partition_by
                if p in gens and p not in fields
            )
            m["bloom"] = tuple(c for c in table.bloom_columns() if c in fields)
            gkey = (
                m["target"].json(),
                parse_schema.json(),
                m["bloom"],
                m["generated"],
                table_name if m["error"] is not None else None,
            )
            groups.setdefault(gkey, []).append(m)
        return [
            lambda members=members: self._write_group(clean, members, batch_id)
            for members in groups.values()
        ]

    def _write_group(
        self, clean: DataFrame, members: list[dict], batch_id: int | None
    ) -> list[tuple[str, dict, bool, int]]:
        """One group's write task: one job writes every member's rows
        partitioned on a ``__route`` column (files land under
        ``_txn_stage/<txn>/__route=<table>/<hive parts>``), the files are
        adopted into each table's directory unpublished, and one
        MultiTableTxn commit publishes every table with its ``cdc-<table>``
        mark — crash-atomic by the manifest (recover() rolls forward; the
        stage sweep reaps pre-manifest orphans). That attempt runs under
        ``_guarded``; a failed attempt leaves only unpublished orphans.
        LOCKED mode counts each member's type drift on the same job. With
        ``materialize_current`` each member's ``__current`` MERGE runs
        after the commit, replayed members included, each under
        ``_guarded`` too."""
        import os
        import shutil
        import uuid
        from urllib.parse import unquote

        from pyspark.sql import Observation

        from ..sinks.table import adopt_staged, bloom_options
        from ..sinks.txn import MultiTableTxn

        first = members[0]
        if first["error"] is not None:
            # a plan that failed is this table's own failed write

            def fail():
                raise first["error"]

            self._guarded(fail)
        live = [m for m in members if not m["skipped"]]
        locked = self.mode == MergeMode.LOCKED
        route = "concat(`db`, '_', `collection`)"
        total = sum(m["n"] for m in members)
        sub = clean.where(
            f"{route} IN ({', '.join(sql_str(m['table_name']) for m in members)})"
        ).coalesce(
            max(1, (total + ROWS_PER_WRITE_TASK - 1) // ROWS_PER_WRITE_TASK)
        )
        extra = {"__route": (route, StringType())}
        metrics = [F.expr("count(1) AS `rows`")]
        # probe-safe names only: JSONPath metacharacters ('.', quotes, '[',
        # ']', '*', '$', whitespace) are legal in MongoDB field names, and
        # get_json_object on such a path is engine-defined
        probed = [
            f.name
            for f in first["target"].fields
            if locked
            and f.name not in CDC_META_COLUMNS
            and re.fullmatch(r"[A-Za-z0-9_]+", f.name)
        ]
        if probed:
            # LOCKED value-level type drift (wire token present, value
            # nulled by the pinned-type parse or cast — timestamps parse as
            # strings, so the cast is their only signal) must not be
            # silent: the normalized envelope rides through the cast, and
            # one sum per member compares it to the final value on the
            # write job itself — no extra job
            extra["__wire"] = (NORMALIZED_DOC, StringType())
            drifted = " + ".join(
                f"CAST(get_json_object(`__wire`, '$.{name}') IS NOT NULL"
                f" AND {quote(name)} IS NULL AS INT)"
                for name in probed
            )
            metrics += [
                F.expr(
                    f"coalesce(sum(CAST(`__route` = {sql_str(m['table_name'])}"
                    f" AND ({drifted}) > 0 AS INT)), 0) AS `drift{i}`"
                )
                for i, m in enumerate(live)
            ]
        rows = _typed_rows(
            sub,
            first["parse_schema"],
            first["target"],
            locked_cast_rule if locked else millis_cast_rule,
            extra,
        )

        def attempt():
            txn_id = uuid.uuid4().hex
            stage = os.path.join(self._txn_stage_dir, txn_id)
            frame = rows
            if len(live) < len(members):
                frame = frame.where(
                    f"`__route` IN "
                    f"({', '.join(sql_str(m['table_name']) for m in live)})"
                )
            obs = Observation(f"group-{txn_id}")
            frame = frame.observe(obs, *metrics).drop("__wire")
            schema = first["target"]
            for pcol, expr in first["generated"]:
                frame = frame.withColumn(pcol, F.expr(expr))
                schema = StructType(
                    list(schema.fields)
                    + [StructField(pcol, frame.schema[pcol].dataType)]
                )
            (
                frame.write.mode("overwrite")
                .options(**bloom_options(list(first["bloom"])))
                .partitionBy("__route", *self.partition_by)
                .parquet(stage)
            )
            seen = obs.get
            expected = sum(m["n"] for m in live)
            if int(seen["rows"]) != expected:
                raise RuntimeError(
                    f"group append integrity: wrote {seen['rows']} rows, "
                    f"inference counted {expected}"
                )
            adds: dict[str, list[dict]] = {m["table_name"]: [] for m in live}
            for route_dir in sorted(os.listdir(stage)):
                if not route_dir.startswith("__route="):
                    continue
                tname = unquote(route_dir[len("__route=") :])
                if tname not in adds:
                    raise RuntimeError(
                        f"group append routed unknown table {tname!r}"
                    )
                adds[tname] = adopt_staged(
                    os.path.join(stage, route_dir),
                    os.path.join(self.lake_root, tname),
                    txn_id,
                )
            shutil.rmtree(stage, ignore_errors=True)
            txn = MultiTableTxn(
                self.spark, self._txn_dir, app_id="cdc", version=batch_id
            )
            for m in live:
                txn.stage_adopted(
                    root=os.path.join(self.lake_root, m["table_name"]),
                    add=adds[m["table_name"]],
                    rows=m["n"],
                    schema=schema.jsonValue(),
                    partition_by=self.partition_by,
                    app_id=f"cdc-{m['table_name']}",
                )
            out = {}
            for i, (m, pub) in enumerate(zip(live, txn.commit())):
                skipped = bool(pub.get("skipped"))
                res = {
                    "rows": 0 if skipped else m["n"],
                    "files": len(adds[m["table_name"]]),
                    "version": pub.get("version"),
                    "skipped": skipped,
                }
                out[m["table_name"]] = (res, int(seen.get(f"drift{i}") or 0))
            return out

        out = self._guarded(attempt) if live else {}
        if self.materialize_current:
            # after the commit, and for a replayed member too: a retry that
            # crashed between the two commits would otherwise never
            # materialize this batch; the MERGE's own txn mark
            # (cdc-current-<table>, batch_id) makes a re-merge a no-op
            self._run_concurrently(
                [
                    lambda m=m: self._guarded(
                        lambda: self._merge_current_state(
                            m["table_name"],
                            rows.where(
                                f"`__route` = {sql_str(m['table_name'])}"
                            ).drop("__route", "__wire"),
                            batch_id,
                        )
                    )
                    for m in members
                ]
            )
        results = []
        for m in members:
            res, drift = (
                (m["skipped"], 0) if m["skipped"] else out[m["table_name"]]
            )
            results.append((m["table_name"], res, m["evolved"], drift))
        return results

    def _merge_current_state(
        self, table_name: str, rows: DataFrame, batch_id: int | None
    ) -> None:
        """Collapse the batch to the latest row per key and MERGE it into
        `<table>__current`: upsert for insert/update, key removal for
        delete. Only files containing touched keys rewrite (LakeTable.merge
        file pruning), so cost scales with the batch, not the table."""
        if self.key_col not in rows.columns:
            return
        from pyspark.sql import Window

        w = Window.partitionBy(self.key_col).orderBy(
            F.col("_kafka_offset").desc_nulls_last(),
            F.col("_cdc_timestamp").desc_nulls_last(),
        )
        latest = (
            rows.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        txn = (
            (f"cdc-current-{table_name}", batch_id)
            if batch_id is not None
            else None
        )
        cur = self.table(f"{table_name}__current")
        # document ids are random (ObjectId/UUID), so min/max stats cannot
        # prune the merge's key scan — parquet bloom filters on the key
        # restore row-group skipping. Set once; every later file gets them.
        if (
            cur.exists()
            and "bloom.filter.columns" not in cur.properties()
        ):
            cur.set_properties({"bloom.filter.columns": self.key_col})
        cur.merge(
            latest,
            self.key_col,
            delete_expr="_cdc_operation = 'delete'",
            mode=self.mode,
            txn=txn,
        )

    def snapshot_load(
        self,
        docs_df: DataFrame,
        database: str,
        collection: str,
        batch_id: int | None = None,
        doc_col: str = "value",
    ) -> IngestStats:
        """Initial snapshot load (reference S8: Debezium snapshot.mode=
        initial emits op='r' reads, spec SC-008 '1 TB ≤ 24 h').

        Takes a DataFrame with one JSON document per row (e.g.
        ``spark.read.text(dump.jsonl)``) and ingests it through the normal
        pipeline as synthetic op='r' envelopes — snapshot rows land exactly
        like streamed inserts (same typing, metadata, schema evolution,
        idempotent txns), so a snapshot followed by streaming is seamless.
        Scale: the envelope wrap is two string concats per row; throughput
        is the ingest path's (~10k docs/s/worker here, cluster-linear)."""
        import json as _json
        import time as _time

        # names are json.dumps-escaped: a db/collection derived from a
        # directory name containing `"` or `\` must not produce a
        # malformed envelope that dead-letters the whole file (ADVICE r9)
        prefix = (
            '{"payload": {"op": "r", "ts_ms": '
            + str(int(_time.time() * 1000))
            + ', "source": {"db": '
            + _json.dumps(database)
            + ', "collection": '
            + _json.dumps(collection)
            + '}, "after": '
        )
        # docs inline as raw JSON objects (valid JSON text needs no
        # escaping; the parser accepts both inline and string-encoded
        # after). __src_* provenance attributes any dead-lettered line to
        # this collection even when its JSON is unparseable.
        wrapped = docs_df.select(
            F.concat(
                F.lit(prefix), F.col(doc_col).cast("string"), F.lit("}}")
            ).alias("value"),
            F.lit(database).alias("__src_db"),
            F.lit(collection).alias("__src_coll"),
        )
        # DLQ txn marker namespaced per collection: snapshot loads of
        # SEVERAL collections legitimately share one batch_id (they are
        # one logical bulk load), and the shared _dlq table must not
        # treat the second collection's dead letters as a replay of the
        # first's. Replaying the SAME collection stays idempotent.
        return self.ingest_batch(
            wrapped,
            batch_id=batch_id,
            dlq_app_id=f"cdc-_dlq-{database}.{collection}",
        )

    def snapshot_load_dump(
        self,
        dump_dir: str,
        batch_id: int | None = None,
        split_size_mb: int = 64,
    ) -> dict[str, "IngestStats"]:
        """Bulk-load a mongodump/mongoexport directory
        (``<dir>/<db>/<collection>.json``, one extended-JSON doc per
        line) through the normal snapshot path (reference S8 initial
        load / SC-008 bulk targets). Collections route to their own
        tables exactly like streamed events; per-table txn app ids make
        ``batch_id`` idempotence-safe per collection.

        The SC-008 throughput path: ONE native ``spark.read.text`` scan
        over every discovered file — the JVM line reader gives the same
        newline-aligned byte-range split contract as the
        ``format("mongodump")`` DataSource (``split_size_mb`` maps to
        ``spark.sql.files.maxPartitionBytes`` for the load's duration) at
        none of its per-row Python cost (measured 4.3x on the scan),
        provenance (db, collection) joins in from the discovery listing
        by file path, and ALL collections ingest as one routed batch
        (P6), so the collections' writes overlap on driver threads.

        Returns per-``db.collection`` stats, each with its own attributed
        ``dlq_rows`` (a corrupt line's collection is known from file
        provenance even when its JSON is not parseable — r9 verdict #6).
        A ``"_dlq"`` key appears ONLY for the truly unattributable
        residue (none under normal operation) or a nonzero DLQ
        overflow."""
        from .mongodump import _discover

        files = sorted(_discover(dump_dir))
        if not files:
            raise ValueError(f"no .json dump files under {dump_dir}")

        import json as _json
        import os
        import time as _time

        from pyspark.sql import Observation

        # (abs path → db, coll) provenance from the same discovery the
        # mongodump DataSource uses, joined on the DECODED _metadata.file_path.
        # Spark surfaces the path URI-encoded (`file:/a/b%20c.json` for
        # `/a/b c.json`), so the raw string only equals os.path.abspath
        # for paths free of spaces/%/non-ASCII — any other file silently
        # matched nothing under the old inner join (r9 ADVICE, high).
        # url_decode restores the filesystem path; literal `+` is first
        # protected as %2B because a URI keeps `+` verbatim while
        # url_decode is form-decoding (`+` → space). Envelope names ride
        # pre-escaped (json.dumps) so a db/coll containing `"` or `\`
        # cannot malform the envelope.
        prov = self.spark.createDataFrame(
            [
                (
                    os.path.abspath(p),
                    db,
                    coll,
                    _json.dumps(db),
                    _json.dumps(coll),
                )
                for p, db, coll in files
            ],
            "__path string, __src_db string, __src_coll string, "
            "__db_json string, __coll_json string",
        )
        conf = self.spark.conf
        prev_mpb = conf.get("spark.sql.files.maxPartitionBytes")
        conf.set(
            "spark.sql.files.maxPartitionBytes",
            str(split_size_mb * 1024 * 1024),
        )
        try:
            decoded = F.url_decode(
                F.regexp_replace(
                    F.regexp_replace(
                        F.col("_metadata.file_path"), "^file:", ""
                    ),
                    r"\+",
                    "%2B",
                )
            )
            # read paths are Hadoop GLOBS: a literal *?[]{}\ in a file
            # name must be backslash-escaped or the read 404s (or worse,
            # silently matches other files)
            import re as _re

            def _glob_escape(p: str) -> str:
                return _re.sub(r"([*?\[\]{}\\])", r"\\\1", p)

            lines = self.spark.read.text(
                [_glob_escape(p) for p, _, _ in files]
            ).select(
                "value",
                F.regexp_replace(decoded, "^/+", "/").alias("__path"),
            )
            ts_ms = int(_time.time() * 1000)
            # left join + observation: a decode/join regression must FAIL
            # LOUDLY, not silently drop files. The observation rides the
            # ingest's own first action — zero extra scan at 1 TB.
            obs = Observation("snapshot-prov-guard")
            joined = (
                lines.where(F.length(F.trim("value")) > 0)
                .join(F.broadcast(prov), "__path", "left")
                .observe(
                    obs,
                    F.sum(
                        F.when(F.col("__src_db").isNull(), 1).otherwise(0)
                    ).alias("unmatched"),
                )
            )
            wrapped = joined.where(F.col("__src_db").isNotNull()).select(
                F.concat(
                    F.lit('{"payload": {"op": "r", "ts_ms": '),
                    F.lit(str(ts_ms)),
                    F.lit(', "source": {"db": '),
                    F.col("__db_json"),
                    F.lit(', "collection": '),
                    F.col("__coll_json"),
                    F.lit('}, "after": '),
                    F.trim(F.col("value")),
                    F.lit("}}"),
                ).alias("value"),
                # provenance channel: dead-lettered lines attribute to
                # their collection even when their JSON is unparseable
                "__src_db",
                "__src_coll",
            )
            batch = self.ingest_batch(wrapped, batch_id=batch_id)
            unmatched = int(obs.get.get("unmatched") or 0)
            if unmatched:
                raise RuntimeError(
                    f"snapshot_load_dump: {unmatched} line(s) scanned from "
                    f"{dump_dir} matched no discovered file after "
                    "URL-decoding _metadata.file_path — provenance join "
                    "regression; matched collections WERE ingested "
                    "(idempotent under the same batch_id), unmatched "
                    "lines were NOT"
                )
        finally:
            conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)

        out = {}
        for _path, db, coll in files:
            table = f"{db}_{coll}"
            dlq_key = f"{db}.{coll}"
            n_dlq = batch.dlq_by_collection.get(dlq_key, 0)
            per = IngestStats(
                collections={
                    k: v for k, v in batch.collections.items() if k == table
                },
                dlq_rows=n_dlq,
                dlq_by_collection={dlq_key: n_dlq} if n_dlq else {},
                schema_evolutions=[
                    t for t in batch.schema_evolutions if t == table
                ],
                type_drift_rows={
                    k: v
                    for k, v in batch.type_drift_rows.items()
                    if k == table
                },
                dropped_unknown_ops=0,
            )
            out[dlq_key] = per
        residue = batch.dlq_by_collection.get("_unattributed", 0)
        if residue or batch.dlq_overflow:
            out["_dlq"] = IngestStats(
                dlq_rows=residue, dlq_overflow=batch.dlq_overflow
            )
        return out

    def replay_dlq(
        self,
        reasons: list[str] | None = None,
        batch_id: int | None = None,
        purge: bool = True,
    ) -> IngestStats:
        """Reprocess dead-lettered events (the operational recovery loop the
        reference's DLQ design implies: fix the cause, replay the queue).

        Events matching ``reasons`` (default: all) re-enter ingest_batch
        with their original Kafka coordinates. Events that fail again are
        re-appended to the DLQ with a fresh timestamp; with ``purge`` the
        successfully drained originals are deleted from the DLQ table —
        guarded by the replay start time so re-failures written during this
        replay survive."""
        import datetime

        dlq_table = self.table("_dlq")
        dlq = dlq_table.read()
        if reasons:
            quoted = ", ".join(sql_str(r) for r in reasons)
            dlq = dlq.where(f"reason IN ({quoted})")
        start = datetime.datetime.now(datetime.timezone.utc).replace(
            tzinfo=None
        )
        raw = dlq.select(
            F.col("original_event").alias("value"),
            F.col("source_topic").alias("topic"),
            F.col("partition").cast("int").alias("partition"),
            F.col("offset"),
        )
        stats = self.ingest_batch(raw, batch_id=batch_id)
        if purge:
            cond = (
                "_ingestion_timestamp < "
                f"TIMESTAMP '{start.isoformat(sep=' ')}'"
            )
            if reasons:
                cond = f"reason IN ({quoted}) AND {cond}"
            dlq_table.delete_where(cond)
        return stats
