"""Type widening + schema merge with AUTO/STRICT/PERMISSIVE modes.

Semantics mirror the reference's resolver (delta-writer/src/transformers/
type_resolver.py:23-147 compatibility matrix, schema_inferrer.py:127-330
merge modes):

- numeric hierarchy byte < short < int < long < float < double — merging two
  numerics widens to the larger (int + double → double)
- any type + string → string (PERMISSIVE/AUTO), error (STRICT)
- incompatible scalars (e.g. bool + int) → string fallback (PERMISSIVE/AUTO)
- arrays merge element types recursively; structs merge field-wise (union of
  fields, each recursively merged); null type yields the other side
- STRICT allows *new fields only*: any type change raises
- field removal is never implicit (validate_schema_compatibility)

All pure functions over pyspark.sql.types — no JVM calls, so the merge step
adds zero per-row cost; the result drives one `cast_to_schema` projection.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    AtomicType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    NullType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


class MergeMode(str, Enum):
    AUTO = "auto"  # widen, fallback to string, record metrics
    STRICT = "strict"  # new fields only; type changes raise
    PERMISSIVE = "permissive"  # widen + string fallback, never raise
    #: schema pinned to the live table: NO inference, NO evolution — a
    #: production pipeline that must not let a producer's new field or
    #: type drift change the table (schema governance), and a small
    #: hot-path saving (the variant-inference aggregate is skipped;
    #: measured ~6% on the tiny bench envelopes — grows with document
    #: size/nesting since schema_of_variant_agg scales with both).
    #: Unknown fields in incoming documents are ignored; a collection
    #: without an existing table is a configuration error (create it
    #: with one AUTO/STRICT batch first). merge_schemas(LOCKED) raises
    #: on ANY field/type difference. Value-level type drift on an
    #: EXISTING field (e.g. a producer starts sending strings where the
    #: table has long) does NOT raise: the pinned-type parse nulls the
    #: value (from_json coercion), the row still lands, and the batch
    #: reports the affected row count per table in
    #: IngestStats.type_drift_rows so governance can alert — LOCKED
    #: never lets drift mutate the schema, and never hides the loss.
    LOCKED = "locked"


class SchemaEvolutionError(Exception):
    """Raised in STRICT mode on any type change (reference
    schema_inferrer.py:218-262)."""


_NUMERIC_ORDER: dict[type, int] = {
    ByteType: 0,
    ShortType: 1,
    IntegerType: 2,
    LongType: 3,
    FloatType: 4,
    DoubleType: 5,
}


def _is_numeric(t: DataType) -> bool:
    return type(t) in _NUMERIC_ORDER or isinstance(t, DecimalType)


def _widen_numeric(t1: DataType, t2: DataType) -> DataType:
    if isinstance(t1, DecimalType) or isinstance(t2, DecimalType):
        # decimal + integer → decimal; decimal + float → double (lossless
        # enough and matches the reference's float-over-decimal preference)
        if isinstance(t1, DecimalType) and isinstance(t2, DecimalType):
            prec = max(t1.precision - t1.scale, t2.precision - t2.scale)
            scale = max(t1.scale, t2.scale)
            return DecimalType(min(prec + scale, 38), scale)
        dec, other = (t1, t2) if isinstance(t1, DecimalType) else (t2, t1)
        if type(other) in (FloatType, DoubleType):
            return DoubleType()
        return dec
    return (
        t1
        if _NUMERIC_ORDER[type(t1)] >= _NUMERIC_ORDER[type(t2)]
        else t2
    )


def merge_types(
    t1: DataType, t2: DataType, mode: MergeMode = MergeMode.AUTO
) -> DataType:
    """Resolve two observed types for the same field into one stored type."""
    if t1 == t2:
        return t1
    if isinstance(t1, NullType):
        return t2
    if isinstance(t2, NullType):
        return t1

    if _is_numeric(t1) and _is_numeric(t2):
        widened = _widen_numeric(t1, t2)
        if mode is MergeMode.STRICT and widened != t1:
            raise SchemaEvolutionError(
                f"strict mode: cannot widen {t1.simpleString()} -> "
                f"{widened.simpleString()}"
            )
        return widened

    if isinstance(t1, ArrayType) and isinstance(t2, ArrayType):
        return ArrayType(
            merge_types(t1.elementType, t2.elementType, mode), True
        )

    if isinstance(t1, StructType) and isinstance(t2, StructType):
        return merge_schemas(t1, t2, mode)

    if mode is MergeMode.STRICT:
        raise SchemaEvolutionError(
            f"strict mode: type conflict {t1.simpleString()} vs "
            f"{t2.simpleString()}"
        )
    # PERMISSIVE/AUTO: conflict collapses to string (reference
    # bson_to_delta.py:256-263) — including timestamp+string, bool+int, etc.
    return StringType()


def merge_schemas(
    s1: StructType, s2: StructType, mode: MergeMode = MergeMode.AUTO
) -> StructType:
    """Union of fields; overlapping fields merged recursively. Field order:
    s1's fields first (stable table layout), then new s2 fields in order."""
    if mode == MergeMode.LOCKED:
        if [(f.name, f.dataType) for f in s1.fields] != [
            (f.name, f.dataType) for f in s2.fields
        ]:
            raise SchemaEvolutionError(
                "LOCKED mode: incoming schema differs from the table schema"
            )
        # normalize like every other mode does (all fields nullable), so
        # a non-null incoming column can't tighten the stored schema
        return StructType(
            [StructField(f.name, f.dataType, True) for f in s1.fields]
        )
    out: list[StructField] = []
    s2_map = {f.name: f for f in s2.fields}
    for f1 in s1.fields:
        if f1.name in s2_map:
            merged = merge_types(f1.dataType, s2_map[f1.name].dataType, mode)
            out.append(StructField(f1.name, merged, True))
        else:
            out.append(StructField(f1.name, f1.dataType, True))
    s1_names = {f.name for f in s1.fields}
    for f2 in s2.fields:
        if f2.name not in s1_names:
            out.append(StructField(f2.name, f2.dataType, True))
    return StructType(out)


def is_widening_safe(src: DataType, dst: DataType) -> bool:
    """True if every value of src is representable in dst without loss of
    information class (reference type_resolver.py:368-420)."""
    if src == dst or isinstance(src, NullType):
        return True
    if isinstance(dst, StringType):
        return True
    if _is_numeric(src) and _is_numeric(dst) and not isinstance(
        src, DecimalType
    ) and not isinstance(dst, DecimalType):
        s, d = _NUMERIC_ORDER[type(src)], _NUMERIC_ORDER[type(dst)]
        # long→float loses precision; int→float is also lossy but the
        # reference treats int8..int32→float32/64 as safe widening
        if type(src) is LongType and type(dst) is FloatType:
            return False
        return d >= s
    if isinstance(src, ArrayType) and isinstance(dst, ArrayType):
        return is_widening_safe(src.elementType, dst.elementType)
    if isinstance(src, StructType) and isinstance(dst, StructType):
        dmap = {f.name: f for f in dst.fields}
        return all(
            f.name in dmap and is_widening_safe(f.dataType, dmap[f.name].dataType)
            for f in src.fields
        )
    return False


def validate_schema_compatibility(
    old: StructType, new: StructType, allow_field_removal: bool = False
) -> list[str]:
    """Issues preventing `new` from being accepted over `old` (reference
    schema_inferrer.py:361-444): removed fields (unless allowed) and
    non-widening type changes."""
    issues: list[str] = []
    new_map = {f.name: f for f in new.fields}
    for f in old.fields:
        if f.name not in new_map:
            if not allow_field_removal:
                issues.append(f"field removed: {f.name}")
            continue
        nt = new_map[f.name].dataType
        if f.dataType != nt and not is_widening_safe(f.dataType, nt):
            issues.append(
                f"incompatible change for {f.name}: "
                f"{f.dataType.simpleString()} -> {nt.simpleString()}"
            )
    return issues


def schema_diff(s1: StructType, s2: StructType) -> dict[str, list[str]]:
    """{'added': [...], 'removed': [...], 'changed': [...]} field names
    (reference schema_inferrer.py:598-640)."""
    m1 = {f.name: f.dataType for f in s1.fields}
    m2 = {f.name: f.dataType for f in s2.fields}
    return {
        "added": sorted(n for n in m2 if n not in m1),
        "removed": sorted(n for n in m1 if n not in m2),
        "changed": sorted(
            n for n in m1 if n in m2 and m1[n] != m2[n]
        ),
    }


def quote(name: str) -> str:
    """``name`` as one backtick-quoted SQL identifier: a MongoDB field
    name may hold dots, spaces or backticks, which bare text would read
    as a path or a syntax error."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(text: str) -> str:
    """``text`` as a SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ddl(t: DataType) -> str:
    """SQL type text for ``t``. ARRAY and MAP cannot spell a non-null
    element or value, so a cast to such a type reads back nullable there;
    struct field nullability is kept."""
    if isinstance(t, StructType):
        return "STRUCT<" + ", ".join(
            f"{quote(f.name)}: {ddl(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in t.fields
        ) + ">"
    if isinstance(t, ArrayType):
        return f"ARRAY<{ddl(t.elementType)}>"
    if isinstance(t, MapType):
        return f"MAP<{ddl(t.keyType)}, {ddl(t.valueType)}>"
    return t.simpleString()


def _cast_sql(
    expr: str, src: DataType, dst: DataType, scalar_rule=None, depth: int = 0
) -> str:
    """SQL text casting the src-typed ``expr`` to dst, rebuilding nested
    structs field by field (a plain CAST can't add struct fields).

    ``scalar_rule(expr, src, dst) -> str | None`` overrides individual
    scalar casts (e.g. the CDC convention that a long cast to timestamp is
    epoch *millis*, where Spark's CAST would read seconds)."""
    if src == dst:
        return expr
    if isinstance(src, StructType) and isinstance(dst, StructType):
        smap = {f.name: f.dataType for f in src.fields}
        parts = []
        for f in dst.fields:
            if f.name in smap:
                val = _cast_sql(
                    f"{expr}.{quote(f.name)}",
                    smap[f.name],
                    f.dataType,
                    scalar_rule,
                    depth,
                )
            else:
                val = f"CAST(NULL AS {ddl(f.dataType)})"
            parts.append(f"{sql_str(f.name)}, {val}")
        # preserve NULL structs instead of materializing a struct of NULLs
        return (
            f"CAST(CASE WHEN {expr} IS NULL THEN NULL "
            f"ELSE named_struct({', '.join(parts)}) END AS {ddl(dst)})"
        )
    if isinstance(src, ArrayType) and isinstance(dst, ArrayType):
        x = quote(f"__e{depth}")
        body = _cast_sql(
            x, src.elementType, dst.elementType, scalar_rule, depth + 1
        )
        return f"CAST(transform({expr}, {x} -> {body}) AS {ddl(dst)})"
    if isinstance(src, MapType) and isinstance(dst, MapType):
        # recurse on values so scalar_rule reaches map payloads (LOCKED
        # parses map<_, timestamp> as map<_, string>; a plain CAST here
        # would bypass the digit-string disambiguation — epoch-millis map
        # values then raise under ANSI instead of converting)
        k, v = quote(f"__k{depth}"), quote(f"__v{depth}")
        body = _cast_sql(
            v, src.valueType, dst.valueType, scalar_rule, depth + 1
        )
        return (
            f"CAST(transform_values({expr}, ({k}, {v}) -> {body}) "
            f"AS {ddl(dst)})"
        )
    if scalar_rule is not None:
        custom = scalar_rule(expr, src, dst)
        if custom is not None:
            return custom
    return f"CAST({expr} AS {ddl(dst)})"


def projection_sql(
    sources: dict[str, tuple[str, DataType]],
    target: StructType,
    scalar_rule=None,
) -> list[str]:
    """One select expression per ``target`` field: its source
    ``(sql, type)`` from ``sources`` cast to the field's type, or a typed
    NULL when the field has no source. A field whose source is already
    the same-named column of the same type stays a bare quoted name."""
    out = []
    for f in target.fields:
        name = quote(f.name)
        if f.name in sources:
            expr, src = sources[f.name]
            e = _cast_sql(expr, src, f.dataType, scalar_rule)
        else:
            e = f"CAST(NULL AS {ddl(f.dataType)})"
        out.append(e if e == name else f"{e} AS {name}")
    return out


def cast_to_schema(
    df: DataFrame, target: StructType, scalar_rule=None
) -> DataFrame:
    """Project df onto `target`: missing columns become NULLs, present ones
    are cast (recursively for structs/arrays/maps). This is the pre-write
    reconciliation the reference does in delta_writer.py:114-129. The
    projection is built as SQL text and sent in one ``selectExpr``."""
    sources = {f.name: (quote(f.name), f.dataType) for f in df.schema.fields}
    return df.selectExpr(*projection_sql(sources, target, scalar_rule))
