"""Connect/Avro-style schema system → Spark StructType.

The reference's schema chain is Connect Schema → Avro Schema → ORC
TypeDescription (reference ``OrcRecordWriter.java:59-69,106-131``). It
supports exactly six primitive types in flat structs and unwraps Avro
``[null, T]`` unions by taking the second branch
(``OrcRecordWriter.java:115-117``); anything else throws
(``OrcRecordWriter.java:197-199``).

This module reproduces that type surface natively in Spark:

- the six-type map (SURVEY.md §1.2) as ``SIX_TYPE_MAP``;
- Avro-JSON schema → ``StructType`` with proper nullable unwrap;
- ``validate_engine_schema``, the init-time check of that surface. The cast
  onto it (the reference's per-record toString-reparse coercion,
  ``OrcRecordWriter.java:204-237``) is ``pipeline.coerce_stream``, one
  declarative projection that Catalyst codegens;
- ``cast_exprs``, the SQL-string form of that cast, shared by the ingest
  projections (``coerce_stream``, ``project_to_schema``).

**Documented divergence** (SURVEY.md §1.2): the reference crashes (NPE) on
null *values* while accepting nullable *schemas*; this engine stores nulls
as real ORC nulls.
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import Any

from pyspark.sql import types as T

# Connect/Avro primitive name → Spark type (reference OrcRecordWriter.java:174-202;
# long→bigint rename at 119-121 is implicit in LongType).
SIX_TYPE_MAP: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "int32": T.IntegerType(),
    "long": T.LongType(),
    "int64": T.LongType(),
    "float": T.FloatType(),
    "float32": T.FloatType(),
    "double": T.DoubleType(),
    "float64": T.DoubleType(),
    "string": T.StringType(),
}

_SUPPORTED_SPARK_TYPES = (
    T.BooleanType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
)


class UnsupportedTypeError(TypeError):
    """Mirror of the reference's ``UnsupportedOperationException("type is not
    supported")`` (``OrcRecordWriter.java:197-199``)."""


def avro_field_type(avro_type: Any) -> tuple[T.DataType, bool]:
    """Resolve an Avro field type (possibly a ``[null, T]`` union) to
    (spark_type, nullable).

    The reference takes union branch [1] unconditionally
    (``OrcRecordWriter.java:115-117``); we accept ``[null, T]`` in either
    order and reject wider unions, which the reference would mis-handle.
    """
    if isinstance(avro_type, list):
        non_null = [t for t in avro_type if t != "null"]
        # A union is nullable ONLY if it actually carries a null branch: a
        # single-branch union like ["long"] is legal Avro and non-nullable —
        # reporting it nullable would rewrite the schema contract on a
        # round-trip (["long"] → ["null","long"]) and admit nulls the writer
        # schema forbids.
        if len(non_null) != 1 or len(avro_type) - len(non_null) > 1:
            raise UnsupportedTypeError(f"only [null, T] unions supported, got {avro_type!r}")
        if isinstance(non_null[0], list):
            # Avro forbids immediately-nested unions; recursing would also
            # DROP the inner null branch's nullability (round-9 review:
            # [["null","long"]] reported non-nullable while admitting nulls)
            raise UnsupportedTypeError(f"nested union not supported: {avro_type!r}")
        inner, _ = avro_field_type(non_null[0])
        return inner, "null" in avro_type
    if isinstance(avro_type, dict):  # e.g. {"type": "string"} long-form
        if "logicalType" in avro_type:
            # a logical type changes field SEMANTICS (timestamp-millis over
            # long, decimal over bytes); silently degrading it to the raw
            # type would reinterpret values — reject like the reference's
            # six-type check (round-9 review)
            raise UnsupportedTypeError(
                f"logicalType not supported: {avro_type!r}"
            )
        return avro_field_type(avro_type["type"])
    if isinstance(avro_type, str):
        if avro_type not in SIX_TYPE_MAP:
            raise UnsupportedTypeError(f"type is not supported: {avro_type!r}")
        return SIX_TYPE_MAP[avro_type], False
    raise UnsupportedTypeError(f"type is not supported: {avro_type!r}")


def avro_schema_to_spark(avro_schema: dict[str, Any]) -> T.StructType:
    """Avro record schema (parsed JSON) → Spark ``StructType``.

    Equivalent of ``createOrcSchema`` (``OrcRecordWriter.java:106-131``) but
    targeting Spark's schema; Spark's ORC datasource derives the ORC
    TypeDescription from it automatically.
    """
    if avro_schema.get("type") != "record":
        raise UnsupportedTypeError("top-level schema must be a record (flat struct)")
    fields = []
    for f in avro_schema["fields"]:
        dt, nullable = avro_field_type(f["type"])
        fields.append(T.StructField(f["name"], dt, nullable))
    return T.StructType(fields)


def spark_schema_to_avro(schema: T.StructType) -> dict[str, Any]:
    """Inverse mapping, for parity round-trips and schema-registry payloads:
    a record named ``record``."""
    rev = {
        T.BooleanType(): "boolean",
        T.IntegerType(): "int",
        T.LongType(): "long",
        T.FloatType(): "float",
        T.DoubleType(): "double",
        T.StringType(): "string",
    }
    fields = []
    for f in schema.fields:
        if type(f.dataType) not in _SUPPORTED_SPARK_TYPES:
            raise UnsupportedTypeError(f"type is not supported: {f.dataType}")
        avro_t: Any = rev[f.dataType]
        if f.nullable:
            avro_t = ["null", avro_t]
        fields.append({"name": f.name, "type": avro_t})
    return {"type": "record", "name": "record", "fields": fields}


def validate_engine_schema(schema: T.StructType) -> None:
    """Reject schemas outside the engine's declared ingest type surface
    (flat struct of the six primitives), like the reference's init-time check."""
    for f in schema.fields:
        if not isinstance(f.dataType, _SUPPORTED_SPARK_TYPES):
            raise UnsupportedTypeError(
                f"type is not supported: field {f.name!r} has {f.dataType.simpleString()}"
            )


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier: dots, spaces and
    backticks in it are taken literally."""
    return "`" + name.replace("`", "``") + "`"


def cast_exprs(
    schema: T.StructType, sources: Mapping[str, str | None] | None = None
) -> list[str]:
    """One ``CAST(<source> AS <type>) AS <name>`` SQL expression per field of
    ``schema``, for ``selectExpr``. ``sources`` maps a field name to the input
    column it is read from, or to None for a NULL of the field's type; by
    default each field reads the column of its own name."""
    out = []
    for f in schema.fields:
        src = f.name if sources is None else sources[f.name]
        src_sql = "NULL" if src is None else quote_ident(src)
        out.append(f"CAST({src_sql} AS {f.dataType.simpleString()}) AS {quote_ident(f.name)}")
    return out
