"""Schema evolution: compatibility modes, projection, rotation decisions.

The reference inherits schema handling from the Connect storage framework:
``StorageSchemaCompatibility`` (referenced at
``S3SinkConnectorTestBase.java:76``) decides, per record, whether a schema
change (a) is rejected, (b) projects the record onto the current schema, or
(c) rotates the output file and makes the new schema current; reference
tests use ``SchemaProjector.project`` for read-back comparison
(``DataWriterOrcTest.java:233-259``). The writer itself locks the schema
captured from the first record per file (``OrcRecordWriter.java:59-69``).

This module reproduces those semantics natively over Spark StructTypes on
the engine's six-type surface:

- :class:`Compatibility` — NONE / BACKWARD / FORWARD / FULL.
- :func:`is_compatible` — can ``reader`` read data written with ``writer``?
- :class:`SchemaTracker` — per-(topic) current-schema state machine
  returning CONTINUE / ROTATE, or raising on incompatible change.
- :func:`project_to_schema` — Connect's SchemaProjector as one declarative
  Spark projection (missing nullable fields → NULL, extra fields dropped,
  same-name same-type enforced) — Catalyst codegens it; no row-level work.

Scale note: schema checks are driver-side metadata operations (O(fields));
rotation merely closes the current file group, so evolution adds zero
executor work beyond the projection casts already in the write path.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_connect_storage_cloud_formats_spark.schema import (
    UnsupportedTypeError,
    cast_exprs,
    quote_ident,
    validate_engine_schema,
)


class Compatibility(Enum):
    NONE = "NONE"
    BACKWARD = "BACKWARD"
    FORWARD = "FORWARD"
    FULL = "FULL"


class IncompatibleSchemaError(ValueError):
    """Schema change not allowed under the configured compatibility mode
    (Connect raises DataException and fails the task)."""


def _field_map(schema: T.StructType) -> dict[str, T.StructField]:
    return {f.name: f for f in schema.fields}


def _can_read(reader: T.StructType, writer: T.StructType) -> bool:
    """Can data written with ``writer`` be projected onto ``reader``?
    Allowed: writer lacks reader fields only if those are nullable in the
    reader; writer's extra fields are dropped; same-name fields must have
    identical types (the six-type surface has no promotions — the reference
    reparses strings but never widens, OrcRecordWriter.java:204-237) AND a
    non-nullable reader field requires a non-nullable writer field (a
    nullable writer may carry nulls the reader's contract forbids —
    round-9 review: the old check admitted them and the projection would
    plant NULLs in a file group whose locked schema says NOT NULL)."""
    w = _field_map(writer)
    for rf in reader.fields:
        wf = w.get(rf.name)
        if wf is None:
            if not rf.nullable:
                return False
        elif wf.dataType != rf.dataType:
            return False
        elif wf.nullable and not rf.nullable:
            return False
    return True


def is_compatible(old: T.StructType, new: T.StructType, mode: Compatibility) -> bool:
    # NONE = no compatibility CHECKING (Connect StorageSchemaCompatibility
    # semantics: every change is taken as-is and the sink rotates) — the
    # pre-round-9 reading ("no change allowed") inverted it and failed the
    # task on the first schema change under the mode whose whole point is
    # to never fail on one.
    if mode is Compatibility.NONE:
        return True
    if mode is Compatibility.BACKWARD:  # new readers read old data
        return _can_read(new, old)
    if mode is Compatibility.FORWARD:  # old readers read new data
        return _can_read(old, new)
    return _can_read(new, old) and _can_read(old, new)  # FULL


class SchemaTracker:
    """Current-schema state machine for one logical stream (topic).

    ``observe(schema)`` returns ``"continue"`` when the batch can be written
    into the current file group (identical schema, or an older-but-
    projectable one), or ``"rotate"`` when the new schema becomes current
    and the sink must start a new file group — the Connect behavior where a
    schema *upgrade* closes open files. Incompatible changes raise."""

    def __init__(self, mode: Compatibility = Compatibility.BACKWARD) -> None:
        self.mode = mode
        self.current: T.StructType | None = None

    def observe(self, schema: T.StructType) -> str:
        validate_engine_schema(schema)
        if self.current is None:
            self.current = schema
            return "rotate"  # first schema opens the first file group
        if schema == self.current:
            return "continue"
        if not is_compatible(self.current, schema, self.mode):
            raise IncompatibleSchemaError(
                f"schema change rejected under {self.mode.value}: "
                f"{self.current.simpleString()} -> {schema.simpleString()}"
            )
        if self.mode is Compatibility.NONE:
            # no projection under NONE: every change rotates and the new
            # schema is current (Connect's rotate-on-any-change)
            self.current = schema
            return "rotate"
        cur = _field_map(self.current)
        lossless = all(
            f.name in cur and cur[f.name].dataType == f.dataType for f in schema.fields
        )
        if lossless and _can_read(self.current, schema):
            # projecting the batch onto the current shape loses nothing
            # (old/narrower producer) → keep the open file group
            return "continue"
        # upgrade: the batch carries fields the current schema lacks — close
        # the file group and make the new schema current (Connect rotation)
        self.current = schema
        return "rotate"


def project_to_schema(
    df: DataFrame, target: T.StructType, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Connect ``SchemaProjector.project`` as one ``selectExpr``: target
    field order, NULL-fill for missing nullable fields, drop extras, exact
    types. Raises on a missing non-nullable field or a type conflict.
    ``passthrough``: extra columns (e.g. the Kafka envelope) carried through
    unchanged ahead of the value fields when present."""
    validate_engine_schema(target)
    have = {f.name: f.dataType for f in df.schema.fields}
    # Case-insensitive resolution, matching Spark's default analyzer
    # (spark.sql.caseSensitive=false): a df column 'Score' satisfies a
    # target field 'score'. Two columns differing only by case fail loudly.
    lower_map: dict[str, str] = {}
    for name in have:
        key = name.lower()
        if key in lower_map:
            raise UnsupportedTypeError(
                f"ambiguous columns {lower_map[key]!r}/{name!r} differ only "
                f"by case; cannot project case-insensitively"
            )
        lower_map[key] = name
    target_lower = {f.name.lower() for f in target.fields}
    # a passthrough name that is ALSO a target field would emit the column
    # twice (duplicate names break the write) — the target projection wins
    cols = [
        quote_ident(c)
        for c in passthrough
        if c.lower() in lower_map and c.lower() not in target_lower
    ]
    sources: dict[str, str | None] = {}
    for f in target.fields:
        src = lower_map.get(f.name.lower())
        if src is not None and have[src] != f.dataType:
            # Connect's SchemaProjector raises on a type conflict: a silent
            # cast would turn unparseable values into NULLs
            raise UnsupportedTypeError(
                f"type conflict projecting {src!r}: input "
                f"{have[src].simpleString()} vs target "
                f"{f.dataType.simpleString()}"
            )
        if src is None and not f.nullable:
            raise UnsupportedTypeError(
                f"cannot project: non-nullable field {f.name!r} absent from input"
            )
        sources[f.name] = src
    return df.selectExpr(*cols, *cast_exprs(target, sources))
