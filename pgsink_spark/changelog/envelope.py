"""Modification envelope: one row change, before/after images.

Mirrors the reference's ``Modification`` record — ``Timestamp, Namespace,
Name, LSN *uint64, Before, After`` (reference
pkg/changelog/modification.go:11-18) — as a Spark ``StructType``.
``Operation`` is derived, never stored
(pkg/changelog/modification.go:103-123): an entry with a null LSN is an
IMPORT (backfill) row; otherwise null-ness of before/after discriminates
INSERT/DELETE/UPDATE. ``after_or_before`` is the last known row image
(delete → before, pkg/changelog/modification.go:127-133).

Scale note: the envelope keeps ``before``/``after`` as *typed struct
columns* (one payload StructType per table), so every downstream
operator — routing, compaction windows, sink projections — stays inside
Tungsten codegen; nothing serializes payloads to strings on the hot
path. ``to_envelope`` is a pure ``select`` over an arbitrary source
scan, so Catalyst still pushes filters/pruning into the source.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

OP_IMPORT = "IMPORT"
OP_INSERT = "INSERT"
OP_UPDATE = "UPDATE"
OP_DELETE = "DELETE"


def envelope_schema(payload: T.StructType) -> T.StructType:
    """Envelope StructType for a table whose row payload is ``payload``."""
    return T.StructType(
        [
            T.StructField("timestamp", T.TimestampType(), False),
            T.StructField("namespace", T.StringType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("lsn", T.LongType(), True),
            # intra-transaction sequence (SequencedMessage, reference
            # pkg/subscription/sequence.go:7-11): total order is
            # (lsn, sequence) — two changes to the same key inside one
            # transaction share lsn+timestamp, so compaction must break
            # the tie on sequence or it serves an arbitrary image
            T.StructField("sequence", T.LongType(), True),
            T.StructField("before", payload, True),
            T.StructField("after", payload, True),
        ]
    )


def operation(
    lsn: Column | str = "lsn",
    before: Column | str = "before",
    after: Column | str = "after",
) -> Column:
    """Derived operation column (IMPORT/INSERT/DELETE/UPDATE)."""
    lsn, before, after = (F.col(c) if isinstance(c, str) else c for c in (lsn, before, after))
    return (
        F.when(lsn.isNull(), F.lit(OP_IMPORT))
        .when(before.isNull(), F.lit(OP_INSERT))
        .when(after.isNull(), F.lit(OP_DELETE))
        .otherwise(F.lit(OP_UPDATE))
    )


def after_or_before(
    before: Column | str = "before", after: Column | str = "after"
) -> Column:
    """Last known row image: after unless deleted, else before."""
    before, after = (F.col(c) if isinstance(c, str) else c for c in (before, after))
    return F.coalesce(after, before)


def to_envelope(
    rows: DataFrame,
    namespace: str,
    name: str,
    timestamp: Column | None = None,
    lsn: Column | None = None,
) -> DataFrame:
    """Wrap a plain row DataFrame as IMPORT-style envelope entries.

    This is the batch-import projection: every source row becomes an
    entry with ``before = NULL`` and ``after = struct(*row)``; a null
    ``lsn`` marks it as an import (backfill) row, exactly the
    reference's import marshaling (pkg/imports/importer.go:210-245 emits
    modifications with LSN=nil).
    """
    ts = timestamp if timestamp is not None else F.current_timestamp()
    lsn_col = lsn if lsn is not None else F.lit(None).cast("bigint")
    payload = F.struct(*[F.col(c) for c in rows.columns])
    return rows.select(
        ts.alias("timestamp"),
        F.lit(namespace).alias("namespace"),
        F.lit(name).alias("name"),
        lsn_col.alias("lsn"),
        F.lit(None).cast("bigint").alias("sequence"),
        F.lit(None).cast(payload_type_of(rows)).alias("before"),
        payload.alias("after"),
    )


def cast_envelope(
    env: DataFrame, payload: T.StructType, strict: bool = True
) -> DataFrame:
    """Generic wire envelope → typed envelope (the schema-cast stage).

    The streaming source emits payload images as ``map<string,string>``
    (text-format pgoutput tuples are untyped on the wire — reference
    pkg/logical/decoder.go keeps them as strings until the relation's
    column types are applied). This projection applies a table's
    registered payload StructType: each map value is looked up by field
    name and parsed as the field's Spark type, nulls and absent keys
    flowing through as NULL. Scalars are CAST from their text; a
    ``BinaryType`` value is pgoutput's hex text (``\\x0102ff``), decoded
    by dropping the ``\\x`` and unhexing the rest; an ``ArrayType``
    value is a JSON list of element texts (the source's rendering of a
    Postgres array, NULL elements as ``null``), parsed with
    ``from_json`` and each element decoded by its own type's rule.
    Pure column expressions — the cast runs in whole-stage codegen, no
    Python.

    ``strict=True`` (default) is fail-stop under ANSI mode: a datum the
    declared type cannot parse kills the batch — the reference's
    posture (a decode error fails the subscription rather than
    corrupting the sink). ``strict=False`` swaps in the ``try_``
    variants so malformed values land as NULL and the stream survives —
    choose it only with a downstream quarantine/audit on NULLs that the
    source said were non-null.
    """

    def parse(c: Column, t: T.DataType) -> Column:
        if isinstance(t, T.BinaryType):
            hexed = F.substr(c, F.lit(3))
            return (
                F.to_binary(hexed, F.lit("hex"))
                if strict
                else F.try_to_binary(hexed, F.lit("hex"))
            )
        if isinstance(t, T.ArrayType):
            texts = F.from_json(
                c, T.ArrayType(T.StringType()),
                {"mode": "FAILFAST" if strict else "PERMISSIVE"},
            )
            return F.transform(texts, lambda x: parse(x, t.elementType))
        return c.cast(t) if strict else c.try_cast(t)

    def img(col: str) -> Column:
        m = F.col(col)
        return F.when(
            m.isNotNull(),
            F.struct(
                *[
                    parse(m.getItem(f.name), f.dataType).alias(f.name)
                    for f in payload.fields
                ]
            ),
        )

    return env.select(
        "timestamp",
        "namespace",
        "name",
        "lsn",
        "sequence",
        img("before").alias("before"),
        img("after").alias("after"),
    )


def payload_type_of(rows: DataFrame) -> T.StructType:
    """The payload StructType a row DataFrame maps to."""
    return T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in rows.schema.fields]
    )


def with_operation(env: DataFrame) -> DataFrame:
    """Envelope + derived ``operation`` column."""
    return env.withColumn("operation", operation())
