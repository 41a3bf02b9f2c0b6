"""Debezium-style change-event envelope: build, parse, unwrap.

Wire format replicated (reference README.md:127-129): each Kafka value
is a self-describing JSON pair ``{"schema": {...}, "payload": {...}}``
where, after the ``ExtractNewRecordState`` SMT (setup.sh:105-107),
``payload`` is the flat after-image of the row and timestamps ride as
``io.debezium.time.MicroTimestamp`` = int64 epoch-microseconds
(e.g. 1754155842030174 = 2025-08-02 17:30:42.030174, README.md:120).
The record key travels in the same envelope with the PK columns as its
payload (the reference's key and value converters are configured alike).

How each Spark type travels on the wire is decided in one place,
``_codec``; the schema entries, the ``from_json`` read schema, the
encoder and the decoder all read it, and the value and key parsers share
one decode step, ``_decode``.

Spark-first design: serde is ``to_json``/``from_json`` — JVM-side,
whole-stage-codegen, no Python in the loop.  At 100 TB the parse is a
per-row narrow map over the Kafka batch: no shuffle, scales linearly
with executors.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_JSON_WIRE_TYPE = {
    T.IntegerType(): "int32",
    T.LongType(): "int64",
    T.StringType(): "string",
    T.DoubleType(): "double",
    T.BooleanType(): "boolean",
}

MICRO_TS = "io.debezium.time.MicroTimestamp"
# Kafka Connect / Debezium logical types on the JSON wire (public
# Debezium docs, decimal.handling.mode=precise default): a numeric
# column travels as BASE64 of the big-endian unscaled integer, a uuid
# as a logical-named string.
CONNECT_DECIMAL = "org.apache.kafka.connect.data.Decimal"
DEBEZIUM_UUID = "io.debezium.data.Uuid"


class _Wire(NamedTuple):
    type: str  # ``schema.fields[].type``
    logical: str | None  # Connect logical name, ``schema.fields[].name``
    read: T.DataType  # the payload field's type in ``from_json``'s schema
    encode: Callable[[Column], Column]  # Spark value -> wire value
    decode: Callable[[Column], Column]  # wire value -> Spark value


def _codec(dt: T.DataType) -> _Wire:
    """How a value of Spark type ``dt`` travels on the wire: the one
    type dispatch of the envelope.

    A timestamp is an int64 ``MicroTimestamp`` (``unix_micros`` out,
    ``timestamp_micros`` back, exact at microseconds).  A decimal is a
    Connect ``Decimal``: base64 of the big-endian two's-complement
    unscaled integer, signed and at most 64 bits, so ``Decimal(18,*)``
    columns.  The encoder writes all 8 bytes; the decoder also reads the
    shorter forms Connect writes (``"/4U="`` is -1.23 at scale 2), raises
    on a wider value and divides exactly, never through a double.  Every
    other type travels as itself, named by ``_JSON_WIRE_TYPE``
    (``"string"`` for the types it does not list).
    """
    if isinstance(dt, T.TimestampType):
        return _Wire("int64", MICRO_TS, T.LongType(), F.unix_micros, F.timestamp_micros)
    if isinstance(dt, T.DecimalType):
        scale = 10 ** dt.scale

        def encode(c: Column) -> Column:
            return F.base64(F.unhex(F.lpad(F.hex((c * scale).cast("long")), 16, "0")))

        def decode(c: Column) -> Column:
            # Connect writes the shortest two's-complement bytes: sign-extend
            # them to 64 bits, then read the hex as a signed long.  A wider
            # value fails the batch, as lpad would cut it short.
            hexed = F.hex(F.unbase64(c))
            sign = F.when(F.substring(hexed, 1, 1) >= "8", "F").otherwise("0")
            signed = F.when(
                F.length(hexed) > 16,
                F.raise_error(F.concat(F.lit("Connect Decimal wider than 64 bits: "), c)),
            ).otherwise(F.lpad(hexed, 16, sign))
            unscaled = F.conv(signed, 16, -10).cast(T.DecimalType(38, 0))
            return (unscaled / F.lit(scale).cast(T.DecimalType(19, 0))).cast(dt)

        return _Wire("bytes", CONNECT_DECIMAL, T.StringType(), encode, decode)
    return _Wire(_JSON_WIRE_TYPE.get(dt, "string"), None, dt, lambda c: c, lambda c: c)


def _field_schema_struct(f: T.StructField, logical: dict[str, str] | None = None) -> Column:
    """One entry of ``schema.fields`` (README.md:127 shape).  The codec's
    logical name wins; ``logical`` names only fields the codec gives
    none."""
    wire = _codec(f.dataType)
    name = wire.logical or (logical or {}).get(f.name)
    return F.struct(
        F.lit(wire.type).alias("type"),
        F.lit(f.nullable).alias("optional"),
        F.lit(name).cast("string").alias("name"),
        F.lit(1 if name else None).cast("int").alias("version"),
        F.lit(f.name).alias("field"),
    )


def debezium_value_schema(payload_schema: T.StructType) -> T.StructType:
    """Spark schema of the wire envelope for ``from_json``: the
    ``schema`` half as written by ``build_envelope_json``, and the
    payload with each field at the type the codec reads it as (a
    timestamp as its int64 micros, a decimal as its base64 text).
    """
    field_meta = T.StructType(
        [
            T.StructField("type", T.StringType()),
            T.StructField("optional", T.BooleanType()),
            T.StructField("name", T.StringType()),
            T.StructField("version", T.IntegerType()),
            T.StructField("field", T.StringType()),
        ]
    )
    wire_payload = T.StructType(
        [T.StructField(f.name, _codec(f.dataType).read, f.nullable) for f in payload_schema.fields]
    )
    return T.StructType(
        [
            T.StructField(
                "schema",
                T.StructType(
                    [
                        T.StructField("type", T.StringType()),
                        T.StructField("fields", T.ArrayType(field_meta)),
                        T.StructField("optional", T.BooleanType()),
                        T.StructField("name", T.StringType()),
                    ]
                ),
            ),
            T.StructField("payload", wire_payload),
        ]
    )


def build_envelope_json(
    payload_schema: T.StructType,
    schema_name: str,
    logical: dict[str, str] | None = None,
) -> Column:
    """Serialize rows into the reference's wire JSON (inverse of
    ``parse_envelope`` and ``parse_key``).  The column expression is
    built purely from ``payload_schema`` — apply it with
    ``df.select(...)`` on any frame carrying those columns.  A record
    key is built the same way from the PK columns, e.g.
    ``{"schema":{"type":"struct","fields":[{"type":"int32",...,
    "field":"user_id"}],"name":"...users.Key"},"payload":{"user_id":1}}``.

    Each value is encoded by the codec (``_codec``).  ``logical``
    optionally names fields with a logical wire type the codec does not
    give (e.g. ``{"user_uuid": DEBEZIUM_UUID}``).
    """
    payload_cols = [
        _codec(f.dataType).encode(F.col(f.name)).alias(f.name) for f in payload_schema.fields
    ]
    schema_col = F.struct(
        F.lit("struct").alias("type"),
        F.array(
            *[_field_schema_struct(f, logical) for f in payload_schema.fields]
        ).alias("fields"),
        F.lit(False).alias("optional"),
        F.lit(schema_name).alias("name"),
    )
    return F.to_json(
        F.struct(schema_col.alias("schema"), F.struct(*payload_cols).alias("payload")),
        {"ignoreNullFields": "false"},
    )


def _decode(df: DataFrame, col: str, schema: T.StructType, prefix: str = "") -> DataFrame:
    """The decode step both parsers share: ``df`` without ``col``, then
    each field of ``schema`` decoded by the codec from the envelope in
    ``col`` (named ``prefix`` + field name), then the parsed
    ``_envelope`` struct.

    ``from_json`` runs in ``PERMISSIVE`` mode, which mirrors
    ``errors.tolerance=all`` (setup.sh:145-147): malformed JSON yields
    nulls instead of failing the query.
    """
    envelope = F.from_json(
        F.col(col).cast("string"), debezium_value_schema(schema), {"mode": "PERMISSIVE"}
    )
    parsed = df.withColumn("_envelope", envelope)
    fields = [
        _codec(f.dataType).decode(F.col(f"_envelope.payload.{f.name}")).alias(prefix + f.name)
        for f in schema.fields
    ]
    return parsed.select(*[c for c in df.columns if c != col], *fields, "_envelope")


def parse_envelope(df: DataFrame, payload_schema: T.StructType) -> DataFrame:
    """bytes/str ``value`` -> typed flat row (the JsonConverter + unwrap
    path), plus ``_corrupt``; every other column of ``df`` is kept.

    Malformed JSON is not fatal (``PERMISSIVE``, see ``_decode``): its
    row is flagged ``_corrupt`` with null payload columns, and callers
    route it to a DLQ.
    """
    # PERMISSIVE from_json yields a struct of nulls (not a null struct)
    # on malformed input, so corruption == NEITHER field materialized.
    # A null payload under a non-null schema is a legitimate wire form
    # (a Debezium delete after ExtractNewRecordState carries
    # payload:null) — that row is kept with null payload columns, not
    # routed to the DLQ.
    corrupt = F.col("_envelope").isNull() | (
        F.col("_envelope.payload").isNull() & F.col("_envelope.schema").isNull()
    )
    return _decode(df, "value", payload_schema).withColumn("_corrupt", corrupt).drop("_envelope")


def parse_key(df: DataFrame, key_schema: T.StructType) -> DataFrame:
    """Parse the wire ``key`` envelope (built by ``build_envelope_json``
    from the PK columns) into typed ``key_<pk-col>`` columns, through the
    same decode step as ``parse_envelope``.

    The value-side columns are untouched, so callers can assert
    key/payload PK agreement (per-key ordering derives from the key in
    the reference; this engine also derives it from ``_seq`` — both are
    checked against each other in tests)."""
    return _decode(df, "key", key_schema, "key_").drop("_envelope")


def unwrap(df: DataFrame) -> DataFrame:
    """ExtractNewRecordState (setup.sh:105-107): op envelope -> after image.

    Input has struct columns ``before``/``after`` and scalar ``op``;
    output is the flat after-image plus ``op`` (pure projection —
    Catalyst prunes ``before``/``source`` from the scan entirely).
    """
    return df.select("after.*", "op")
