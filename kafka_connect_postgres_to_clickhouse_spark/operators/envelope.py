"""Debezium-style change-event envelope: build, parse, unwrap.

Wire format replicated (reference README.md:127-129): each Kafka value
is a self-describing JSON pair ``{"schema": {...}, "payload": {...}}``
where, after the ``ExtractNewRecordState`` SMT (setup.sh:105-107),
``payload`` is the flat after-image of the row and timestamps ride as
``io.debezium.time.MicroTimestamp`` = int64 epoch-microseconds
(e.g. 1754155842030174 = 2025-08-02 17:30:42.030174, README.md:120).

Spark-first design: serde is ``to_json``/``from_json`` — JVM-side,
whole-stage-codegen, no Python in the loop.  At 100 TB the parse is a
per-row narrow map over the Kafka batch: no shuffle, scales linearly
with executors.
"""

from __future__ import annotations

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


def _field_schema_struct(f: T.StructField, logical: dict[str, str] | None = None) -> Column:
    """One entry of ``schema.fields`` (README.md:127 shape)."""
    if isinstance(f.dataType, T.TimestampType):
        wire, name, version = "int64", MICRO_TS, 1
    elif isinstance(f.dataType, T.DecimalType):
        wire, name, version = "bytes", CONNECT_DECIMAL, 1
    elif logical and f.name in logical:
        wire, name, version = _JSON_WIRE_TYPE.get(f.dataType, "string"), logical[f.name], 1
    else:
        wire = _JSON_WIRE_TYPE.get(f.dataType, "string")
        name, version = None, None
    return F.struct(
        F.lit(wire).alias("type"),
        F.lit(f.nullable).alias("optional"),
        F.lit(name).cast("string").alias("name"),
        F.lit(version).cast("int").alias("version"),
        F.lit(f.name).alias("field"),
    )


def debezium_value_schema(payload_schema: T.StructType) -> T.StructType:
    """Spark schema of the wire envelope for ``from_json``.

    Timestamp fields travel as int64 micros (MicroTimestamp), so the
    wire payload struct swaps TimestampType -> LongType; ``parse_envelope``
    restores them with ``timestamp_micros``.
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
    def _wire_type(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.TimestampType):
            return T.LongType()  # MicroTimestamp int64
        if isinstance(dt, T.DecimalType):
            return T.StringType()  # Connect Decimal: base64 text
        return dt

    wire_payload = T.StructType(
        [T.StructField(f.name, _wire_type(f.dataType), f.nullable) for f in payload_schema.fields]
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
    """Serialize rows into the reference's wire JSON (inverse of parse).
    The column expression is built purely from ``payload_schema`` —
    apply it with ``df.select(...)`` on any frame carrying those
    columns.

    Timestamps are emitted as epoch-microseconds via ``unix_micros``
    (reference wire type MicroTimestamp, README.md:127).  Decimals are
    emitted precise-mode: base64 of the big-endian unscaled integer
    (Connect Decimal logical type) — implemented over a 64-bit
    unscaled value via hex/unhex, which covers Decimal(18,*) columns
    with non-negative values (the fixture/reference domain; a full
    arbitrary-precision signed path would BigInteger-encode in a
    pandas_udf).  ``logical`` optionally names fields with a logical
    wire type (e.g. ``{"user_uuid": DEBEZIUM_UUID}``).
    """
    payload_cols = []
    for f in payload_schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.TimestampType):
            c = F.unix_micros(c)
        elif isinstance(f.dataType, T.DecimalType):
            unscaled = (c * (10 ** f.dataType.scale)).cast("long")
            c = F.base64(F.unhex(F.lpad(F.hex(unscaled), 16, "0")))
        payload_cols.append(c.alias(f.name))
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


def parse_envelope(df: DataFrame, payload_schema: T.StructType) -> DataFrame:
    """bytes/str ``value`` -> typed flat row (the JsonConverter + unwrap
    path).

    ``from_json`` runs in ``PERMISSIVE`` mode, which mirrors
    ``errors.tolerance=all`` (setup.sh:145-147): malformed JSON yields a
    null struct instead of failing the query; callers route those rows
    to a DLQ.
    Micro-timestamps are restored with ``timestamp_micros`` — the exact
    inverse of the Debezium MicroTimestamp encoding.
    """
    wire = debezium_value_schema(payload_schema)
    parsed = df.withColumn(
        "_envelope",
        F.from_json(F.col("value").cast("string"), wire, {"mode": "PERMISSIVE"}),
    )
    out_cols = []
    for f in payload_schema.fields:
        c = F.col(f"_envelope.payload.{f.name}")
        if isinstance(f.dataType, T.TimestampType):
            c = F.timestamp_micros(c)
        elif isinstance(f.dataType, T.DecimalType):
            # precise-mode inverse: base64 -> big-endian unscaled int ->
            # exact decimal division (never a double in the path)
            unscaled = F.conv(F.hex(F.unbase64(c)), 16, 10).cast(T.DecimalType(38, 0))
            c = (
                unscaled / F.lit(10 ** f.dataType.scale).cast(T.DecimalType(19, 0))
            ).cast(f.dataType)
        out_cols.append(c.alias(f.name))
    keep = [c for c in df.columns if c != "value"]
    # PERMISSIVE from_json yields a struct of nulls (not a null struct)
    # on malformed input, so corruption == NEITHER field materialized.
    # A null payload under a non-null schema is a legitimate wire form
    # (a Debezium delete after ExtractNewRecordState carries
    # payload:null) — that row is kept with null payload columns, not
    # routed to the DLQ.
    corrupt = F.col("_envelope").isNull() | (
        F.col("_envelope.payload").isNull() & F.col("_envelope.schema").isNull()
    )
    return parsed.select(*keep, *out_cols, corrupt.alias("_corrupt"))


def build_key_json(key_schema: T.StructType, schema_name: str) -> Column:
    """Serialize the record KEY into its wire JSON envelope.

    The reference configures the key converter identically to the value
    converter (JsonConverter + schemas.enable, setup.sh:96-98,139-141),
    so a key is the same self-describing ``{"schema","payload"}`` pair
    with the table's PK columns as the payload — e.g.
    ``{"schema":{"type":"struct","fields":[{"type":"int32",...,
    "field":"user_id"}],"name":"...users.Key"},"payload":{"user_id":1}}``.
    """
    return build_envelope_json(key_schema, schema_name)


def parse_key(df: DataFrame, key_schema: T.StructType) -> DataFrame:
    """Parse the wire ``key`` envelope into ``key_<pk-col>`` columns
    (``PERMISSIVE``, like ``parse_envelope``).

    The value-side columns are untouched, so callers can assert
    key/payload PK agreement (per-key ordering derives from the key in
    the reference; this engine also derives it from ``_seq`` — both are
    checked against each other in tests)."""
    wire = debezium_value_schema(key_schema)
    parsed = df.withColumn(
        "_key_envelope",
        F.from_json(F.col("key").cast("string"), wire, {"mode": "PERMISSIVE"}),
    )
    out = [
        F.col(f"_key_envelope.payload.{f.name}").alias(f"key_{f.name}")
        for f in key_schema.fields
    ]
    keep = [c for c in df.columns if c != "key"]
    return parsed.select(*keep, *out)


def unwrap(df: DataFrame) -> DataFrame:
    """ExtractNewRecordState (setup.sh:105-107): op envelope -> after image.

    Input has struct columns ``before``/``after`` and scalar ``op``;
    output is the flat after-image plus ``op`` (pure projection —
    Catalyst prunes ``before``/``source`` from the scan entirely).
    """
    return df.select("after.*", "op")
