"""Unit layer: envelope serde fidelity, type map arms, DDL golden string."""

from __future__ import annotations

import json

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_postgres_to_clickhouse_spark.operators.envelope import (
    build_envelope_json,
    parse_envelope,
)
from kafka_connect_postgres_to_clickhouse_spark.plans.ddl import generate_ddl
from kafka_connect_postgres_to_clickhouse_spark.plans.typemap import (
    pg_to_clickhouse,
    pg_to_spark,
)
from kafka_connect_postgres_to_clickhouse_spark.sources.catalog import (
    catalog_columns_df,
)
from kafka_connect_postgres_to_clickhouse_spark.sources.changelog import (
    reference_scenario_changelog,
)

GOLDEN_DDL = (
    "CREATE TABLE IF NOT EXISTS iman.users (user_id UInt32, username String, "
    "account_type String, updated_at DateTime64(6), created_at DateTime64(6)) "
    "ENGINE = ReplacingMergeTree() ORDER BY user_id;"
)


def test_typemap_every_arm():
    # one assert per CASE arm of reference setup.sh:40-49
    assert pg_to_clickhouse("integer") == "UInt32"
    assert pg_to_clickhouse("bigint") == "UInt64"
    assert pg_to_clickhouse("numeric") == "Decimal(18,2)"
    assert pg_to_clickhouse("text") == "String"
    assert pg_to_clickhouse("character varying") == "String"
    assert pg_to_clickhouse("timestamp without time zone") == "DateTime64(6)"
    assert pg_to_clickhouse("uuid") == "UUID"
    assert pg_to_clickhouse("jsonb") == "String"  # fallback setup.sh:48
    assert pg_to_spark("integer") == T.IntegerType()
    assert pg_to_spark("timestamp without time zone") == T.TimestampType()


def test_ddl_matches_reference_golden(spark):
    """README.md:108 golden DDL string, byte for byte."""
    out = {
        r.table_name: r.ddl
        for r in generate_ddl(catalog_columns_df(spark)).collect()
    }
    assert out["users"] == GOLDEN_DDL


def test_envelope_roundtrip_and_shape(spark):
    log = reference_scenario_changelog(spark)
    payload = log.select("user_id", "username", "account_type", "updated_at")
    wire = log.select(
        "_seq",
        build_envelope_json(payload.schema, "postgres_cdc.iman.users.Value").alias(
            "value"
        ),
    )
    raw = json.loads(wire.filter(F.col("_seq") == 1).collect()[0].value)
    # envelope shape of README.md:127-129
    assert set(raw) == {"schema", "payload"}
    assert raw["schema"]["name"] == "postgres_cdc.iman.users.Value"
    fields = {f["field"]: f for f in raw["schema"]["fields"]}
    assert fields["user_id"]["type"] == "int32"
    assert fields["updated_at"]["name"] == "io.debezium.time.MicroTimestamp"
    assert isinstance(raw["payload"]["updated_at"], int)  # epoch micros

    parsed = parse_envelope(wire, payload.schema)
    back = parsed.filter(F.col("_seq") == 1).collect()[0]
    orig = log.filter(F.col("_seq") == 1).collect()[0]
    assert back.user_id == orig.user_id
    assert back.updated_at == orig.updated_at  # microsecond-exact
    assert not back._corrupt


def test_corrupt_record_routed_not_fatal(spark):
    log = reference_scenario_changelog(spark)
    payload = log.select("user_id", "username", "account_type", "updated_at")
    wire = log.select(
        "_seq",
        build_envelope_json(payload.schema, "x").alias("value"),
    ).withColumn(
        "value",
        F.when(F.col("_seq") == 2, F.lit('{"schema": {"broken'))
        .otherwise(F.col("value")),
    )
    parsed = parse_envelope(wire, payload.schema)
    assert parsed.filter(F.col("_corrupt")).count() == 1
    assert parsed.filter(~F.col("_corrupt")).count() == 5


def test_key_envelope_matches_payload_pk(spark):
    """Reference key converter (setup.sh:96-98): the key is its own
    {"schema","payload"} JSON; its PK must equal the value payload's."""
    from kafka_connect_postgres_to_clickhouse_spark.operators.envelope import parse_key

    key_schema = T.StructType([T.StructField("user_id", T.IntegerType(), False)])
    log = reference_scenario_changelog(spark)
    keyed = log.select(
        "_seq",
        F.col("user_id").alias("payload_user_id"),
        build_envelope_json(key_schema, "postgres_cdc.iman.users.Key").alias("key"),
    )
    # wire shape: self-describing schema with the PK field
    sample = json.loads(keyed.select("key").first()[0])
    assert sample["schema"]["name"] == "postgres_cdc.iman.users.Key"
    assert sample["schema"]["fields"][0]["field"] == "user_id"
    assert sample["schema"]["fields"][0]["type"] == "int32"
    parsed = parse_key(keyed, key_schema).collect()
    assert len(parsed) == 6
    for r in parsed:
        assert r.key_user_id == r.payload_user_id


def test_decimal_uuid_bigint_envelope_roundtrip(spark):
    """The typemap arms r1 never pushed through the data path
    (setup.sh:42-47): numeric (Connect Decimal base64, signed, within
    the 64-bit unscaled limit of Decimal(18,*)), uuid, bigint."""
    from decimal import Decimal

    from kafka_connect_postgres_to_clickhouse_spark.operators.envelope import (
        CONNECT_DECIMAL,
        DEBEZIUM_UUID,
    )

    schema = T.StructType(
        [
            T.StructField("big_id", T.LongType()),
            T.StructField("balance", T.DecimalType(18, 2)),
            T.StructField("user_uuid", T.StringType()),
        ]
    )
    rows = [
        (7_000_000_000, Decimal("1234.56"), "d41d8cd9-8f00-b204-e980-0998ecf8427e"),
        (1, Decimal("0.01"), "00000000-0000-0000-0000-000000000000"),
        (2, Decimal("0.00"), "ffffffff-ffff-ffff-ffff-ffffffffffff"),
        (3, Decimal("-1.23"), None),
        (4, Decimal("-0.01"), None),
        (5, Decimal("-9999999999999999.99"), None),  # the 64-bit limit: Decimal(18,2)
        (6, Decimal("9999999999999999.99"), None),
    ]
    df = spark.createDataFrame(rows, schema)
    wire = df.select(
        build_envelope_json(
            schema, "t.Value", logical={"user_uuid": DEBEZIUM_UUID}
        ).alias("value")
    )
    # precise-mode decimal: base64 of big-endian unscaled int (123456
    # cents = 0x1E240); uuid carries its Debezium logical name
    sample = json.loads(wire.first()[0])
    fields = {f["field"]: f for f in sample["schema"]["fields"]}
    assert fields["balance"]["type"] == "bytes"
    assert fields["balance"]["name"] == CONNECT_DECIMAL
    assert fields["user_uuid"]["name"] == DEBEZIUM_UUID
    import base64

    raw = base64.b64decode(sample["payload"]["balance"])
    assert int.from_bytes(raw, "big") == 123456
    out = {r.big_id: r for r in parse_envelope(wire, schema).collect()}
    assert out[7_000_000_000].balance == Decimal("1234.56")
    assert out[1].balance == Decimal("0.01")
    assert out[2].balance == Decimal("0.00")
    assert out[2].user_uuid == "ffffffff-ffff-ffff-ffff-ffffffffffff"
    assert {r[0]: r[1] for r in rows} == {k: r.balance for k, r in out.items()}

    # Connect itself writes the shortest two's-complement bytes, which
    # the decoder reads signed
    hand_built = spark.createDataFrame(
        [(json.dumps({"schema": None, "payload": {"big_id": i, "balance": b}}),)
         for i, b in enumerate(["/4U=", "/w==", "AeJA"])],
        "value string",
    )
    out = {r.big_id: r.balance for r in parse_envelope(hand_built, schema).collect()}
    assert out == {0: Decimal("-1.23"), 1: Decimal("-0.01"), 2: Decimal("1234.56")}
    # nine bytes (2**64 + 5) do not fit the 64-bit decoder: it fails, not truncates
    too_wide = spark.createDataFrame(
        [(json.dumps({"schema": None, "payload": {"balance": "AQAAAAAAAAAF"}}),)], "value string"
    )
    with pytest.raises(PySparkException, match="wider than 64 bits"):
        parse_envelope(too_wide, schema).collect()
