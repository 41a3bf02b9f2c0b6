"""Registry wave 1: the CDC pipeline surface (SURVEY.md sections 2.1-2.4).

Each query re-expresses one observable behavior of the reference
pipeline on the driver fixtures; the DuckDB oracle mirrors the exact
same derivation so the driver's t2 hash-compare is meaningful.

The scaled changelog input is ``sources.changelog.users_changelog``
(events-derived, FIXTURES.md section 2); its DuckDB rendering is
``USERS_CHANGELOG_SQL`` and every oracle composes from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.ddl import generate_ddl
from ..plans.registry import register
from ..sources.catalog import (
    CATALOG_COLUMNS_SQL,
    CATALOG_TABLES_SQL,
    catalog_columns_df,
    catalog_tables_df,
)
from ..sources.changelog import USERS_CHANGELOG_SQL, users_changelog
from ..sources.tables import load_table
from .envelope import (
    DEBEZIUM_UUID,
    build_envelope_json,
    parse_envelope,
    parse_key,
)
from .upsert import apply_changelog, lww_dedup, upsert_batch

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB)

CHANGELOG_CTE = f"WITH changelog AS ({USERS_CHANGELOG_SQL})"

REPLAY_SQL = f"""
{CHANGELOG_CTE},
kept AS (SELECT * FROM changelog WHERE op <> 'd'),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY updated_at DESC, _seq DESC) AS rn
  FROM kept
)
SELECT user_id, username, account_type, updated_at, _seq AS last_seq
FROM ranked WHERE rn = 1
"""


def _changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    return users_changelog(load_table(spark, sf_dir, "events"))


def _replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = apply_changelog(
        _changelog(spark, sf_dir), keys=["user_id"], version_cols=["updated_at", "_seq"]
    )
    return state.select(
        "user_id", "username", "account_type", "updated_at", F.col("_seq").alias("last_seq")
    )


_USERS_PAYLOAD_COLS = ["user_id", "username", "account_type", "updated_at"]


def _users_payload_schema(spark: SparkSession, sf_dir: str):
    return _changelog(spark, sf_dir).select(*_USERS_PAYLOAD_COLS).schema


def _wire_envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared wire-envelope spill: the serialized Debezium-style wire
    JSON for every changelog record (_seq, op, value), built once per
    session.

    q_corrupt_tolerate, q_dlq_stats, and q_wire_size_stats all parse
    or price the SAME wire bytes; each used to rebuild
    build_envelope_json over the changelog, paying the row serde three
    times per session.  The _materialize spill makes the serialization
    cost explicit (bench line ``_materialize:wire_envelopes``) and
    billed once.  At 100 TB this table IS the topic: wire bytes exist
    exactly once on shared storage and every consumer scans them
    instead of re-serializing the source."""
    from .analytics_queries import _materialize

    def build() -> DataFrame:
        log = _changelog(spark, sf_dir)
        return log.select(
            "_seq",
            "op",
            build_envelope_json(
                log.select(*_USERS_PAYLOAD_COLS).schema,
                "postgres_cdc.iman.users.Value",
            ).alias("value"),
        )

    return _materialize(spark, sf_dir, "wire_envelopes", build)


from .analytics_queries import MATERIALIZATION_TRIGGERS  # noqa: E402

MATERIALIZATION_TRIGGERS["wire_envelopes"] = _wire_envelopes


# ---------------------------------------------------------------------------
# 2.1 sources / scans / ddl


@register("q_scan_snapshot", oracle="SELECT * FROM customer")
def q_scan_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial snapshot scan (snapshot.mode=initial, setup.sh:92)."""
    return load_table(spark, sf_dir, "customer")


@register(
    "q_scan_catalog",
    oracle=f"""
    SELECT table_name FROM {CATALOG_TABLES_SQL} t
    WHERE table_schema = 'iman' AND table_type = 'BASE TABLE'
    """,
)
def q_scan_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table discovery (reference setup.sh:29-30)."""
    t = catalog_tables_df(spark)
    return t.filter(
        (F.col("table_schema") == "iman") & (F.col("table_type") == "BASE TABLE")
    ).select("table_name")


@register(
    "q_scan_columns",
    oracle=f"""
    SELECT column_name, ordinal_position, data_type, is_nullable
    FROM {CATALOG_COLUMNS_SQL} c
    WHERE table_schema = 'iman' AND table_name = 'users'
    """,
)
def q_scan_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column metadata scan (reference setup.sh:50-52)."""
    c = catalog_columns_df(spark)
    return c.filter(
        (F.col("table_schema") == "iman") & (F.col("table_name") == "users")
    ).select("column_name", "ordinal_position", "data_type", "is_nullable")


@register(
    "q_ddl_generate",
    oracle=f"""
    WITH cols AS (
      SELECT table_schema, table_name, column_name, ordinal_position,
             CASE data_type
               WHEN 'integer' THEN 'UInt32'
               WHEN 'bigint' THEN 'UInt64'
               WHEN 'numeric' THEN 'Decimal(18,2)'
               WHEN 'text' THEN 'String'
               WHEN 'character varying' THEN 'String'
               WHEN 'timestamp without time zone' THEN 'DateTime64(6)'
               WHEN 'uuid' THEN 'UUID'
               ELSE 'String'
             END AS ch_type
      FROM {CATALOG_COLUMNS_SQL} c
    )
    SELECT table_schema, table_name,
           'CREATE TABLE IF NOT EXISTS ' || table_schema || '.' || table_name
           || ' (' || string_agg(column_name || ' ' || ch_type, ', ' ORDER BY ordinal_position)
           || ') ENGINE = ReplacingMergeTree() ORDER BY '
           || coalesce(
                substring(min(CASE WHEN column_name LIKE '%\\_id' ESCAPE '\\'
                              THEN lpad(CAST(ordinal_position AS VARCHAR), 6, '0')
                                   || ':' || column_name END), 8),
                arg_min(column_name, ordinal_position))
           || ';' AS ddl
    FROM cols
    GROUP BY table_schema, table_name
    """,
)
def q_ddl_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema translation PG -> ClickHouse DDL (reference setup.sh:36-66)."""
    return generate_ddl(catalog_columns_df(spark))


# ---------------------------------------------------------------------------
# 2.2 record transforms (the SMT chain)


@register(
    "q_envelope_parse",
    oracle=f"{CHANGELOG_CTE} SELECT _seq, user_id, username, account_type, updated_at FROM changelog",
)
def q_envelope_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire JSON round-trip: build the Debezium envelope, parse it back.

    Checks serde fidelity including MicroTimestamp micros<->timestamp
    (envelope shape README.md:127-129).
    """
    log = _changelog(spark, sf_dir)
    payload = log.select("user_id", "username", "account_type", "updated_at")
    wire = log.select(
        "_seq",
        build_envelope_json(
            payload.schema, "postgres_cdc.iman.users.Value"
        ).alias("value"),
    )
    parsed = parse_envelope(wire, payload.schema)
    return parsed.select("_seq", "user_id", "username", "account_type", "updated_at")


@register(
    "q_unwrap",
    oracle=f"{CHANGELOG_CTE} SELECT user_id, username, account_type, updated_at, op FROM changelog",
)
def q_unwrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExtractNewRecordState: op envelope {before,after,op} -> after image."""
    log = _changelog(spark, sf_dir)
    enveloped = log.select(
        F.lit(None)
        .cast(
            "struct<user_id:int,username:string,account_type:string,updated_at:timestamp>"
        )
        .alias("before"),
        F.struct("user_id", "username", "account_type", "updated_at").alias("after"),
        "op",
        F.struct(F.lit("postgresql").alias("connector"), F.lit("iman").alias("schema")).alias(
            "source"
        ),
    )
    from .envelope import unwrap

    return unwrap(enveloped)


@register(
    "q_tombstone_filter",
    oracle="""
    SELECT event_id, props AS value FROM events WHERE event_type <> 'error'
    """,
)
def q_tombstone_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone drop (setup.sh:94,107): null-valued records removed.

    'error' events play tombstones (null value); survivors keep payload.
    """
    events = load_table(spark, sf_dir, "events")
    keyed = events.select(
        "event_id",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("props")).alias(
            "value"
        ),
    )
    return keyed.filter(F.col("value").isNotNull())


@register(
    "q_delete_drop",
    oracle=f"{CHANGELOG_CTE} SELECT _seq, op, user_id, username, account_type, updated_at FROM changelog WHERE op <> 'd'",
)
def q_delete_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE events never reach the sink (SURVEY.md section 0)."""
    log = _changelog(spark, sf_dir)
    return log.filter(F.col("op") != "d").select(
        "_seq", "op", "user_id", "username", "account_type", "updated_at"
    )


@register(
    "q_ts_micros",
    oracle="""
    SELECT event_id,
           epoch_us(ts) AS ts_micros,
           make_timestamp(epoch_us(ts)) AS ts_roundtrip
    FROM events
    """,
)
def q_ts_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MicroTimestamp conversion: int64 epoch-micros <-> timestamp(6).

    The key wire conversion of the pipeline (README.md:127 value
    1754155842030174 = 2025-08-02 17:30:42.030174; sink DateTime64(6)).
    """
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.unix_micros("ts").alias("ts_micros"),
        F.timestamp_micros(F.unix_micros("ts")).alias("ts_roundtrip"),
    )


@register(
    "q_topic_route",
    oracle=f"""
    {CHANGELOG_CTE}
    SELECT regexp_extract(topic, '^postgres_cdc\\.iman\\.(.*)$', 1) AS table_name,
           count(*) AS n
    FROM changelog GROUP BY 1
    """,
)
def q_topic_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexRouter (setup.sh:119-126): strip topic prefix -> table name."""
    log = _changelog(spark, sf_dir)
    return log.select(
        F.regexp_extract("topic", r"^postgres_cdc\.iman\.(.*)$", 1).alias("table_name")
    ).groupBy("table_name").agg(F.count("*").alias("n"))


@register(
    "q_corrupt_tolerate",
    oracle=f"""
    {CHANGELOG_CTE}
    SELECT _seq, user_id, username, account_type, updated_at
    FROM changelog WHERE _seq % 97 <> 0
    """,
)
def q_corrupt_tolerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """errors.tolerance=all (setup.sh:145-147): skip poison records.

    Every 97th wire message is truncated mid-JSON; PERMISSIVE parsing
    nulls it and the pipeline continues with the clean rows.  The wire
    bytes come from the shared ``_wire_envelopes`` spill (built once,
    also consumed by q_dlq_stats / q_wire_size_stats).
    """
    wire = _wire_envelopes(spark, sf_dir).select("_seq", "value")
    corrupted = wire.withColumn(
        "value",
        F.when(F.col("_seq") % 97 == 0, F.substring("value", 1, 20)).otherwise(
            F.col("value")
        ),
    )
    parsed = parse_envelope(corrupted, _users_payload_schema(spark, sf_dir))
    clean = parsed.filter(~F.col("_corrupt"))
    return clean.select("_seq", "user_id", "username", "account_type", "updated_at")


# ---------------------------------------------------------------------------
# 2.3 keyed upsert / dedup / replay


@register(
    "q_dedup_lww",
    oracle=f"""
    {CHANGELOG_CTE},
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY updated_at DESC, _seq DESC) AS rn
      FROM changelog
    )
    SELECT _seq, op, user_id, username, account_type, updated_at
    FROM ranked WHERE rn = 1
    """,
)
def q_dedup_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplacingMergeTree LWW dedup, deterministic version (updated_at,_seq)."""
    log = _changelog(spark, sf_dir).select(
        "_seq", "op", "user_id", "username", "account_type", "updated_at"
    )
    return lww_dedup(log, keys=["user_id"], version_cols=["updated_at", "_seq"])


@register("q_changelog_replay", oracle=REPLAY_SQL)
def q_changelog_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: fold the changelog into current state (SURVEY.md 3.2).

    insert/update stream -> drop deletes -> LWW by key -> current table;
    the batch form of the reference's entire data plane.
    """
    return _replay(spark, sf_dir)


@register(
    "q_delete_apply",
    oracle=f"""
    {CHANGELOG_CTE},
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY updated_at DESC, _seq DESC) AS rn
      FROM changelog
    )
    SELECT user_id, username, account_type, updated_at, _seq AS last_seq
    FROM ranked WHERE rn = 1 AND op <> 'd'
    """,
)
def q_delete_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT stricter mode: the final event per key decides survival —
    keys whose last change is a DELETE are removed (the semantics the
    reference conspicuously does NOT have; SURVEY.md section 0)."""
    state = apply_changelog(
        _changelog(spark, sf_dir),
        keys=["user_id"],
        version_cols=["updated_at", "_seq"],
        apply_deletes=True,
    )
    return state.select(
        "user_id", "username", "account_type", "updated_at", F.col("_seq").alias("last_seq")
    )


@register(
    "q_schema_evolution",
    oracle=f"""
    {CHANGELOG_CTE}
    SELECT user_id, username, NULL AS account_type, 1 AS schema_version
    FROM changelog WHERE _seq <= 5000
    UNION ALL BY NAME
    SELECT user_id, username, account_type, 2 AS schema_version
    FROM changelog WHERE _seq > 5000
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """auto.evolve.tables (setup.sh:134-135): rows produced before a
    column existed merge with wider rows; missing columns become NULL
    via unionByName(allowMissingColumns=True)."""
    log = _changelog(spark, sf_dir)
    v1 = log.filter(F.col("_seq") <= 5000).select(
        "user_id", "username", F.lit(1).alias("schema_version")
    )
    v2 = log.filter(F.col("_seq") > 5000).select(
        "user_id", "username", "account_type", F.lit(2).alias("schema_version")
    )
    return v1.unionByName(v2, allowMissingColumns=True)


@register("q_upsert_batch", oracle=REPLAY_SQL)
def q_upsert_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent micro-batch merge under at-least-once re-delivery.

    State at seq<=5000 merged with batch seq>4000 (1000 events
    re-delivered): final state must equal the full replay exactly.
    """
    log = _changelog(spark, sf_dir)
    existing = apply_changelog(
        log.filter(F.col("_seq") <= 5000),
        keys=["user_id"],
        version_cols=["updated_at", "_seq"],
    )
    batch = log.filter((F.col("_seq") > 4000) & (F.col("op") != "d"))
    merged = upsert_batch(
        existing, batch, keys=["user_id"], version_cols=["updated_at", "_seq"]
    )
    return merged.select(
        "user_id", "username", "account_type", "updated_at", F.col("_seq").alias("last_seq")
    )


# ---------------------------------------------------------------------------
# 2.2 trivial relational (reference's own sink queries)


@register(
    "q_proj",
    oracle=f"{CHANGELOG_CTE} SELECT user_id, username, account_type FROM changelog",
)
def q_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection (reference setup.sh:180)."""
    return _changelog(spark, sf_dir).select("user_id", "username", "account_type")


@register(
    "q_filter_eq",
    oracle=f"SELECT * FROM ({REPLAY_SQL}) WHERE user_id = 42",
)
def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality predicate on the key (reference setup.sh:197,207)."""
    return _replay(spark, sf_dir).filter(F.col("user_id") == 42)


# ---------------------------------------------------------------------------
# SCD Type 2: full version history with validity intervals


@register(
    "q_scd2",
    oracle=f"""
    {CHANGELOG_CTE},
    v AS (
      SELECT *, lead(updated_at) OVER (
        PARTITION BY user_id ORDER BY updated_at, _seq) AS valid_to
      FROM changelog
    )
    SELECT user_id, username, account_type,
           updated_at AS valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM v WHERE op <> 'd'
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 view of the changelog: every
    surviving row version with its validity interval
    [valid_from, valid_to) and an is_current flag.

    The history-preserving alternative to the reference's LWW sink
    (setup.sh:63 keeps only the last version per key): valid_to is the
    next change's timestamp via lead() over the per-key change order
    (updated_at, _seq) — the same deterministic order q_dedup_lww
    uses.  Deletes close their predecessor's interval (they
    participate in the window) but emit no version row, mirroring the
    reference's drop-deletes semantics.  One window over the
    key-partitioned changelog; no extra shuffle beyond the key
    partition at any scale."""
    from pyspark.sql import Window

    log = _changelog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("updated_at", "_seq")
    v = log.withColumn("valid_to", F.lead("updated_at").over(w))
    return v.filter(F.col("op") != "d").select(
        "user_id",
        "username",
        "account_type",
        F.col("updated_at").alias("valid_from"),
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# wire-format completeness: non-default type-map arms + key envelope


@register(
    "q_typemap_roundtrip",
    oracle="""
    SELECT event_id AS _seq,
           CAST(user_id AS INTEGER) AS user_id,
           event_id * 1000000000 AS big_id,
           CAST(CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(18,2)) / 100
                AS DECIMAL(18,2))::VARCHAR AS balance_str,
           substring(md5(CAST(user_id AS VARCHAR)), 1, 8) || '-' ||
           substring(md5(CAST(user_id AS VARCHAR)), 9, 4) || '-' ||
           substring(md5(CAST(user_id AS VARCHAR)), 13, 4) || '-' ||
           substring(md5(CAST(user_id AS VARCHAR)), 17, 4) || '-' ||
           substring(md5(CAST(user_id AS VARCHAR)), 21, 12) AS user_uuid,
           ts AS updated_at
    FROM events
    """,
)
def q_typemap_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the type-map arms r1 never exercised on the data path
    (reference setup.sh:42-47): bigint, numeric -> Decimal(18,2) in
    Debezium precise mode (base64 big-endian unscaled int), uuid
    (logical-named string), plus integer/timestamp, through
    build-envelope -> parse-envelope.

    Narrow per-row serde, no shuffle.  The decimal survives base64 ->
    unscaled -> exact decimal division; it is EMITTED as its canonical
    string ("123.40") because cross-engine Decimal objects do not hash
    identically in the driver (r1 q_agg_basic lesson).
    """
    from pyspark.sql import types as T

    e = load_table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string"))
    uuid = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    cents = F.round(F.col("value") * 100).cast("long")
    typed = e.select(
        F.col("event_id").alias("_seq"),
        F.col("user_id").cast("int").alias("user_id"),
        (F.col("event_id") * 1000000000).alias("big_id"),
        (cents.cast("decimal(18,2)") / 100).cast("decimal(18,2)").alias("balance"),
        uuid.alias("user_uuid"),
        F.col("ts").alias("updated_at"),
    )
    payload_schema = T.StructType(
        [
            T.StructField("user_id", T.IntegerType()),
            T.StructField("big_id", T.LongType()),
            T.StructField("balance", T.DecimalType(18, 2)),
            T.StructField("user_uuid", T.StringType()),
            T.StructField("updated_at", T.TimestampType()),
        ]
    )
    wire = typed.select(
        "_seq",
        build_envelope_json(
            payload_schema,
            "postgres_cdc.iman.users.Value",
            logical={"user_uuid": DEBEZIUM_UUID},
        ).alias("value"),
    )
    parsed = parse_envelope(wire, payload_schema)
    return parsed.select(
        "_seq",
        "user_id",
        "big_id",
        F.col("balance").cast("string").alias("balance_str"),
        "user_uuid",
        "updated_at",
    )


@register(
    "q_key_envelope",
    oracle="""
    SELECT event_id AS _seq,
           CAST(user_id AS INTEGER) AS payload_user_id,
           CAST(user_id AS INTEGER) AS key_user_id,
           TRUE AS key_matches
    FROM events
    """,
)
def q_key_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire KEY envelope parse (reference key converter, setup.sh:96-98):
    serialize the PK into its own {"schema","payload"} JSON, parse it
    back, and assert key/payload agreement — the key side of the wire
    format the reference's per-key ordering rides on (this engine also
    derives ordering from _seq; both paths must agree).
    """
    from pyspark.sql import types as T

    key_schema = T.StructType([T.StructField("user_id", T.IntegerType(), False)])
    log = _changelog(spark, sf_dir)
    keyed = log.select(
        "_seq",
        F.col("user_id").alias("payload_user_id"),
        "user_id",
    ).select(
        "_seq",
        "payload_user_id",
        build_envelope_json(key_schema, "postgres_cdc.iman.users.Key").alias("key"),
    )
    parsed = parse_key(keyed, key_schema)
    return parsed.select(
        "_seq",
        "payload_user_id",
        "key_user_id",
        (F.col("key_user_id") == F.col("payload_user_id")).alias("key_matches"),
    )
