"""Property-based tests (hypothesis): the LWW upsert core must agree
with a trivially-correct pure-Python reference on ARBITRARY changelogs,
not just the fixtures — catching tie-break and delete-handling edges
the example-based tests can't enumerate (duplicate versions, deletes
first/last, single-key storms, interleavings).
"""

from __future__ import annotations

import os
import sys

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_connect_postgres_to_clickhouse_spark.operators.upsert import (  # noqa: E402
    apply_changelog,
)

# an event: (seq, key, op, version_ts_seconds, payload_tag)
_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # key
        st.sampled_from(["u", "u", "u", "d"]),  # op (deletes rarer)
        st.integers(min_value=0, max_value=5),  # coarse ts -> forced ties
        st.integers(min_value=0, max_value=99),  # payload tag
    ),
    min_size=0,
    max_size=30,
)


def _reference_lww(rows):
    """Pure-Python LWW with (updated_at, _seq) ordering, deletes DROPPED
    (reference semantics, SURVEY.md section 0)."""
    state = {}
    for seq, (key, op, ts, tag) in enumerate(rows):
        if op == "d":
            continue  # the pipeline drops deletes before the upsert
        cur = state.get(key)
        if cur is None or (ts, seq) >= (cur[0], cur[1]):
            state[key] = (ts, seq, tag)
    return {k: (v[0], v[1], v[2]) for k, v in state.items()}


@settings(
    max_examples=25,
    deadline=None,
    # one shared SparkSession across examples is intentional (it is
    # stateless between createDataFrame calls)
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(_events)
def test_lww_upsert_matches_reference_semantics(spark_session, rows):
    import pyspark.sql.functions as F

    spark = spark_session
    if not rows:
        return
    data = [
        (seq, key, op, ts, tag)
        for seq, (key, op, ts, tag) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "_seq long, user_id int, op string, ts_i long, tag int"
    ).select(
        "_seq",
        "user_id",
        "op",
        F.timestamp_seconds(F.col("ts_i")).alias("updated_at"),
        "tag",
    )
    kept = df.filter(F.col("op") != "d")
    state = apply_changelog(kept, keys=["user_id"], version_cols=["updated_at", "_seq"])
    got = {
        r.user_id: (int(r.updated_at.timestamp()), r._seq, r.tag)
        for r in state.collect()
    }
    assert got == _reference_lww(rows)


# hypothesis drives many examples through one SparkSession: reuse the
# session-scoped fixture under a function-scoped alias so @given's
# repeated calls don't collide with fixture scoping rules
import pytest  # noqa: E402


@pytest.fixture()
def spark_session(spark):
    return spark


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    _events,
    st.lists(st.integers(min_value=1, max_value=29), max_size=4),
    st.booleans(),
)
def test_microbatch_fold_matches_one_shot(spark_session, rows, cuts, redeliver):
    """Micro-batch split invariance — the streaming=batch consistency
    contract: folding the changelog through ``upsert_batch`` over ANY
    consecutive micro-batch partition (the shapes Trigger.AvailableNow
    can produce) must equal the one-shot ``apply_changelog`` fold, and
    re-delivering the trailing batch (at-least-once replay after a
    crash between state publish and checkpoint commit) must be a
    no-op.  This is the operator-level core of what
    test_streaming_checkpoint_resume_idempotent asserts through the
    full engine."""
    import pyspark.sql.functions as F

    from kafka_connect_postgres_to_clickhouse_spark.operators.upsert import (
        upsert_batch,
    )

    spark = spark_session
    if not rows:
        return
    data = [(seq, key, op, ts, tag) for seq, (key, op, ts, tag) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "_seq long, user_id int, op string, ts_i long, tag int"
    ).select(
        "_seq", "user_id", "op",
        F.timestamp_seconds(F.col("ts_i")).alias("updated_at"), "tag",
    )
    bounds = sorted({c for c in cuts if c < len(rows)})
    edges = [0, *bounds, len(rows)]
    keys, version = ["user_id"], ["updated_at", "_seq"]
    state = None
    last_batch = None
    for lo, hi in zip(edges, edges[1:]):
        if lo == hi:
            continue
        batch = df.filter((F.col("_seq") >= lo) & (F.col("_seq") < hi)).filter(
            F.col("op") != "d"
        )
        last_batch = batch
        state = batch if state is None else upsert_batch(state, batch, keys, version)
    if redeliver and state is not None and last_batch is not None:
        state = upsert_batch(state, last_batch, keys, version)
    got = (
        {}
        if state is None
        else {
            r.user_id: (int(r.updated_at.timestamp()), r._seq, r.tag)
            for r in apply_changelog(state, keys, version).collect()
        }
    )
    assert got == _reference_lww(rows)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(_events, st.integers(min_value=0, max_value=2**31))
def test_lww_fold_is_order_and_partition_invariant(spark_session, rows, seed):
    """Determinism under physical layout: the LWW fold must produce the
    SAME state for any row order and any partitioning of the input —
    the property that makes replay reproducible on a cluster, where
    arrival order within a shuffle partition is nondeterministic.
    (Holds because the version tuple (updated_at, _seq) is unique per
    row: max_by has no ties to break nondeterministically.)"""
    import random

    import pyspark.sql.functions as F

    spark = spark_session
    if not rows:
        return
    data = [(seq, key, op, ts, tag) for seq, (key, op, ts, tag) in enumerate(rows)]
    shuffled = data[:]
    random.Random(seed).shuffle(shuffled)

    def fold(recs, n_parts):
        df = spark.createDataFrame(
            recs, "_seq long, user_id int, op string, ts_i long, tag int"
        ).repartition(n_parts).select(
            "_seq", "user_id", "op",
            F.timestamp_seconds(F.col("ts_i")).alias("updated_at"), "tag",
        )
        state = apply_changelog(df, ["user_id"], ["updated_at", "_seq"])
        return {
            r.user_id: (int(r.updated_at.timestamp()), r._seq, r.tag)
            for r in state.collect()
        }

    expected = _reference_lww(rows)
    assert fold(data, 1) == expected
    assert fold(shuffled, 7) == expected


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    _events,
    st.lists(st.integers(min_value=1, max_value=29), max_size=2),
    st.sampled_from([2, 8]),
    st.sets(st.integers(min_value=0, max_value=29), max_size=8),
    st.booleans(),
)
# pinned: a corrupt-only segment, a delete-only segment, then a live one
@example(
    rows=[(0, "u", 0, 0), (1, "d", 0, 1), (2, "u", 1, 2)],
    cuts=[1, 2],
    n_buckets=8,
    truncated={0},
    with_dlq=True,
)
def test_bucketed_fold_matches_monolithic_and_reference(
    spark_session, rows, cuts, n_buckets, truncated, with_dlq
):
    """The copy-on-write merge must produce the SAME state at the
    default one bucket, at n_buckets in {2, 8}, and in the pure-Python
    reference on ARBITRARY changelogs and micro-batch splits —
    stressing manifest bookkeeping under touch patterns the example
    tests can't enumerate (same bucket rewritten every batch, key
    storms), and compact_state must be a read-level no-op on the
    result (and nothing to do at one bucket).  A sampled subset of
    envelopes is truncated on the wire: those rows drop out of the
    fold, land in the bucketed fold's DLQ when it has one, and a
    segment left with no surviving row (corrupt or delete only)
    publishes no bucketed version, because its touched set is empty."""
    import tempfile

    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from kafka_connect_postgres_to_clickhouse_spark.operators.envelope import (
        build_envelope_json,
    )
    from kafka_connect_postgres_to_clickhouse_spark.streaming.pipeline import (
        _current_version,
        _merge_batch,
        compact_state,
        read_state,
    )

    spark = spark_session
    if not rows:
        return
    truncated = sorted(t for t in truncated if t < len(rows))
    payload_schema = T.StructType(
        [
            T.StructField("user_id", T.IntegerType()),
            T.StructField("tag", T.IntegerType()),
            T.StructField("updated_at", T.TimestampType()),
        ]
    )
    data = [(seq, op, key, tag, ts) for seq, (key, op, ts, tag) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "_seq long, op string, user_id int, tag int, ts_i long"
    ).select(
        "_seq", "op", "user_id", "tag",
        F.timestamp_seconds(F.col("ts_i")).alias("updated_at"),
    )
    value = build_envelope_json(payload_schema, "t.Value")
    wire = df.select(
        "_seq", "op",
        F.when(F.col("_seq").isin(truncated), F.substring(value, 1, 20))
        .otherwise(value)
        .alias("value"),
    )
    bounds = sorted({c for c in cuts if c < len(rows)})
    edges = [0, *bounds, len(rows)]
    keys, version = ["user_id"], ["updated_at", "_seq"]
    root = tempfile.mkdtemp(prefix="kcptc_prop_")
    one, bucketed = f"{root}/one", f"{root}/bkt"
    dlq = f"{root}/dlq" if with_dlq else None
    for batch_id, (lo, hi) in enumerate(zip(edges, edges[1:])):
        if lo == hi:
            continue
        seg = wire.filter((F.col("_seq") >= lo) & (F.col("_seq") < hi))
        _merge_batch(spark, seg, payload_schema, one, keys, version, False)
        before = _current_version(bucketed)
        _merge_batch(
            spark, seg, payload_schema, bucketed, keys, version, False, n_buckets,
            dlq_dir=dlq, batch_id=batch_id,
        )
        survivors = any(
            i not in truncated and rows[i][1] != "d" for i in range(lo, hi)
        )
        nxt = 0 if before is None else before + 1
        assert _current_version(bucketed) == (nxt if survivors else before)

    def state_map(state_dir):
        df = read_state(spark, state_dir)
        if df is None:
            return {}
        return {
            r.user_id: (int(r.updated_at.timestamp()), r._seq, r.tag)
            for r in df.collect()
        }

    # a truncated row drops out of the fold exactly like a dropped delete
    expected = _reference_lww(
        [
            (key, "d" if seq in truncated else op, ts, tag)
            for seq, (key, op, ts, tag) in enumerate(rows)
        ]
    )
    assert state_map(one) == expected
    assert state_map(bucketed) == expected
    if dlq is not None:
        dead = {(r._seq, r.value) for r in spark.read.parquet(dlq).collect()}
        assert dead == {
            (r._seq, r.value)
            for r in wire.filter(F.col("_seq").isin(truncated)).collect()
        }
    assert compact_state(spark, one) is None
    compact_state(spark, bucketed)
    assert state_map(bucketed) == expected


def test_bucket_directory_version_reads_commits_and_compacts(spark, tmp_path):
    """State needs no format field: a version written the earlier way,
    one ``bkt=i/`` directory per bucket plus its manifest, reads through
    the same ``bkt IN`` read as a version of sorted files with a ``bkt``
    column, because partition discovery turns the directories into that
    column.  Such a version reads, takes an 8-bucket commit that leaves
    some of its buckets in it, and compacts, equal to the pure-Python
    reference at each step."""
    import json

    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from kafka_connect_postgres_to_clickhouse_spark.operators.envelope import (
        build_envelope_json,
    )
    from kafka_connect_postgres_to_clickhouse_spark.streaming.pipeline import (
        _merge_batch,
        _open_state,
        _read_buckets,
        _read_manifest,
        compact_state,
        read_state,
    )

    # 40 keys inserted, then 4 of them updated and one key added
    rows = [(k, "u", 0, k) for k in range(40)]
    rows += [(k, "u", 1, 100 + k) for k in (0, 1, 2, 3, 40)]
    payload_schema = T.StructType(
        [
            T.StructField("user_id", T.IntegerType()),
            T.StructField("tag", T.IntegerType()),
            T.StructField("updated_at", T.TimestampType()),
        ]
    )
    wire = spark.createDataFrame(
        [(seq, op, key, tag, ts) for seq, (key, op, ts, tag) in enumerate(rows)],
        "_seq long, op string, user_id int, tag int, ts_i long",
    ).select(
        "_seq", "op", "user_id", "tag",
        F.timestamp_seconds(F.col("ts_i")).alias("updated_at"),
    ).select("_seq", "op", build_envelope_json(payload_schema, "t.Value").alias("value"))
    keys, version = ["user_id"], ["updated_at", "_seq"]

    def state_map(state_dir):
        return {
            r.user_id: (int(r.updated_at.timestamp()), r._seq, r.tag)
            for r in read_state(spark, state_dir).collect()
        }

    # v0 written the earlier way: the rows of a seeded 8-bucket version,
    # one bkt=i/ directory per bucket, and a manifest mapping each to v0
    fresh, state_dir = str(tmp_path / "fresh"), str(tmp_path / "state")
    _merge_batch(spark, wire.filter("_seq < 40"), payload_schema, fresh, keys, version, False, 8)
    # the manifest written back is the one on disk, not the opened snapshot's
    manifest = _read_manifest(fresh, 0)
    v0 = os.path.join(state_dir, "v0")
    _, opened, schemas = _open_state(fresh)
    _read_buckets(spark, fresh, opened, schemas, range(8)).write.partitionBy("bkt").parquet(v0)
    assert not [n for n in os.listdir(v0) if n.endswith(".parquet")]
    dirs = [n for n in os.listdir(v0) if n.startswith("bkt=")]
    assert len(dirs) == 8, dirs
    with open(os.path.join(v0, "_MANIFEST.json"), "w") as f:
        json.dump({**manifest, "buckets": {n[4:]: 0 for n in dirs}}, f)
    with open(os.path.join(state_dir, "_CURRENT"), "w") as f:
        f.write("0")
    assert state_map(state_dir) == _reference_lww(rows[:40])

    _merge_batch(
        spark, wire.filter("_seq >= 40"), payload_schema, state_dir, keys, version, False, 8,
        batch_id=1,
    )
    assert set(_read_manifest(state_dir, 1)["buckets"].values()) == {0, 1}
    assert state_map(state_dir) == _reference_lww(rows)

    assert compact_state(spark, state_dir) == 2
    assert set(_read_manifest(state_dir, 2)["buckets"].values()) == {2}
    assert state_map(state_dir) == _reference_lww(rows)


_payloads = st.lists(
    st.tuples(
        st.integers(min_value=-(2**31), max_value=2**31 - 1),  # user_id
        st.one_of(st.none(), st.text(alphabet=st.characters(
            codec="utf-8", exclude_characters='"\\\x00'), max_size=40)),
        st.one_of(st.none(), st.integers(min_value=0, max_value=2**52)),  # epoch micros
        st.one_of(st.none(), st.integers(min_value=-(10**18) + 1, max_value=10**18 - 1)),  # cents
    ),
    min_size=1,
    max_size=20,
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(_payloads)
def test_envelope_roundtrip_identity(spark_session, rows):
    """build_envelope_json then parse_envelope must be the identity on
    ARBITRARY payloads — including NULLs in optional fields, negative
    keys, unicode text, extreme-but-valid micro timestamps and signed
    Decimal(18,2) values — the serde contract the whole wire path stands
    on (reference envelope, README.md:127-129).  The same rows' key
    ``(user_id, updated_at, balance)`` must come back typed and equal
    through parse_key."""
    from decimal import Decimal

    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from kafka_connect_postgres_to_clickhouse_spark.operators.envelope import (
        build_envelope_json,
        parse_envelope,
        parse_key,
    )

    spark = spark_session
    schema = T.StructType(
        [
            T.StructField("user_id", T.IntegerType(), False),
            T.StructField("username", T.StringType(), True),
            T.StructField("updated_at", T.TimestampType(), True),
            T.StructField("balance", T.DecimalType(18, 2), True),
        ]
    )
    key_schema = T.StructType([schema["user_id"], schema["updated_at"], schema["balance"]])
    data = [
        (i, uid, name, micros, None if cents is None else Decimal(cents).scaleb(-2))
        for i, (uid, name, micros, cents) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "_seq long, user_id int, username string, micros long, balance decimal(18,2)"
    ).select(
        "_seq", "user_id", "username",
        F.timestamp_micros(F.col("micros")).alias("updated_at"), "balance",
    )
    wire = df.select(
        "_seq",
        build_envelope_json(schema, "postgres_cdc.iman.users.Value").alias("value"),
        build_envelope_json(key_schema, "postgres_cdc.iman.users.Key").alias("key"),
    )
    back = parse_key(parse_envelope(wire, schema), key_schema)
    orig = {
        r._seq: (r.user_id, r.username, r.updated_at, r.balance) for r in df.collect()
    }
    parsed = back.filter(~F.col("_corrupt")).collect()
    assert {r._seq: (r.user_id, r.username, r.updated_at, r.balance) for r in parsed} == orig
    assert {
        r._seq: (r.key_user_id, r.key_updated_at, r.key_balance) for r in parsed
    } == {seq: (uid, ts, bal) for seq, (uid, _, ts, bal) in orig.items()}


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bmp_codec_roundtrip_property(h, w, seed):
    """encode_bmp -> decode_bmp is the identity on arbitrary pixel
    matrices — including odd widths that exercise the 4-byte row
    padding (no Spark session needed: pure codec property)."""
    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    px = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(px)), px)


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=512),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_codec_roundtrip_property(n, rate, seed):
    """encode_wav -> decode_wav recovers arbitrary-length clips to
    16-bit quantization accuracy, preserving the sample rate; values
    outside [-1, 1] clip rather than wrap."""
    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        decode_wav,
        encode_wav,
    )

    x = np.random.default_rng(seed).uniform(-1.5, 1.5, n)
    back, got_rate = decode_wav(encode_wav(x, rate=rate))
    assert got_rate == rate and len(back) == n
    assert np.abs(back - np.clip(x, -1.0, 1.0)).max() < 2.0 / 32768


def test_wav_decode_8bit_and_stereo_downmix():
    """decode_wav handles the other PCM layouts the RIFF spec allows:
    8-bit unsigned samples land in [-1, 1) around the 128 midpoint,
    and stereo frames downmix by channel mean."""
    import io
    import wave

    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        decode_wav,
    )

    # 8-bit mono: bytes 0, 128, 255 -> -1.0, 0.0, ~0.992
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([0, 128, 255]))
    x, rate = decode_wav(buf.getvalue())
    assert rate == 8000
    assert np.allclose(x, [-1.0, 0.0, 127 / 128], atol=1e-12)

    # 16-bit stereo: L=+0.5, R=-0.5 per frame -> mono 0.0
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(
            np.array([16384, -16384] * 4, dtype="<i2").tobytes()
        )
    x, rate = decode_wav(buf.getvalue())
    assert len(x) == 4 and np.allclose(x, 0.0)


def test_np_round_half_away_edges():
    """The shared worker-side rounding helper must replicate
    Spark/DuckDB round() (half away from zero) exactly — including the
    doubles-within-1-ulp-of-.5 traps where bare floor(v+0.5) misrounds,
    and negative values."""
    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.functions.vectors import (
        np_round_half_away,
    )

    near_half = 0.49999999999999994  # largest double < 0.5: +0.5 == 1.0 in IEEE
    cases = {
        0.0: 0, 0.5: 1, -0.5: -1, 1.5: 2, -1.5: -2, 2.5: 3,
        near_half: 0, -near_half: 0,
        1234.4999999999998: 1234,
        0.50000000000000011: 1, 1e9 + 0.5: 1e9 + 1,
    }
    # note: 1.0 + near_half == 1.5 exactly in IEEE (a true tie), so it
    # belongs to the 1.5 case above, not a new misround case
    got = np_round_half_away(np.array(list(cases), dtype=np.float64))
    assert list(got) == [float(v) for v in cases.values()], dict(
        zip(cases, got)
    )


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.floats(
            allow_nan=False,
            allow_infinity=False,
            min_value=-1e12,
            max_value=1e12,
        ),
        min_size=1,
        max_size=64,
    )
)
def test_round_half_away_matches_duckdb(vals):
    """np_round_half_away IS the numpy stand-in for the oracle's
    round() in every mapInPandas scorer — property-check it against
    DuckDB itself on arbitrary doubles (sign, magnitude, tie, and
    near-tie cases all generated)."""
    import duckdb
    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.functions.vectors import (
        np_round_half_away,
    )

    got = np_round_half_away(np.array(vals, dtype=np.float64))
    con = duckdb.connect()
    exp = [
        con.execute("SELECT round(CAST(? AS DOUBLE))", [v]).fetchone()[0]
        for v in vals
    ]
    assert list(got) == exp, list(zip(vals, got, exp))


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    filter_mode=st.sampled_from(["none", "cycle"]),
)
def test_png_codec_roundtrip_property(h, w, seed, filter_mode):
    """encode_png -> decode_png is the identity on arbitrary pixel
    matrices under both the all-zero and the cycling filter plan —
    "cycle" drives every PNG filter type (Sub/Up/Average/Paeth) for
    images with >= 5 rows, proving each un-filter arm, through a real
    DEFLATE compress/inflate round trip."""
    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        decode_png,
        encode_png,
    )

    px = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(px, filter_mode=filter_mode)), px)


def test_png_decode_rejects_corruption():
    """decode_png CRC-verifies every chunk and rejects non-PNG bytes,
    truncated streams, and unsupported layouts instead of returning
    garbage pixels."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        decode_png,
        encode_png,
    )

    good = bytearray(encode_png(np.full((3, 3, 3), 9, dtype=np.uint8)))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"BM" + bytes(good))
    flipped = bytearray(good)
    flipped[-20] ^= 0xFF  # inside IDAT payload -> its CRC no longer matches
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_png(bytes(flipped))
    # truncation anywhere must raise ValueError, never a raw
    # struct.error/zlib.error escaping into the executor
    for cut in (12, 20, len(good) - 5):
        with pytest.raises(ValueError):
            decode_png(bytes(good[:cut]))
    # a DEFLATE bomb / absurd-dims IHDR is rejected BEFORE allocation
    ihdr = struct.pack(">IIBBBBB", 1 << 30, 1 << 30, 8, 2, 0, 0, 0)
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="out of range|no IEND"):
        decode_png(bomb)
    # an IDAT stream LONGER than the declared dims is length-rejected
    # (the capped inflate stops at expected+1, no bomb materializes)
    over_raw = b"\x00" * (3 * (3 * 3 + 1) + 4096)
    over = (
        b"\x89PNG\r\n\x1a\n"
        + b"".join(
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
            for t, d in (
                (b"IHDR", struct.pack(">IIBBBBB", 3, 3, 8, 2, 0, 0, 0)),
                (b"IDAT", zlib.compress(over_raw)),
                (b"IEND", b""),
            )
        )
    )
    with pytest.raises(ValueError, match="pixel stream"):
        decode_png(over)
    # 16-bit depth is out of scope and must be refused, not misparsed
    def _chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 3, 3, 16, 2, 0, 0, 0)
    with pytest.raises(ValueError, match="unsupported PNG"):
        decode_png(
            b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr) + _chunk(b"IEND", b"")
        )


def test_png_decode_drops_alpha():
    """Color type 6 (truecolor + alpha) decodes with alpha stripped —
    the RGB planes must match the same image encoded without alpha."""
    import struct
    import zlib

    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        decode_png,
    )

    rng = np.random.default_rng(11)
    rgba = rng.integers(0, 256, (4, 5, 4), dtype=np.uint8)
    h, w = rgba.shape[:2]
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(h))

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(payload), rgba[:, :, :3])


def test_png_default_pixel_cap_bounds_amplification():
    """A tiny hostile payload with a LEGIT IHDR declaring dims just
    over the default 1<<20-pixel cap (e.g. 2048x1024+1 would pass a
    lax cap) must be refused BEFORE any inflate or filter loop — the
    CPU/memory amplification bound is the cap, and it is enforced on
    declared dims, not payload size.  Raising max_pixels explicitly
    admits the same image (the knob is the documented budget)."""
    import struct
    import zlib

    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        decode_png,
        encode_png,
    )

    def _chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    # 2048 x 1025 RGB = 2,099,200 px > 1<<20: refused at the IHDR,
    # so the (zlib-compressed-zeros) IDAT never inflates
    w, h = 2048, 1025
    raw = zlib.compress(b"\x00" * (h * (w * 3 + 1)), 9)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", raw)
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="out of range"):
        decode_png(payload)
    out = decode_png(payload, max_pixels=w * h)
    assert out.shape == (h, w, 3) and not out.any()
    # and a maximal in-cap image still round-trips (the cap is not
    # accidentally off by a row)
    px = np.full((1, 1 << 20, 3), 7, dtype=np.uint8)
    assert decode_png(encode_png(px)).shape == (1, 1 << 20, 3)


def test_gif_roundtrip_all_dictionary_phases():
    """encode_gif -> decode_gif is exact through every LZW phase:
    small-palette multi-frame (code width growth from 3 bits), a
    256-color 60k-px frame (growth to 12 bits + deferred clear once
    the dictionary saturates at 4096), and the raw codec on
    repetitive data long enough to saturate the table."""
    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        _lzw_decode,
        _lzw_encode,
        decode_gif,
        encode_gif,
        split_gif_frames,
    )

    rng = np.random.default_rng(7)
    frames = [
        rng.integers(0, 4, (13, 17, 1), dtype=np.uint8).repeat(3, axis=2) * 60
        for _ in range(5)
    ]
    gif = encode_gif(frames)
    out = decode_gif(gif)
    assert len(out) == 5 and all((a == b).all() for a, b in zip(frames, out))

    palette = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    img = palette[rng.integers(0, 256, (200, 300), dtype=np.uint8)]
    assert (decode_gif(encode_gif([img]))[0] == img).all()

    data = bytes((i * 7) % 5 for i in range(100000))
    assert _lzw_decode(_lzw_encode(data, 3), 3, len(data)) == data

    parts = split_gif_frames(gif)
    assert len(parts) == 5
    assert all((decode_gif(p)[0] == f).all() for p, f in zip(parts, frames))


def test_gif_subrect_compositing_and_transparency():
    """Hand-built GIF with a sub-rect second frame and a transparent
    index: frame 2 must composite onto frame 1's canvas at its
    (left, top) offset, and transparent pixels must leave the
    underlying canvas visible — the do-not-dispose semantics the
    decoder documents."""
    import struct
    import zlib  # noqa: F401 - parity with the PNG tests' imports

    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        _lzw_encode,
        decode_gif,
    )

    def img_block(left, top, w, h, indices, mcs=2):
        comp = _lzw_encode(bytes(indices), mcs)
        blocks = b""
        for i in range(0, len(comp), 255):
            c = comp[i : i + 255]
            blocks += bytes([len(c)]) + c
        return (
            b"\x2c"
            + struct.pack("<HHHHB", left, top, w, h, 0)
            + bytes([mcs])
            + blocks
            + b"\x00"
        )

    # 4x4 screen, palette: 0=black, 1=red, 2=green
    pal = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 0])
    head = b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0x80 | 0x01, 0, 0) + pal
    f1 = img_block(0, 0, 4, 4, [1] * 16)  # all red
    # GCE: transparent index 0
    gce = b"\x21\xf9\x04\x01\x00\x00\x00\x00"
    # 2x2 sub-rect at (1,1): green / transparent checker
    f2 = img_block(1, 1, 2, 2, [2, 0, 0, 2])
    frames = decode_gif(head + f1 + gce + f2 + b"\x3b")
    assert len(frames) == 2
    assert (frames[0] == [255, 0, 0]).all()
    exp = np.tile(np.array([255, 0, 0], np.uint8), (4, 4, 1))
    exp[1, 1] = [0, 255, 0]
    exp[2, 2] = [0, 255, 0]  # transparent cells keep red
    assert (frames[1] == exp).all()


def test_gif_hostile_payloads_bounded():
    """Mirror of the PNG hostile set: bad magic, truncation anywhere,
    over-cap dims rejected BEFORE inflate, over-long LZW stream capped
    at the declared frame size, out-of-palette index refused,
    interlace refused — all ValueError, never a raw struct error."""
    import struct

    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        _lzw_encode,
        decode_gif,
        encode_gif,
    )

    gif = encode_gif([np.full((6, 6, 3), 9, dtype=np.uint8)] * 2)
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"BM" + gif)
    for cut in (4, 11, 14, len(gif) // 2, len(gif) - 2):
        with pytest.raises(ValueError):
            decode_gif(gif[:cut])
    # dims over the cap are refused at the header, before any decode
    bomb = b"GIF89a" + struct.pack("<HHBBB", 60000, 60000, 0, 0, 0)
    with pytest.raises(ValueError, match="out of range"):
        decode_gif(bomb)
    # a legit header admits the same image when the budget is raised
    big = encode_gif([np.zeros((1025, 1024, 3), dtype=np.uint8)])
    with pytest.raises(ValueError, match="out of range"):
        decode_gif(big)
    assert decode_gif(big, max_pixels=1025 * 1024)[0].shape == (1025, 1024, 3)

    pal = bytes([0, 0, 0, 255, 255, 255] * 2)
    head = b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0x80 | 0x01, 0, 0) + pal

    def img(indices, w=2, h=2, packed=0):
        comp = _lzw_encode(bytes(indices), 2)
        blocks = b""
        for i in range(0, len(comp), 255):
            c = comp[i : i + 255]
            blocks += bytes([len(c)]) + c
        return (
            b"\x2c"
            + struct.pack("<HHHHB", 0, 0, w, h, packed)
            + b"\x02"
            + blocks
            + b"\x00"
        )

    # LZW emitting MORE pixels than the frame declares is capped
    with pytest.raises(ValueError, match="exceeds declared|pixel stream"):
        decode_gif(head + img([1, 0, 1, 0, 1, 0, 1]) + b"\x3b")
    # pixel index outside a 2-entry palette (GCT size bits 0)
    head2 = (
        b"GIF89a"
        + struct.pack("<HHBBB", 2, 2, 0x80, 0, 0)
        + bytes([0, 0, 0, 255, 255, 255])
    )
    with pytest.raises(ValueError, match="outside color table"):
        decode_gif(head2 + img([3, 0, 0, 0]) + b"\x3b")
    # interlace flag refused
    with pytest.raises(ValueError, match="interlaced"):
        decode_gif(head + img([1, 0, 0, 1], packed=0x40) + b"\x3b")


def test_jpeg_roundtrip_and_exact_solids():
    """Baseline JPEG codec: solid levels decode EXACTLY for every
    gray level (flat q=4 divides the DC scale factor 8 — no rounding
    anywhere despite JPEG being lossy in general); arbitrary images
    round-trip within the quantization bound (<=1 at q=1, <=quant at
    q=4), through multi-block scans that exercise DC prediction,
    AC run-lengths, EOB and byte stuffing; non-multiple-of-8 dims
    survive via edge-replication padding + crop."""
    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    for c in (0, 1, 63, 64, 127, 128, 129, 200, 255):
        out = decode_jpeg(encode_jpeg(np.full((9, 13), c, np.uint8), quant=4))
        assert out.shape == (9, 13, 3) and (out == c).all()

    x = np.linspace(0, 255, 40)
    grad = np.clip(np.add.outer(x, x) / 2, 0, 255).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(grad, quant=1))[:, :, 0]
    assert int(np.abs(out.astype(int) - grad.astype(int)).max()) <= 1

    rng = np.random.default_rng(3)
    noise = rng.integers(0, 256, (24, 31), dtype=np.uint8)
    out1 = decode_jpeg(encode_jpeg(noise, quant=1))[:, :, 0]
    assert out1.shape == (24, 31)
    assert int(np.abs(out1.astype(int) - noise.astype(int)).max()) <= 1
    out4 = decode_jpeg(encode_jpeg(noise, quant=4))[:, :, 0]
    assert int(np.abs(out4.astype(int) - noise.astype(int)).max()) <= 4


def test_jpeg_hostile_payloads_bounded():
    """Mirror of the PNG/GIF hostile sets: bad magic, truncation
    anywhere (including mid-entropy-stream), over-cap SOF dims
    rejected before any block decodes, progressive/multi-component/
    restart streams refused, zero quant entries refused — all
    ValueError, never a raw struct/KeyError."""
    import struct

    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(5)
    good = encode_jpeg(rng.integers(0, 256, (17, 9), dtype=np.uint8))
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"BM" + good)
    for cut in (1, 3, 10, 30, len(good) // 2, len(good) - 1):
        with pytest.raises(ValueError):
            decode_jpeg(bytes(good[:cut]))
    bomb = (
        b"\xff\xd8\xff\xc0"
        + struct.pack(">H", 11)
        + struct.pack(">BHHB", 8, 60000, 60000, 1)
        + b"\x01\x11\x00"
    )
    with pytest.raises(ValueError, match="out of range"):
        decode_jpeg(bomb)
    with pytest.raises(ValueError, match="baseline only"):
        decode_jpeg(good.replace(b"\xff\xc0", b"\xff\xc2", 1))
    # a legit SOF admits the same image when the budget is raised
    big = encode_jpeg(np.zeros((1032, 1024), dtype=np.uint8))
    with pytest.raises(ValueError, match="out of range"):
        decode_jpeg(big)
    assert decode_jpeg(big, max_pixels=1032 * 1024).shape == (1032, 1024, 3)
    # zero quantization entry must be refused (divide-free contract)
    zq = bytearray(good)
    dqt = zq.find(b"\xff\xdb")
    zq[dqt + 5] = 0  # first table entry
    with pytest.raises(ValueError, match="zero entry"):
        decode_jpeg(bytes(zq))


def test_jpeg_color_roundtrip_and_exact_chain():
    """3-component 4:4:4 color JPEG: arbitrary RGB images round-trip
    within the quantization + two-rounded-conversions bound (<=3 at
    q=1), and solid colors decode to EXACTLY the deterministic
    RGB -> YCbCr -> RGB chain (half-away rounding both directions,
    DC-only blocks at q=4) — the contract q_media_decode_jpeg_color's
    SQL oracle replays."""
    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.functions.vectors import (
        np_round_half_away as rha,
    )
    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, quant=1))
    assert out.shape == (24, 17, 3)
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3

    def chain(r, g, b):
        cl = lambda v: min(max(v, 0.0), 255.0)  # noqa: E731
        y = cl(rha(np.float64(0.299 * r + 0.587 * g + 0.114 * b)))
        cb = cl(rha(np.float64(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b)))
        cr = cl(rha(np.float64(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b)))
        return (
            cl(rha(np.float64(y + 1.402 * (cr - 128)))),
            cl(rha(np.float64(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)))),
            cl(rha(np.float64(y + 1.772 * (cb - 128)))),
        )

    for i in range(0, 256, 17):
        rgb = (i, (7 * i + 31) % 256, (13 * i + 67) % 256)
        got = decode_jpeg(encode_jpeg(np.full((5, 5, 3), rgb, np.uint8), quant=4))
        assert (got == got[0, 0]).all()  # solid stays solid
        assert tuple(got[0, 0]) == chain(*rgb), (rgb, got[0, 0])


def test_mp4_demux_roundtrip_and_hostile():
    """ISO BMFF demux: encode_mp4 -> split_mp4_samples returns the
    exact sample payloads (box-tree walk + stsz/stsc/stco
    arithmetic); truncations, non-MP4 bytes, over-cap sample counts
    and inconsistent sample tables all raise ValueError.  A chained
    container is also real: MP4 samples that are single-frame GIFs
    demux then DECODE end-to-end."""
    import struct

    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        decode_gif,
        encode_gif,
        encode_mp4,
        split_mp4_samples,
    )

    samples = [bytes([i]) * (10 + i) for i in range(5)]
    mp4 = encode_mp4(samples)
    assert split_mp4_samples(mp4) == samples

    for cut in (3, 11, 40, len(mp4) // 2, len(mp4) - 4):
        with pytest.raises(ValueError):
            split_mp4_samples(mp4[:cut])
    with pytest.raises(ValueError, match="not an MP4"):
        split_mp4_samples(b"\x00\x00\x00\x08free" + mp4)
    with pytest.raises(ValueError, match="exceeds cap"):
        split_mp4_samples(mp4, max_samples=3)
    # stsz count inflated without sizes -> table inconsistency raises
    idx = mp4.find(b"stsz")
    bad = bytearray(mp4)
    struct.pack_into(">I", bad, idx + 4 + 8, 4000)
    with pytest.raises(ValueError):
        split_mp4_samples(bytes(bad))

    # chained: MP4 of single-frame GIFs -> demux -> REAL decode
    frames = [np.full((4, 4, 3), 40 * i, dtype=np.uint8) for i in range(4)]
    chained = encode_mp4([encode_gif([f]) for f in frames])
    got = [decode_gif(s)[0] for s in split_mp4_samples(chained)]
    assert all((a == b).all() for a, b in zip(got, frames))


def test_mp3_frame_demux_and_hostile():
    """MPEG-1 Layer III framing: synthesized streams split into
    frames whose lengths match the public 144*bitrate/samplerate
    formula, across mixed bitrate/rate frames in one stream; lost
    sync, truncation, unsupported versions and free-format headers
    raise ValueError."""
    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        _mp3_frame_len,
        encode_mp3_frames,
        split_mp3_frames,
    )

    s = encode_mp3_frames(4, bitrate_idx=9, rate_idx=0, fill=7)
    frames = split_mp3_frames(s)
    assert len(frames) == 4
    assert all(len(f) == _mp3_frame_len(9, 0, 0) == 417 for f in frames)

    mixed = encode_mp3_frames(2, 3, 1) + encode_mp3_frames(1, 14, 2)
    assert [len(f) for f in split_mp3_frames(mixed)] == [144, 144, 1440]

    with pytest.raises(ValueError, match="lost frame sync"):
        split_mp3_frames(b"ID3" + s)
    for cut in (2, 10, len(s) - 5):
        with pytest.raises(ValueError):
            split_mp3_frames(s[:cut])
    # MPEG-2 / other layers rejected (version bits cleared)
    bad = bytearray(s)
    bad[1] = 0xF2  # layer = 01 -> version bits 10 (MPEG-2)
    with pytest.raises(ValueError, match="MPEG-1 Layer III only"):
        split_mp3_frames(bytes(bad))
    # free-format bitrate index rejected
    bad = bytearray(s)
    bad[2] = 0x00
    with pytest.raises(ValueError, match="free-format"):
        split_mp3_frames(bytes(bad))
    with pytest.raises(ValueError, match="exceeds cap"):
        split_mp3_frames(encode_mp3_frames(5, 1, 0), max_frames=4)


def test_avi_mjpeg_roundtrip_and_hostile():
    """RIFF/AVI demux: encode_avi_mjpeg -> split_avi_frames returns
    the exact frame payloads (chunk-tree walk to movi, even-pad
    handling, idx1 cross-check); bad signatures, truncations,
    chunk-size overruns, idx1/movi disagreement and over-cap frame
    counts all raise ValueError.  The full video chain is real: AVI
    frames that are solid JFIFs demux then DECODE bit-exactly with
    the from-scratch JPEG decoder."""
    import struct

    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        decode_jpeg,
        encode_avi_mjpeg,
        encode_jpeg,
        split_avi_frames,
    )

    levels = [(13 * 5 + 40 * f) % 256 for f in range(3)]
    frames = [
        encode_jpeg(np.full((5, 5), lv, dtype=np.uint8), quant=4) for lv in levels
    ]
    avi = encode_avi_mjpeg(frames, width=5, height=5)
    assert split_avi_frames(avi) == frames
    decoded = [int(decode_jpeg(p)[0, 0, 0]) for p in split_avi_frames(avi)]
    assert decoded == levels

    # odd-length payloads exercise the RIFF even-pad rule
    odd = [b"X" * 7, b"Y" * 8, b"Z" * 9]
    assert split_avi_frames(encode_avi_mjpeg(odd, 1, 1)) == odd

    with pytest.raises(ValueError, match="RIFF"):
        split_avi_frames(b"RIFX" + avi[4:])
    with pytest.raises(ValueError, match="RIFF"):
        split_avi_frames(avi[:8] + b"WAVE" + avi[12:])
    for cut in (5, 20, len(avi) // 2, len(avi) - 3):
        with pytest.raises(ValueError):
            split_avi_frames(avi[:cut])
    with pytest.raises(ValueError, match="exceeds cap"):
        split_avi_frames(avi, max_frames=2)
    # movi chunk size overrunning the container
    i = avi.find(b"00dc")
    with pytest.raises(ValueError, match="overruns"):
        split_avi_frames(avi[: i + 4] + struct.pack("<I", 1 << 30) + avi[i + 8 :])
    # idx1 listing fewer video frames than movi holds
    j = avi.find(b"idx1")
    (sz,) = struct.unpack_from("<I", avi, j + 4)
    trimmed = avi[: j + 4] + struct.pack("<I", sz - 16) + avi[j + 8 : j + 8 + sz - 16]
    with pytest.raises(ValueError, match="idx1"):
        split_avi_frames(trimmed)
    with pytest.raises(ValueError, match="at least one frame"):
        encode_avi_mjpeg([], 1, 1)


def test_gif_lzw_runaway_codes_and_jpeg_huffman_eof():
    """The r7 verdict's remaining hostile-bitstream cases, asserted to
    raise ValueError (never MemoryError / IndexError / KeyError):

    - GIF LZW code-level attacks: a first code past the table, a code
      jumping beyond table-size+1 (runaway dictionary reference), and
      a stream that ends without EOI.
    - JPEG Huffman/entropy EOF: the bit reader exhausting the payload
      mid-scan, a real marker byte appearing inside coefficient data,
      and a bit pattern matching no Huffman code up to length 16."""
    import struct

    import numpy as np

    from kafka_connect_postgres_to_clickhouse_spark.streaming.multimodal import (
        decode_gif,
        decode_jpeg,
        encode_jpeg,
    )

    # --- GIF: hand-packed LZW code streams (LSB-first, width 3 for
    # min_code_size=2: table = 4 pixels + clear(4) + eoi(5))
    pal = bytes([0, 0, 0, 85, 85, 85, 170, 170, 170, 255, 255, 255])
    head = b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0x80 | 0x01, 0, 0) + pal

    def pack_codes(codes, width=3):
        acc = nbits = 0
        out = bytearray()
        for c in codes:
            acc |= c << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    def frame(codes):
        comp = pack_codes(codes)
        return (
            b"\x2c"
            + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
            + b"\x02"
            + bytes([len(comp)])
            + comp
            + b"\x00"
            + b"\x3b"
        )

    with pytest.raises(ValueError, match="first code not in table"):
        decode_gif(head + frame([6]))  # table has 6 entries: codes 0..5
    with pytest.raises(ValueError, match="code out of range"):
        decode_gif(head + frame([0, 7]))  # next new code would be 6
    with pytest.raises(ValueError, match="ended without EOI"):
        decode_gif(head + frame([0, 1, 2, 3]))  # 4 pixels, no EOI code

    # --- JPEG: entropy-level attacks on a known-good baseline stream
    good = encode_jpeg(
        np.arange(64, dtype=np.uint8).reshape(8, 8) * 3 % 256, quant=1
    )
    sos = good.find(b"\xff\xda")
    (sos_len,) = struct.unpack_from(">H", good, sos + 2)
    scan = sos + 2 + sos_len  # first entropy-coded byte

    # bit reader exhausts the payload mid-MCU (no marker, just EOF)
    with pytest.raises(ValueError, match="entropy stream truncated"):
        decode_jpeg(good[: scan + 1])
    # a real marker (EOI) byte pair inside coefficient data
    with pytest.raises(ValueError, match="truncated at marker"):
        decode_jpeg(good[:scan] + b"\xff\xd9" + good[scan:])
    # 16 one-bits match no canonical Huffman code in the DC table
    with pytest.raises(ValueError, match="invalid Huffman code|truncated"):
        decode_jpeg(good[:scan] + b"\xff\x00\xff\x00\xff\x00" + good[scan:])
