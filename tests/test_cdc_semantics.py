"""Semantic parity with the reference's own end-to-end test
(setup.sh:153-207): 3 inserts -> asserted state; delete dropped;
insert+update -> LWW upsert.  See FIXTURES.md section 1.3.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_connect_postgres_to_clickhouse_spark.operators.upsert import (
    apply_changelog,
    lww_dedup,
    upsert_batch,
)
from kafka_connect_postgres_to_clickhouse_spark.sources.changelog import (
    reference_scenario_changelog,
)

KEYS = ["user_id"]
VERSION = ["updated_at", "_seq"]


def _state(df):
    rows = df.select("user_id", "username", "account_type").collect()
    return {r.user_id: (r.username, r.account_type) for r in rows}


def test_golden_state_after_three_inserts(spark):
    """setup.sh:180-189 golden TSV: 1 user1 Bronze / 2 user2 Silver / 3 user3 Gold."""
    log = reference_scenario_changelog(spark).filter(F.col("_seq") <= 3)
    state = _state(apply_changelog(log, KEYS, VERSION))
    assert state == {
        1: ("user1", "Bronze"),
        2: ("user2", "Silver"),
        3: ("user3", "Gold"),
    }


def _null_op(log):
    """The same log from a source that carries no op (the Kafka source
    emits op = NULL on every record)."""
    return log.withColumn("op", F.lit(None).cast("string"))


def test_delete_is_dropped_like_reference(spark):
    """The reference pipeline drops DELETEs (setup.sh:94,105-107);
    key 1 must still be present after the delete event.  A NULL op is
    not a delete: the same log with op NULL keeps every key."""
    log = reference_scenario_changelog(spark)
    golden = {
        1: ("user1", "Bronze"),
        2: ("user2", "Silver"),
        3: ("user3", "Gold"),
        999: ("updated_user", "Test"),
    }
    assert _state(apply_changelog(log, KEYS, VERSION)) == golden
    assert _state(apply_changelog(_null_op(log), KEYS, VERSION)) == golden


def test_apply_deletes_extension(spark):
    """Stricter extension mode: op='d' removes the key, and a NULL op
    (no delete) removes none."""
    log = reference_scenario_changelog(spark)
    state = _state(apply_changelog(log, KEYS, VERSION, apply_deletes=True))
    assert 1 not in state
    assert state[999] == ("updated_user", "Test")
    null_op = apply_changelog(_null_op(log), KEYS, VERSION, apply_deletes=True)
    assert set(_state(null_op)) == {1, 2, 3, 999}


def test_lww_update_wins(spark):
    """setup.sh:199-207: update of key 999 replaces the insert row."""
    log = reference_scenario_changelog(spark).filter(F.col("user_id") == 999)
    final = lww_dedup(log, KEYS, VERSION).collect()
    assert len(final) == 1
    assert final[0].username == "updated_user"


def test_upsert_batch_idempotent_under_redelivery(spark):
    """At-least-once re-delivery (setup.sh:101-103,144) must not dup."""
    log = reference_scenario_changelog(spark)
    nondelete = log.filter(F.col("op") != "d")
    existing = apply_changelog(log.filter(F.col("_seq") <= 4), KEYS, VERSION)
    # batch re-delivers seq 3 and adds 5,6
    batch = nondelete.filter(F.col("_seq") >= 3)
    merged = upsert_batch(existing, batch, KEYS, VERSION)
    assert merged.count() == 4
    again = upsert_batch(merged, batch, KEYS, VERSION)
    assert _state(again) == _state(merged)


def test_final_state_invariant_under_cross_key_interleaving(spark):
    """Kafka guarantees order per key, not across keys (key = PK via
    the key converter, setup.sh:96-98).  Any delivery interleaving that
    preserves per-key order must fold to the same final state: _seq is
    re-assigned by arrival position, and the LWW version
    (updated_at, _seq) only compares _seq within a key."""
    import itertools

    base = reference_scenario_changelog(spark).orderBy("_seq").collect()
    per_key = {}
    for r in base:
        per_key.setdefault(r.user_id, []).append(r)

    def interleavings():
        # round-robin across keys
        queues = [list(v) for v in per_key.values()]
        rr = []
        while any(queues):
            for q in queues:
                if q:
                    rr.append(q.pop(0))
        yield rr
        # keys in blocks, descending key order
        yield [r for k in sorted(per_key, reverse=True) for r in per_key[k]]
        # original order
        yield list(base)

    states = []
    for order in interleavings():
        rows = [
            r.asDict() | {"_seq": i} for i, r in enumerate(order, start=1)
        ]
        log = spark.createDataFrame(rows, reference_scenario_changelog(spark).schema)
        states.append(_state(apply_changelog(log, KEYS, VERSION)))
    assert states[0] == states[1] == states[2]


def test_current_view_collapses_unmerged_appendlog(spark):
    """Reading through current_view() over the raw appendlog equals the
    eagerly merged state — FINAL semantics without a merge."""
    from kafka_connect_postgres_to_clickhouse_spark.operators.upsert import (
        current_view,
    )

    log = reference_scenario_changelog(spark)
    view = _state(current_view(log, KEYS, VERSION))
    eager = _state(apply_changelog(log, KEYS, VERSION))
    assert view == eager
    # re-delivered duplicates are also absorbed on read
    dup = log.unionByName(log)
    assert _state(current_view(dup, KEYS, VERSION)) == eager
    # a NULL op is not a delete, in either mode
    for apply_deletes in (False, True):
        view = current_view(_null_op(log), KEYS, VERSION, apply_deletes=apply_deletes)
        assert set(_state(view)) == {1, 2, 3, 999}


def test_lww_version_edge_cases(spark):
    """Pin the LWW comparator semantics: _seq breaks updated_at ties
    (per-key Kafka order, setup.sh:96-98,148); a NULL updated_at loses
    to any non-NULL one (max_by struct comparison is nulls-last); a key
    whose every version is NULL still keeps exactly one row."""
    import datetime

    t = datetime.datetime(2024, 1, 1)
    rows = [
        (1, "a", t, 1),
        (1, "b", t, 2),       # same timestamp, higher _seq wins
        (2, "x", None, 9),    # null version loses even with higher _seq
        (2, "y", t, 2),
        (3, "only-null", None, 5),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, v string, updated_at timestamp, _seq long"
    )
    got = {r.user_id: r.v for r in lww_dedup(df, ["user_id"], VERSION).collect()}
    assert got == {1: "b", 2: "y", 3: "only-null"}
