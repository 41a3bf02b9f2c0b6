"""Streaming operators beside the CDC path: watermarked windows,
stateful dedup, stream-stream and stream-static joins, sessionization
and per-key LWW compaction, each a twin of a batch registry query."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of q_win_tumbling: watermarked tumbling counts.

    The watermark bounds state: windows older than max(event time) -
    watermark are finalized and evicted — the knob the reference lacks
    (it "handles" lateness by sleeping, setup.sh:164).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def deduped_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stateful streaming dedup by event_id within the watermark."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def deduped_stream_within_watermark(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    evicts a key's state once the watermark passes its first-seen event
    time, so state size tracks the watermark interval — not the full
    key cardinality.  This is the 100 TB-safe variant of
    ``deduped_stream``: plain dropDuplicates on a key column keeps
    every key forever unless the event-time column is part of the key.
    Semantics: duplicates arriving within the watermark interval of the
    first occurrence are dropped; re-deliveries later than the
    watermark (already impossible for an in-order-ish source) re-emit.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    watermark: str = "10 minutes",
    interval_minutes: int = 5,
) -> DataFrame:
    """Watermarked stream-stream inner join on user_id with an
    event-time interval bound: a right event joins a left event when it
    lands within [left.ts, left.ts + interval].

    The interval condition plus both-side watermarks is what makes the
    join's buffered state FINITE (Spark evicts each side once the other
    side's watermark passes the interval bound) — an unbounded-state
    stream-stream equi-join would OOM at 100 TB/day stream rates.  The
    join itself hash-shuffles both streams on user_id once.
    """
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"""
            l.user_id = r.user_id AND
            r.ts >= l.ts AND
            r.ts <= l.ts + INTERVAL {interval_minutes} MINUTES
            """
        ),
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("left_event_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.event_id").alias("right_event_id"),
        F.col("r.ts").alias("right_ts"),
    )


def sessionized_stream(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "10 minutes"
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    sessionization with an event-time inactivity gap.

    This is the operator class Spark's built-ins can't express — the
    per-key state machine (``session_window`` covers the aggregate
    case; this shape generalizes to any custom fold).  State per user =
    ALL still-open sessions as parallel epoch-micros arrays (more than
    one can be open while out-of-order events within the watermark may
    still bridge or extend them).  Per batch: drop rows below the
    watermark, interval-merge batch events into the session list (a
    late event can extend a session backwards or merge two sessions),
    emit sessions whose ``last + gap`` the watermark has passed, keep
    the rest; the event-time timeout fires for the earliest open
    session when no new data arrives.

    Scale: state is hash-partitioned by user_id across executors and
    bounded by the watermark — the 100 TB sessionization plan.  Arrow
    moves rows to Python in batches (pandas per group), never per-row.
    """
    import pandas as pd  # noqa: PLC0415 — keep Arrow worker imports local

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = (
        "user_id bigint, session_start timestamp, "
        "session_end timestamp, n_events bigint"
    )
    state_schema = (
        "starts array<bigint>, lasts array<bigint>, ns array<bigint>"
    )

    def fn(key, pdf_iter, state):
        user_id = key[0]
        wm_us = state.getCurrentWatermarkMs() * 1000

        def to_row(s):
            return {
                "user_id": user_id,
                "session_start": pd.Timestamp(s[0], unit="us"),
                "session_end": pd.Timestamp(s[1], unit="us"),
                "n_events": s[2],
            }

        sessions = (
            [list(t) for t in zip(*state.get)] if state.exists else []
        )
        if not state.hasTimedOut:
            ts_us = sorted(
                int(t.value) // 1000
                for pdf in pdf_iter
                for t in pd.to_datetime(pdf["ts"])
                if int(t.value) // 1000 >= wm_us  # late data dropped
            )
            sessions.extend([t, t, 1] for t in ts_us)
            sessions.sort(key=lambda s: s[0])
            merged = []
            for s in sessions:
                if merged and s[0] - merged[-1][1] <= gap_us:
                    merged[-1][1] = max(merged[-1][1], s[1])
                    merged[-1][2] += s[2]
                else:
                    merged.append(s)
            sessions = merged

        closed = [s for s in sessions if s[1] + gap_us < wm_us]
        still_open = [s for s in sessions if s[1] + gap_us >= wm_us]
        if still_open:
            state.update(
                (
                    [s[0] for s in still_open],
                    [s[1] for s in still_open],
                    [s[2] for s in still_open],
                )
            )
            # earliest possible close; must sit strictly past the
            # current watermark for the runtime to accept it
            t_ms = max(
                min(s[1] for s in still_open) + gap_us, wm_us + 1000
            ) // 1000
            state.setTimeoutTimestamp(t_ms)
        elif state.exists:
            state.remove()
        yield pd.DataFrame([to_row(s) for s in closed])

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def stream_static_join(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static broadcast join: enrich the event stream with the
    customer dimension (re-read per micro-batch; no state)."""
    return events.join(
        F.broadcast(customer), events.user_id == customer.c_custkey, "inner"
    ).select("event_id", "ts", "user_id", "c_name", "c_mktsegment")


def lww_compacted_stream(changes: DataFrame) -> DataFrame:
    """Streaming LWW compaction: per key, emit at most ONE row per
    micro-batch (the newest by the (ts_us, seq) LWW order of
    operators/upsert.py), and suppress any update that is not strictly
    newer than what was already emitted in ANY earlier batch.

    This is the streaming twin of q_dedup_lww / the sink's
    dedup-on-read view (reference: ClickHouse ReplacingMergeTree keeps
    the max version at merge time; setup.sh:177's FINAL read): a
    redelivered or out-of-order CDC update can never resurrect an
    older row downstream, because the per-key high-water mark
    (ts_us, seq) lives in checkpointed per-key state that survives
    batches and restarts.

    Implemented with ``applyInPandasWithState`` (state: one
    (ts_us, seq) tuple per key, hash-partitioned across executors;
    rows reach Python as Arrow batches).  ``lww_compacted_stream_tws``
    is the same operator on Spark 4's ``transformWithStateInPandas``
    successor API — preferred on clusters (RocksDB-backed state,
    per-state TTL) but requires the ``protobuf`` wheel for its
    state-server wire protocol, absent in this sandbox.
    """
    import pandas as pd  # noqa: PLC0415 — keep Arrow worker imports local

    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    def fn(key, pdf_iter, state):
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        if pdf.empty:
            return
        best = pdf.sort_values(["ts_us", "seq"]).iloc[-1]
        cand = (int(best.ts_us), int(best.seq))
        prev = tuple(state.get) if state.exists else None
        if prev is None or cand > (int(prev[0]), int(prev[1])):
            state.update(cand)
            yield pd.DataFrame(
                [
                    {
                        "pk": int(key[0]),
                        "ts_us": cand[0],
                        "seq": cand[1],
                        "val": best.val,
                    }
                ]
            )

    return changes.groupBy("pk").applyInPandasWithState(
        fn,
        "pk bigint, ts_us bigint, seq bigint, val string",
        "ts_us bigint, seq bigint",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def lww_compacted_stream_tws(changes: DataFrame) -> DataFrame:
    """``lww_compacted_stream`` on the ``transformWithStateInPandas``
    API (Spark 4's arbitrary-state successor to
    ``applyInPandasWithState``): identical emit/suppress semantics,
    state in a named ValueState cell.

    Why a second implementation exists: on a real cluster this is the
    one to run — RocksDB state store (state >> executor heap),
    per-state-cell TTL (``getValueState(..., ttlDurationMs=...)``
    bounds an unbounded key domain the way
    ``dropDuplicatesWithinWatermark`` bounds its dedup set), and
    schema-evolvable state.  Its Python<->JVM state protocol needs the
    ``protobuf`` wheel, not installed in this sandbox, so tests verify
    the constructed streaming plan (operator node, grouping key,
    output schema) and the worker-side fold logic directly, not an
    end-to-end run — same seam policy as streaming/multimodal.py's
    decode backends.
    """
    import pandas as pd  # noqa: PLC0415 — keep Arrow worker imports local

    from pyspark.sql.streaming.stateful_processor import (  # noqa: PLC0415
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class LWWProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._latest = handle.getValueState("latest", "ts_us bigint, seq bigint")

        def handleInputRows(self, key, rows, timer_values):
            pdf = pd.concat(list(rows), ignore_index=True)
            if pdf.empty:
                return
            best = pdf.sort_values(["ts_us", "seq"]).iloc[-1]
            cand = (int(best.ts_us), int(best.seq))
            prev = self._latest.get()
            if prev is None or cand > (int(prev[0]), int(prev[1])):
                self._latest.update(cand)
                yield pd.DataFrame([best])

        def close(self) -> None:
            pass

    return changes.groupBy("pk").transformWithStateInPandas(
        LWWProcessor(),
        outputStructType="pk bigint, ts_us bigint, seq bigint, val string",
        outputMode="Append",
        timeMode="None",
    )
