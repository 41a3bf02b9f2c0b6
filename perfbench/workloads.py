"""The benchmark's two workloads.

Each drives the engine only through its public functions
(``streaming.pipeline``, ``operators.envelope``, ``operators.upsert``,
``plans.registry``) on inputs made by ``wiregen`` from the run's seed
(``cdc_catchup_live``) or on the fixed sf0.1 fixtures under ``data/``
(``registry_queries``), checks
every output against a reference computed outside the engine, and
returns the raw samples ``run.py`` turns into metrics.
Sizes are fixed per ``--seconds`` so a run's sample counts, and with
them its tail percentiles, do not depend on how fast the engine is.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

import tracing
import wiregen
from kafka_connect_postgres_to_clickhouse_spark.operators.envelope import parse_envelope
from kafka_connect_postgres_to_clickhouse_spark.operators.upsert import lww_dedup
from kafka_connect_postgres_to_clickhouse_spark.streaming.pipeline import (
    WIRE_SCHEMA,
    changelog_file_stream,
    read_state,
    run_cdc_pipeline,
    run_multi_table_pipeline,
    seed_state,
)
from wiregen import MICRO_TS, ORDERS, USERS, Fold, Stream

VERSION_COLS = ["updated_at", "_seq"]
SETUP_REPS = 3  # set-up is repeated and its median reported
REPLAY_BATCHES = 4  # traced run: batches replayed through each layer alone
# read mix: (filtered-scan column, value); the same column is grouped by
CATEGORY = {"users": ("account_type", "Gold"), "orders": ("status", "returned")}
LOOKUP_KEYS = 8

# CDC — rounds of a backlog catch-up into small monolithic mirrors and
# live small batches into a large bucketed mirror, read after each commit
BACKLOG_STREAMS = [
    Stream(USERS, n_keys=20_000, weight=0.35, zipf_s=1.1),
    Stream(ORDERS, n_keys=50_000, weight=0.65, zipf_s=0.9),
]
BACKLOG_BATCH = 4_000
BACKLOG_PER_ROUND = 3  # backlog files landing per round
# backlog files in each set-up repetition: the second merges into existing state
BACKLOG_WARM_FILES, BACKLOG_WARM_SIZE = 2, 500
LIVE_KEYS = 20_000
LIVE_BUCKETS = 16
LIVE_BATCH = 500
LIVE_CORRUPT_FRAC = 0.005
LIVE_PER_ROUND = 4  # live commit + read-mix cycles per round
LIVE_WARM = 1  # live commits in each set-up repetition
ROUND_S = 12  # measured rounds: --seconds / ROUND_S

# registry queries on the fixed fixture set
REG_MATERIALIZE = [
    "emb_norms", "ivf_assign", "ivm_base",
]
REG_QUERIES = (
    "q_changelog_replay q_upsert_batch q_dedup_lww q_snapshot_handoff "
    "q_ivm_join q_join_multi q_tpch_q1 q_tpch_q3 q_tpch_q5 q_tpch_q9 "
    "q_tpch_q18 q_tpch_q21 q_win_tumbling q_simsearch_ivf"
).split()
REG_WARMUP = "q_scan_snapshot"
# the sf0.1 fixture set of TESTDATA.md (seed 42), copied here so a run
# reads nothing outside its checkout
REG_FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


@dataclass
class Ctx:
    seed: int
    seconds: int
    trace: bool
    work: str
    cores: int
    tracer: tracing.Tracer
    spark: object
    log: tracing.ProgressLog


@dataclass
class Result:
    setup_reps: list[float] = field(default_factory=list)
    op_ms: list[float] = field(default_factory=list)
    trigger_ms: list[float] = field(default_factory=list)  # backlog catch-up, report only
    read_ms: list[float] = field(default_factory=list)
    work_units: float = 0.0  # backlog events applied, or queries run
    work_s: float = 0.0
    # epoch intervals of the measured pipeline calls or queries: only
    # Spark jobs submitted inside them count as the workload's work
    op_windows: list[tuple[float, float]] = field(default_factory=list)
    ops: int = 0  # operations in those intervals: micro-batches or queries
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            self.errors.append(msg)


# ------------------------------------------------------------ helpers

_SPARK_TYPE = {
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
}
_PY_TYPE = {"int32": int, "int64": int, "double": float, "string": str}


def spark_schema(table: wiregen.Table) -> T.StructType:
    return T.StructType(
        [
            T.StructField(n, T.TimestampType() if lg == MICRO_TS else _SPARK_TYPE[t], opt)
            for n, t, opt, lg in table.fields
        ]
    )


def _canon_cols(table: wiregen.Table) -> list:
    cols = [
        F.unix_micros(F.col(n)).alias(n) if lg == MICRO_TS else F.col(n)
        for n, _, _, lg in table.fields
    ]
    return cols + [F.col("_seq"), F.col("op")]


def _canon(table: wiregen.Table, records) -> list[list]:
    convs = [_PY_TYPE[t] for _, t, _, _ in table.fields] + [int, str]
    return [[None if v is None else c(v) for c, v in zip(convs, r)] for r in records]


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000.0


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def check_state(ctx: Ctx, state_dir: str, table: wiregen.Table, fold: Fold, res: Result) -> None:
    """Final mirror vs the reference fold: row count and digest."""
    df = read_state(ctx.spark, state_dir)
    pdf = df.select(*_canon_cols(table)).toPandas()
    have = wiregen.digest(_canon(table, pdf.itertuples(index=False, name=None)))
    want = wiregen.digest(fold.rows(table))
    res.check(have == want, f"{table.name} state {have} != reference fold {want}")


def read_mix(ctx: Ctx, mirrors: list[tuple[str, wiregen.Table, list]], fold: Fold, res: Result) -> float:
    """One read mix over ``mirrors`` — ``(state dir, table, keys just
    written)`` — each on one ``read_state`` snapshot: a point lookup of
    the keys, a filtered scan, a group-by.  Timed as a whole, as a
    dashboard refresh sees it (the returned ms); each answer is checked
    against the fold."""
    spark, tr = ctx.spark, ctx.tracer
    answers = []
    t0 = time.perf_counter()
    for state_dir, table, keys in mirrors:
        col, val = CATEGORY[table.name]
        keys = sorted(set(keys[-LOOKUP_KEYS:]))
        res.attempted += 3
        with tr.span("state.read_state", read="point_lookup"):
            snap = read_state(spark, state_dir)
            got = snap.filter(F.col(table.key).isin(keys)).select(*_canon_cols(table)).collect()
        with tr.span("state.read_state", read="filtered_scan"):
            n_match = snap.filter(F.col(col) == val).count()
        with tr.span("state.read_state", read="group_by"):
            groups = dict(snap.groupBy(col).count().collect())
        answers.append((table, keys, got, n_match, groups))
    ms = _ms(t0)
    for table, keys, got, n_match, groups in answers:
        col, val = CATEGORY[table.name]
        st = fold.state[table.name]
        want_rows = sorted(fold.row(table, k) for k in keys if k in st)
        res.check(sorted(_canon(table, got)) == want_rows, f"{table.name} point lookup {keys}")
        want_groups = Counter(r[3][col] for r in st.values())
        res.check(n_match == want_groups[val], f"{table.name} scan {n_match} != {want_groups[val]}")
        res.check(groups == dict(want_groups), f"{table.name} group-by differs")
    return ms


def _pipeline_layer(trig: list[dict]) -> dict:
    """Means over the triggers that read input."""
    if not trig:
        return {}

    def mean(*keys: str) -> float:
        return statistics.fmean(sum(p["ms"].get(k, 0) for k in keys) for p in trig)

    return {
        "pipeline.trigger_ms": mean("triggerExecution"),
        "pipeline.add_batch_ms": mean("addBatch"),
        "pipeline.planning_ms": mean("queryPlanning"),
        "pipeline.offset_log_ms": mean("walCommit", "commitOffsets"),
        "pipeline.source_list_ms": mean("latestOffset", "getBatch"),
        "pipeline.batches": float(len(trig)),
        "pipeline.rows_in": float(sum(p["rows"] for p in trig)),
    }


def _state_layer(watch: tracing.StateWatch, state_dirs: list[str], events: int, batches: int) -> dict:
    vs = watch.written()
    touched = [v["buckets"] / LIVE_BUCKETS for v in vs]
    return {
        "state.rows_rewritten_per_event": sum(v["rows"] for v in vs) / max(events, 1),
        "state.bytes_written_per_batch": sum(v["bytes"] for v in vs) / max(batches, 1),
        "state.buckets_touched_frac": statistics.fmean(touched) if touched else 0.0,
        "state.files_per_read": float(sum(tracing.files_per_read(d) for d in state_dirs)),
        "state.versions_on_disk": float(sum(len(tracing.version_dirs(d)) for d in state_dirs)),
    }


def replay_layers(ctx: Ctx, paths: list[str], tables: list[wiregen.Table], state_dirs: list[str]) -> dict:
    """Traced run only: each layer's public function alone on the run's
    own batches — envelope parse, LWW dedup — and ``read_state``."""
    spark, tr = ctx.spark, ctx.tracer
    parse_ms, dedup_ms, rows_in, rows_out, corrupt, parsed_rows = [], [], 0, 0, 0, 0
    for path in paths:
        wire = spark.read.schema(WIRE_SCHEMA).json(path).persist()
        wire.count()
        p_ms = d_ms = 0.0
        for t in tables:
            sl = wire.filter((F.col("topic") == t.topic) & F.col("value").isNotNull())
            parsed = parse_envelope(sl, spark_schema(t))
            with tr.span("envelope.parse_envelope", table=t.name):
                t0 = time.perf_counter()
                parsed.write.format("noop").mode("overwrite").save()
                p_ms += _ms(t0)
            stats_row = parsed.agg(
                F.count("*"), F.sum(F.col("_corrupt").cast("int"))
            ).first()
            parsed_rows += stats_row[0]
            corrupt += stats_row[1] or 0
            clean = parsed.filter(~F.col("_corrupt") & (F.col("op") != "d")).drop("_corrupt")
            deduped = lww_dedup(clean, [t.key], VERSION_COLS)
            with tr.span("upsert.lww_dedup", table=t.name):
                t0 = time.perf_counter()
                deduped.write.format("noop").mode("overwrite").save()
                d_ms += _ms(t0)
            rows_in += clean.count()
            rows_out += deduped.count()
        wire.unpersist()
        parse_ms.append(p_ms)
        dedup_ms.append(d_ms)
    read_ms = []
    for _ in range(3):
        with tr.span("state.read_state", read="full_scan"):
            t0 = time.perf_counter()
            for d in state_dirs:
                read_state(spark, d).write.format("noop").mode("overwrite").save()
            read_ms.append(_ms(t0))
    return {
        "envelope.parse_ms_per_batch": statistics.median(parse_ms),
        "envelope.rows_per_s": parsed_rows / max(sum(parse_ms) / 1000.0, 1e-9),
        "envelope.corrupt_rows": float(corrupt),
        "upsert.dedup_ms_per_batch": statistics.median(dedup_ms),
        "upsert.rows_in": float(rows_in),
        "upsert.rows_out": float(rows_out),
        "upsert.collapse_ratio": rows_out / max(rows_in, 1),
        "state.read_ms": statistics.median(read_ms),
    }


def _wire_bytes_per_event(paths: list[str], batches: list[wiregen.Batch]) -> float:
    return sum(os.path.getsize(p) for p in paths) / max(sum(b.events for b in batches), 1)


def _add_triggers(ctx: Ctx, progress: list[dict], calls: list[dict] = ()) -> None:
    """One span per trigger, under the call span it started in (or the
    open span)."""
    for p in progress:
        start = p["start"]
        parent = next((c["id"] for c in calls if c["start"] <= start <= c["end"]), None)
        ctx.tracer.add(
            "pipeline.trigger", start, start + p["ms"]["triggerExecution"] / 1000.0,
            parent=parent, batch=p["batch"],
        )


# ------------------------------------------------------------ CDC


def cdc_catchup_live(ctx: Ctx) -> Result:
    """A replication that keeps falling behind, in rounds.  In each
    round a backlog of two-topic files lands and one
    ``run_multi_table_pipeline`` call catches it up, one file per
    trigger, into small monolithic mirrors (``rate_per_s``); then live
    small batches arrive for a large mirror seeded with
    ``seed_state(n_buckets=LIVE_BUCKETS)``: one
    ``run_cdc_pipeline(dlq_dir=…)`` call per arriving file
    (``op_ms_p50``), the read mix after each commit (``read_ms_p50``).
    Both kinds of call share one session and its set-up."""
    spark, tr, res = ctx.spark, ctx.tracer, Result()
    rounds = max(2, round(ctx.seconds / ROUND_S))

    backlog = wiregen.generate(ctx.seed, BACKLOG_STREAMS, rounds * BACKLOG_PER_ROUND, BACKLOG_BATCH)
    backlog_staged = wiregen.write_batches(backlog, os.path.join(ctx.work, "backlog_staged"))
    backlog_dir = _fresh(os.path.join(ctx.work, "backlog"))
    backlog_paths = [os.path.join(backlog_dir, os.path.basename(p)) for p in backlog_staged]
    warm = wiregen.generate(ctx.seed + 1, BACKLOG_STREAMS, BACKLOG_WARM_FILES, BACKLOG_WARM_SIZE)
    warm_dir = os.path.join(ctx.work, "warm")
    wiregen.write_batches(warm, warm_dir)
    tables = [s.table for s in BACKLOG_STREAMS]
    backlog_fold = Fold(tables)
    for b in backlog:
        backlog_fold.apply(b.lines)
    schemas = {t.name: spark_schema(t) for t in tables}
    keys = {t.name: [t.key] for t in tables}

    n_live = rounds * LIVE_PER_ROUND
    snap = wiregen.snapshot_rows(ctx.seed + 2, USERS, LIVE_KEYS)
    snap_path = os.path.join(ctx.work, "snapshot.json")
    wiregen.write_rows(snap, snap_path)
    live = wiregen.generate(
        ctx.seed + 2, [Stream(USERS, LIVE_KEYS, zipf_s=0.0)], LIVE_WARM + n_live, LIVE_BATCH,
        corrupt_frac=LIVE_CORRUPT_FRAC,
    )
    staged = wiregen.write_batches(live, os.path.join(ctx.work, "staged"))
    flat = T.StructType(
        [T.StructField(n, T.LongType() if lg == MICRO_TS else _SPARK_TYPE[t]) for n, t, _, lg in USERS.fields]
    )
    snap_df = spark.read.schema(flat).json(snap_path).select(
        *[F.timestamp_micros(n).alias(n) if lg == MICRO_TS else F.col(n) for n, _, _, lg in USERS.fields]
    )
    schema = spark_schema(USERS)
    fold = Fold([USERS])  # the live mirror after set-up, then after each commit
    fold.seed(USERS, snap)
    for b in live[:LIVE_WARM]:
        fold.apply(b.lines)

    def catch_up(src: str, root: str) -> None:
        stream = spark.readStream.schema(WIRE_SCHEMA).option("maxFilesPerTrigger", 1).json(src)
        run_multi_table_pipeline(
            stream, schemas, keys, os.path.join(root, "state"),
            os.path.join(root, "ckpt"), VERSION_COLS,
        )

    def arrive(root: str, i: int) -> None:
        src = os.path.join(root, "src")
        tmp = os.path.join(src, f".{i}.tmp")
        shutil.copyfile(staged[i], tmp)
        os.replace(tmp, os.path.join(src, os.path.basename(staged[i])))

    def commit(root: str) -> None:
        run_cdc_pipeline(
            changelog_file_stream(spark, os.path.join(root, "src")), schema,
            os.path.join(root, "state"), os.path.join(root, "ckpt"), [USERS.key],
            VERSION_COLS, dlq_dir=os.path.join(root, "dlq"), n_buckets=LIVE_BUCKETS,
        )

    # set-up, repeated, each time one small round: seed the live mirror,
    # commit to it and read it, and catch up a short backlog; the last
    # repetition's live mirror is the one measured
    seed_s = []
    root = None
    for r in range(SETUP_REPS):
        if root is not None:
            shutil.rmtree(root, ignore_errors=True)
        root = os.path.join(ctx.work, f"mirror{r}")
        _fresh(os.path.join(root, "src"))
        warm_root = os.path.join(ctx.work, f"warm{r}")
        with tr.span("setup.seed_and_warmup", rep=r):
            t0 = time.perf_counter()
            with tr.span("state.seed_state"):
                seed_state(spark, snap_df, os.path.join(root, "state"), [USERS.key], VERSION_COLS,
                           n_buckets=LIVE_BUCKETS)
            seed_s.append(time.perf_counter() - t0)
            for i in range(LIVE_WARM):
                arrive(root, i)
                commit(root)
            read_mix(ctx, [(os.path.join(root, "state"), USERS, live[LIVE_WARM - 1].keys["users"])], fold, res)
            catch_up(warm_dir, warm_root)
            res.setup_reps.append(time.perf_counter() - t0)
        shutil.rmtree(warm_root, ignore_errors=True)
    state_dir = os.path.join(root, "state")

    # the measured rounds
    mirrors = os.path.join(ctx.work, "backlog_mirrors")
    backlog_dirs = [os.path.join(mirrors, "state", t.name) for t in tables]
    watch = tracing.StateWatch([state_dir])
    watch.skip_existing()  # versions written in set-up are not counted
    catch_windows, live_windows = [], []
    calls = []  # call spans, for attaching the listener's trigger spans
    t_start = time.time()
    for r in range(rounds):
        for j in range(r * BACKLOG_PER_ROUND, (r + 1) * BACKLOG_PER_ROUND):  # the round's backlog lands
            os.replace(backlog_staged[j], backlog_paths[j])
        res.attempted += 1
        with tr.span("pipeline.run_multi_table_pipeline", round=r) as call:
            t0, e0 = time.perf_counter(), time.time()
            catch_up(backlog_dir, mirrors)
            res.work_s += time.perf_counter() - t0
            catch_windows.append((e0, time.time()))
        calls.append(call)
        for i in range(LIVE_WARM + r * LIVE_PER_ROUND, LIVE_WARM + (r + 1) * LIVE_PER_ROUND):
            b = live[i]
            res.attempted += 1
            with tr.span("pipeline.run_cdc_pipeline", batch=i) as call:
                arrive(root, i)
                t0, e0 = time.perf_counter(), time.time()
                try:
                    commit(root)
                except Exception as e:  # noqa: BLE001 — a failed batch is counted, not fatal
                    res.failed += 1
                    res.errors.append(f"batch {i}: {e!r}"[:500])
                    continue
                res.op_ms.append(_ms(t0))
                live_windows.append((e0, time.time()))
            calls.append(call)
            fold.apply(b.lines)
            if ctx.trace:
                watch.scan()
            res.read_ms.append(read_mix(ctx, [(state_dir, USERS, b.keys["users"])], fold, res))
    events = sum(b.events for b in backlog)
    progress = ctx.log.wait_rows(t_start, events + sum(b.events for b in live[LIVE_WARM:]))
    _add_triggers(ctx, progress, [c for c in calls if c is not None])

    def inside(windows: list[tuple[float, float]]) -> list[dict]:
        return [p for p in progress if any(t0 <= p["start"] <= t1 for t0, t1 in windows)]

    caught, live_progress = inside(catch_windows), inside(live_windows)
    res.work_units = events
    res.trigger_ms = [p["ms"]["triggerExecution"] for p in caught]
    res.check(sum(p["rows"] for p in caught) == events, f"catch-up listener rows != {events}")
    res.op_windows = catch_windows + live_windows
    res.ops = len(caught) + len(live_windows)

    for t, d in zip(tables, backlog_dirs):
        check_state(ctx, d, t, backlog_fold, res)
    check_state(ctx, state_dir, USERS, fold, res)
    dlq = spark.read.schema("_seq long, value string").parquet(os.path.join(root, "dlq")).count()
    injected = sum(b.corrupt for b in live)
    res.check(dlq == injected, f"DLQ rows {dlq} != injected corrupt {injected}")

    res.layer["state.disk_mb"] = tracing.dir_mb(os.path.join(mirrors, "state")) + tracing.dir_mb(state_dir)
    res.layer["state.seed_s"] = statistics.median(seed_s)
    if ctx.trace:
        meas = live[LIVE_WARM:]
        res.layer.update(_pipeline_layer(live_progress))
        res.layer.update(_state_layer(watch, [state_dir], sum(b.events for b in meas), n_live))
        tpb = statistics.fmean(len(b.tables) for b in backlog)
        res.layer["route.tables_per_batch"] = tpb
        res.layer["route.add_batch_ms_per_table"] = _pipeline_layer(caught)["pipeline.add_batch_ms"] / tpb
        res.layer["envelope.wire_bytes_per_event"] = _wire_bytes_per_event(
            backlog_paths + staged[LIVE_WARM:], backlog + meas
        )
        res.layer.update(replay_layers(
            ctx, backlog_paths[:REPLAY_BATCHES] + staged[LIVE_WARM:LIVE_WARM + REPLAY_BATCHES], tables,
            backlog_dirs + [state_dir],
        ))
    return res


# ------------------------------------------------------------ registry


def _oracle_mismatch(spark_pdf, oracle_pdf) -> str | None:
    """``tools/check_oracle.py``'s comparison on an already fetched
    result: columns, row count, then values order-insensitively."""
    import pandas as pd
    from tools.check_oracle import normalize

    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return "schema"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    a = normalize(spark_pdf)
    b = normalize(oracle_pdf.astype(spark_pdf.dtypes.to_dict(), errors="ignore"))
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-9)
    except AssertionError as e:
        return "values " + str(e).split("\n")[0]
    return None


def registry_queries(ctx: Ctx) -> Result:
    """The registry list on a fixed fixture set: ``_materialize:*``
    builds first, each timed as its own query, then every query with
    its result fetched; results are checked against the DuckDB oracles
    outside the timed region."""
    from kafka_connect_postgres_to_clickhouse_spark.operators.analytics_queries import (
        MATERIALIZATION_TRIGGERS,
    )
    from kafka_connect_postgres_to_clickhouse_spark.plans.registry import load_all_queries
    from tools.check_oracle import duck_con

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    fx = REG_FIXTURES
    registry = load_all_queries()
    for r in range(SETUP_REPS):
        with tr.span("setup.warmup_query", rep=r):
            t0 = time.perf_counter()
            registry[REG_WARMUP].fn(spark, fx).toPandas()
            res.setup_reps.append(time.perf_counter() - t0)

    per_module: dict[str, float] = Counter()
    results = {}
    jobs = [(f"_materialize:{m}", "materialize", lambda m=m: MATERIALIZATION_TRIGGERS[m](spark, fx).count()) for m in REG_MATERIALIZE]
    jobs += [
        (q, registry[q].fn.__module__.rsplit(".", 1)[-1].removesuffix("_queries"),
         lambda q=q: registry[q].fn(spark, fx).toPandas())
        for q in REG_QUERIES
    ]
    for name, module, job in jobs:
        res.attempted += 1
        with tr.span(f"query.{module}", query=name):
            t0, e0 = time.perf_counter(), time.time()
            try:
                out = job()
            except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
                res.failed += 1
                res.errors.append(f"{name}: {e!r}"[:500])
                continue
            ms = _ms(t0)
            res.op_windows.append((e0, time.time()))
        res.op_ms.append(ms)
        per_module[module] += ms
        results[name] = out
    res.work_units = len(res.op_ms)
    res.work_s = sum(res.op_ms) / 1000.0
    res.read_ms = list(res.op_ms)  # every operation of this workload is a read
    res.ops = len(jobs)

    con = duck_con(fx)
    for q in REG_QUERIES:
        oracle = registry[q].oracle
        if q in results and oracle is not None:
            err = _oracle_mismatch(results[q], con.sql(oracle).df())
            res.check(err is None, f"{q}: {err}")
    con.close()
    if ctx.trace:
        for m in ("pipeline", "relational", "window", "analytics", "extended", "materialize"):
            res.layer[f"query.{m}_ms"] = float(per_module.get(m, 0.0))
    return res


WORKLOADS = {
    "cdc_catchup_live": cdc_catchup_live,
    "registry_queries": registry_queries,
}
