"""Structured Streaming CDC pipeline — the continuous form of the
reference data plane (SURVEY.md section 3.2).

Reference topology: PG WAL -> Debezium -> Kafka topic -> sink ->
ClickHouse ReplacingMergeTree.  Spark topology: ``readStream`` (Kafka
in production; file/memory source in tests — the changelog IS the
source) -> envelope parse -> tombstone/delete filters ->
``foreachBatch`` LWW upsert into a keyed parquet state table, with
checkpointing standing in for Kafka Connect offset storage
(reference docker-compose.yml:88-90,133).

Delivery semantics mirror the reference: at-least-once transport +
idempotent keyed upsert (setup.sh:101-103,144 + ReplacingMergeTree
absorption).  Exactly-once to parquet is approximated by
deterministic LWW overwrite per micro-batch; a transactional table
format (Delta/Iceberg MERGE) is the drop-in production upgrade.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.envelope import parse_envelope
from ..operators.upsert import lww_dedup, not_deleted, upsert_batch

WIRE_SCHEMA = T.StructType(
    [
        T.StructField("_seq", T.LongType()),
        T.StructField("topic", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)


def changelog_file_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """JSON-lines changelog stream: (_seq, topic, op, value=envelope).

    Stands in for ``readStream.format("kafka")``; columns mirror the
    Kafka source's (offset, topic, value).
    """
    return spark.readStream.schema(WIRE_SCHEMA).json(source_dir)


def _current_marker(state_dir: str) -> str:
    return os.path.join(state_dir, "_CURRENT")


def _current_version(state_dir: str) -> int | None:
    """The version ``_CURRENT`` names, or None when there is no
    ``_CURRENT`` (no state yet).  A ``_CURRENT`` that does not parse
    raises: read as "no state", the next commit would take version 0
    and publish only its own batch."""
    path = _current_marker(state_dir)
    try:
        with open(path) as f:
            text = f.read()
    except FileNotFoundError:
        return None
    try:
        return int(text.strip())
    except ValueError:
        raise ValueError(f"{path} does not parse: {text!r}") from None


def _read_manifest(state_dir: str, version: int) -> dict:
    """Manifest of state version ``version``.  Shape: ``{"n_buckets": N,
    "buckets": {"<bucket>": <version holding it>}, "schema": <StructType
    JSON of the rows this version wrote>}``, plus ``"marker"`` when the
    writer recorded one (the slot-lag monitor's replay marker).  This,
    ``_write_version``, ``_open_state`` and ``_read_buckets`` are the
    only code that knows the on-disk format, and state is read in that
    one format: ``v{N}/_MANIFEST.json`` is the only file read here.  A
    manifest that is missing or does not parse raises ``ValueError``
    naming the version; this includes state written before manifests
    existed (parquet straight in ``v{N}``), which must be re-seeded.
    Only ``_open_state`` (which refuses a manifest without ``"schema"``)
    and the prune (which needs only ``"buckets"``) call it."""
    path = os.path.join(state_dir, f"v{version}", "_MANIFEST.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError) as e:
        raise ValueError(f"{path} cannot be read: {e}") from e


def _open_state(state_dir: str) -> tuple[int | None, dict, dict[int, T.StructType]]:
    """One consistent snapshot of the state: the current version (None
    when there is no state), its manifest as it is on disk (``{"buckets":
    {}}`` when there is no state) and the read schema of the current
    version and of every version the manifest maps a bucket to, keyed by
    version: the schema that version's manifest records, plus ``bkt``.
    Every reader and writer of state opens it here, once per call, and
    passes the schemas on to ``_read_buckets``; they stay outside the
    manifest, so an opened snapshot is never written back as one.  A
    version whose manifest records no schema (written before schemas
    were recorded) raises ``ValueError`` naming it, before any row is
    read or anything is written; such state must be re-seeded."""
    cur = _current_version(state_dir)
    manifest = {"buckets": {}} if cur is None else _read_manifest(state_dir, cur)
    schemas = {}
    for ver in sorted({cur, *manifest["buckets"].values()} - {None}):
        own = manifest if ver == cur else _read_manifest(state_dir, ver)
        if "schema" not in own:
            raise ValueError(f"{os.path.join(state_dir, f'v{ver}')} records no schema; re-seed it")
        schemas[ver] = T.StructType.fromJson(own["schema"]).add("bkt", T.IntegerType())
    return cur, manifest, schemas


RETAIN_VERSIONS = 3  # committed versions every commit keeps on disk


def prune_state_versions(state_dir: str, keep: int = RETAIN_VERSIONS) -> list[int]:
    """Bounded-disk retention for versioned state snapshots — the
    ClickHouse old-part cleanup analog (merged parts linger briefly for
    in-flight readers, then go).  Without it every micro-batch leaves a
    full snapshot behind and state disk grows linearly with BATCH COUNT
    forever — the one unbounded resource in the versioned-directory
    scheme at 100 TB.

    Deletes only versions <= current - keep: never the current version,
    never anything newer (a concurrent writer's in-flight v{N+1}), and
    ``keep`` committed versions stay so a reader that resolved
    ``_CURRENT`` just before a swap can still finish its scan.  Called
    AFTER the ``_CURRENT`` swap; a crash mid-prune just leaves extra
    old dirs for the next batch's prune — correctness never depends on
    pruning having run.  Returns the removed version numbers."""
    import shutil

    cur = _current_version(state_dir)
    if cur is None or keep < 1:
        return []
    try:
        names = os.listdir(state_dir)
    except OSError:
        return []
    versions = sorted(int(n[1:]) for n in names if re.fullmatch(r"v\d+", n))
    # bucketed states reference buckets ACROSS versions (copy-on-write):
    # a version any RETAINED manifest points into is live regardless of
    # age — deleting it would tear holes in that snapshot.  The keep
    # window exists for readers that resolved _CURRENT just before the
    # swap, so the live set must union the manifests of every retained
    # version (cur-keep, cur], not just the current one: a bucket
    # untouched since v0 but rewritten by the newest batch drops out of
    # the current manifest while cur-1's manifest still needs v0.
    live = {
        held
        for v in versions
        if cur - keep < v <= cur
        for held in _read_manifest(state_dir, v)["buckets"].values()
    }
    removed = []
    for v in versions:
        if v <= cur - keep and v not in live:
            path = os.path.join(state_dir, f"v{v}")
            shutil.rmtree(path, ignore_errors=True)
            # a failed/partial rmtree must not be reported as removed
            if not os.path.exists(path):
                removed.append(v)
    return removed


def _write_version(
    rows: DataFrame,
    state_dir: str,
    prev: int | None,
    n_buckets: int,
    held: dict[str, int],
    marker: str | None = None,
) -> int:
    """Write ``rows`` (which carry their ``bkt`` column) as the state
    version after ``prev`` (``v0`` when ``prev`` is None) and commit it;
    return the new version.  This is the one write step every state
    writer shares, the only code that numbers versions, and with
    ``_read_manifest``, ``_open_state`` and ``_read_buckets`` the only
    code that knows the on-disk format.  Rows land as plain parquet in
    ``v{version}/``, one file per write task, with ``bkt`` a column
    sorted within each file: the sorted part of a ReplacingMergeTree
    insert, whose row groups' min/max on ``bkt`` let a read of a few
    buckets skip the rest.  The manifest then maps each bucket to the version holding
    it: ``held`` (buckets kept from older versions) updated with the
    buckets just written, which an ``Observation`` on the write collects
    at no extra job.  It records the schema of ``rows`` without
    ``bkt``, so reads of this version plan with no schema-inference
    job, the way a part knows its own columns (``_open_state`` turns it
    back into the read schema), and ``marker`` when one is given.  Then
    the ``_CURRENT`` swap, the commit point (write-new-part-then-swap,
    as ClickHouse merges do: a crash before it leaves readable state
    untouched), then the retention prune, which runs only after the
    swap and keeps the newest ``RETAIN_VERSIONS`` committed versions
    (plus every version they still read buckets from)."""
    version = 0 if prev is None else prev + 1
    vdir = os.path.join(state_dir, f"v{version}")
    written = Observation()
    rows = rows.observe(written, F.collect_set("bkt").alias("bkt"))
    rows.sortWithinPartitions("bkt").write.mode("overwrite").parquet(vdir)
    manifest = {
        "n_buckets": n_buckets,
        "buckets": {**held, **{str(b): version for b in written.get["bkt"]}},
        "schema": T.StructType([f for f in rows.schema if f.name != "bkt"]).jsonValue(),
    }
    if marker is not None:
        manifest["marker"] = marker
    with open(os.path.join(vdir, "_MANIFEST.json"), "w") as f:
        json.dump(manifest, f)
    tmp = _current_marker(state_dir) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, _current_marker(state_dir))
    prune_state_versions(state_dir, keep=RETAIN_VERSIONS)
    return version


def read_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Read the current state snapshot (versioned-directory scheme)
    through its manifest; None when there is no state or no bucket holds
    rows yet.  The state is opened once (``_open_state``); every bucket
    is read from the version the manifest maps it to, that version's
    files filtered to ``bkt IN`` its buckets (``_read_buckets``), and
    ``bkt`` is dropped.  State in any other format raises
    ``ValueError`` naming the version (``_read_manifest``,
    ``_open_state``) before a row is read.  The manifest's bookkeeping
    (bucket map, schema, the slot-lag monitor's replay marker) never
    shows up as rows.

    Delete tombstones (op='d' LWW winners, kept so re-delivered older
    events cannot resurrect a deleted key) are hidden: the merge reads
    them back through ``_read_buckets``, consumers don't see them.
    """
    _, manifest, schemas = _open_state(state_dir)
    df = _read_buckets(spark, state_dir, manifest, schemas, [int(b) for b in manifest["buckets"]])
    if df is None:  # no state, or seeded from an empty snapshot
        return None
    df = df.drop("bkt")
    if "op" in df.columns:
        df = df.filter(not_deleted())
    return df


def _read_buckets(
    spark: SparkSession, state_dir: str, manifest: dict, schemas: dict, want: Sequence[int]
) -> DataFrame | None:
    """Read the requested buckets of a state opened by ``_open_state``
    (its ``manifest`` and read ``schemas``) — the only parquet reader
    of state; it reads no manifest itself.  Each bucket comes from the
    VERSION that currently holds it (copy-on-write: untouched buckets
    still live in older version dirs).  Each such version directory is read
    once, filtered to ``bkt IN`` the buckets wanted from it.  The
    filter is what makes the read correct, not a hint: a version's
    files also hold the buckets later versions have superseded.  It is
    also the pruning this layout exists for: pushed down to parquet, it
    skips the row groups whose ``bkt`` min/max miss the wanted buckets,
    so a merge that wants 3 of 64 buckets decodes little more than
    those 3.  Versions written as ``bkt=i/`` directories read through
    the same call, since partition discovery turns the directories into
    the ``bkt`` column.  Each version reads with its schema from
    ``schemas`` (the one its own manifest records, plus ``bkt``), so
    planning the read runs no Spark job.  Schema differences across
    versions (evolution rewrote touched buckets only) merge via
    unionByName(allowMissingColumns=True).  Returns None when no
    requested bucket has any state yet."""
    held = manifest["buckets"]
    by_version: dict[int, list[int]] = {}
    for b in want:
        ver = held.get(str(b))
        if ver is not None:
            by_version.setdefault(int(ver), []).append(b)
    parts = []
    for ver, buckets in sorted(by_version.items()):
        rows = spark.read.schema(schemas[ver]).parquet(os.path.join(state_dir, f"v{ver}"))
        parts.append(rows.filter(F.col("bkt").isin(sorted(buckets))))
    if not parts:
        return None
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p, allowMissingColumns=True)
    return df


def _run_available_now(stream: DataFrame, checkpoint_dir: str, fn) -> None:
    """Drain everything available now through ``fn(batch, batch_id)``
    (``foreachBatch`` under Trigger.AvailableNow), with checkpointing
    standing in for Kafka Connect offset storage."""
    (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _run_concurrently(spark: SparkSession, work: Sequence[Callable[[], None]]) -> None:
    """Run every callable of ``work`` on its own thread, at most
    ``defaultParallelism`` at a time, and return once all of them have
    finished; then re-raise the first failure (in ``work`` order)
    unchanged.  Each target is wrapped here, on the calling thread, so
    its Spark jobs carry the caller's local properties: inside
    ``foreachBatch`` they stay in the streaming query's job group, and
    stopping the query cancels them.  Each target gets its own copy of
    those properties (one wrapper per target), so what one thread sets,
    such as a job description or a SQL execution id, does not leak into
    another."""
    if not work:
        return
    workers = min(len(work), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn)) for fn in work]
    failures = [e for e in (fut.exception() for fut in futures) if e is not None]
    if failures:
        raise failures[0]


def _write_dead_letters(rows: DataFrame, dlq_dir: str, batch_id: int) -> None:
    """Write the dead letters ``rows`` of micro-batch ``batch_id`` to
    ``dlq_dir/batch_id=N``, replacing what is there: the one writer of
    every dead-letter directory (corrupt envelopes and unrouted
    records)."""
    # deterministic per-batch Hive-style subpath + overwrite, NOT a flat
    # append: foreachBatch is at-least-once, so a micro-batch replayed
    # after a crash re-runs this write — overwriting the same batch_id=N
    # directory replaces its own previous output instead of appending
    # duplicates, which keeps the DLQ directly replayable without
    # consumer-side dedup.  Readers of dlq_dir recover the micro-batch
    # id as the `batch_id` partition column.
    rows.write.mode("overwrite").parquet(os.path.join(dlq_dir, f"batch_id={batch_id}"))


def run_cdc_pipeline(
    stream: DataFrame,
    payload_schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    keys: Sequence[str],
    version_cols: Sequence[str],
    apply_deletes: bool = False,
    dlq_dir: str | None = None,
    n_buckets: int = 1,
) -> None:
    """Run the full pipeline until no more input (Trigger.AvailableNow):
    every record, whatever its topic, merges into the one table at
    ``state_dir`` — the one-table case of ``run_multi_table_pipeline``.

    The table's settings are bound to ``_merge_batch`` once, here; each
    micro-batch is then just ``merge(batch, batch_id)``, the
    ``foreachBatch`` sink function.  Per micro-batch: parse envelope
    (PERMISSIVE — corrupt rows dropped, mirroring errors.tolerance=all),
    drop tombstones (null value, setup.sh:94,107), drop deletes
    (default, SURVEY.md section 0), then merge batch with existing state
    under LWW and publish a new state version.

    State is hash-bucketed by key into ``n_buckets`` buckets behind a
    per-version manifest; a commit rewrites only the buckets its keys
    touch.  The default single bucket rewrites the whole (batch-sized)
    state each commit without computing the touched set; more buckets
    pay off once state dwarfs its micro-batches.  ``n_buckets`` is
    fixed when the state is created and checked on every commit.

    ``dlq_dir`` routes corrupt wire records (parse failures) to a
    dead-letter parquet at ``dlq_dir/batch_id=N`` — raw bytes preserved
    untouched with their offset, so the DLQ is REPLAYABLE after a
    parser fix (the errors.deadletterqueue.* half of the reference's
    errors.tolerance=all story, setup.sh:145-147; without it tolerated
    rows vanish silently).  The q_dlq_stats classifier runs over
    exactly this output.

    State is a versioned directory (v0, v1, ...) with a ``_CURRENT``
    pointer flipped after the new version is fully written, so a
    mid-write crash never corrupts readable state, the merge never
    overwrites its own input, and nothing round-trips through the
    driver.  The newest ``RETAIN_VERSIONS`` (3) committed versions stay
    on disk for readers that resolved ``_CURRENT`` just before a swap;
    ``prune_state_versions(state_dir, keep=1)`` reclaims the rest when
    no reader is running.  Re-running a batch after failure converges
    (LWW is idempotent); with a lakehouse table format the body becomes
    a single MERGE INTO keyed on ``keys``.
    """
    merge = partial(
        _merge_batch, stream.sparkSession, payload_schema=payload_schema,
        state_dir=state_dir, keys=keys, version_cols=version_cols,
        apply_deletes=apply_deletes, n_buckets=n_buckets, dlq_dir=dlq_dir,
    )
    _run_available_now(stream, checkpoint_dir, lambda batch, i: merge(batch, batch_id=i))


def _merge_batch(
    spark: SparkSession,
    batch: DataFrame,
    payload_schema: T.StructType,
    state_dir: str,
    keys: Sequence[str],
    version_cols: Sequence[str],
    apply_deletes: bool,
    n_buckets: int = 1,
    dlq_dir: str | None = None,
    batch_id: int = 0,
) -> None:
    """One micro-batch of one table: layout check, envelope parse, DLQ,
    LWW merge with bucket-level copy-on-write, publish.

    Layout: state rows are hash-bucketed by key
    (``pmod(xxhash64(keys), n_buckets)``, engine-stable), each version
    directory holds only the buckets ITS batch touched, as parquet files
    with ``bkt`` a column sorted within each file, and an
    underscore-hidden ``_MANIFEST.json`` maps every bucket to the
    version that currently holds it and records the version's schema
    (and, for the slot-lag monitor, its replay marker).  A micro-batch
    reads exactly its touched buckets through the manifest
    (``_read_buckets``: each holding version's files filtered to
    ``bkt IN`` its wanted buckets; all of them at one bucket),
    LWW-merges them with the batch, and writes only them into the new
    version, which ``_write_version`` commits with its manifest and the
    ``_CURRENT`` swap — per-batch work is O(|batch| + |touched
    buckets|).  The merge opens the state once (``_open_state``) and
    reads it in the one format ``_write_version`` writes: if the
    current version or any version its manifest maps a bucket to has no
    readable manifest, or one that records no schema, the open raises
    ``ValueError`` naming it before anything (the DLQ included) is
    written.  This is the parts-plus-manifest scheme of
    ReplacingMergeTree / lakehouse MERGE re-expressed on plain parquet.
    Schema evolution rides free: only touched buckets rewrite with the
    widened schema and the manifest read unionByName-fills the rest.

    Spark work is one pass over the parsed batch plus the merge write;
    the state read plans from the manifest with no job.  With more than
    one bucket the parsed batch is persisted and the pass — the DLQ
    write, or a ``noop`` write that fills the cache when there is no
    DLQ — also collects the touched buckets through an ``Observation``,
    so finding them costs no job of its own, and a batch in which no
    row survives touches no bucket: nothing is published.  With one
    bucket (the default) the touched set is the whole state, so it is
    not computed, and every batch publishes a new version: one in which
    no row survives (empty, corrupt-only, or only deletes that are
    dropped) rewrites the state unchanged.

    ``n_buckets`` is fixed at state creation and checked against the
    manifest before anything is written — changing it requires a
    rebucketing rewrite, exactly like changing a table's bucket count.
    LWW is idempotent, so a re-delivered batch converges."""
    prev, manifest, schemas = _open_state(state_dir)
    if manifest.get("n_buckets", n_buckets) != n_buckets:
        raise ValueError(
            f"{state_dir} holds bucketed state with n_buckets={manifest['n_buckets']}, "
            f"commit asked n_buckets={n_buckets}; rebucketing requires an explicit rewrite"
        )
    wire = batch.filter(F.col("value").isNotNull())
    parsed = parse_envelope(wire.withColumn("_raw", F.col("value")), payload_schema)
    survives = ~F.col("_corrupt")
    if not apply_deletes:
        survives = survives & not_deleted()
    touched = None
    if n_buckets > 1:
        touched = Observation()
        parsed = parsed.observe(
            touched,
            F.collect_set(F.when(survives, _bucket_col(keys, n_buckets))).alias("bkt"),
        )
    # parse ONCE: the persisted frame feeds the batch pass below and
    # (minus the raw bytes) the merge write
    cached = dlq_dir is not None or touched is not None
    if cached:
        parsed = parsed.persist()
    try:
        if dlq_dir is not None:
            _write_dead_letters(
                parsed.filter(F.col("_corrupt")).select("_seq", F.col("_raw").alias("value")),
                dlq_dir, batch_id,
            )
        elif touched is not None:
            parsed.write.format("noop").mode("overwrite").save()
        # at one bucket every batch publishes, even one with no surviving row
        want = [0] if touched is None else sorted(touched.get["bkt"])
        if not want:
            return  # more buckets, no surviving row: state and manifest stand
        existing = _read_buckets(spark, state_dir, manifest, schemas, want)
        rows = parsed.filter(survives).drop("_corrupt", "_raw")
        # Deletes are KEPT in the persisted state as tombstone rows
        # (op='d' version winners).  Filtering them out here would let
        # a re-delivered older event in a later micro-batch win LWW
        # against an absent key and resurrect it; the tombstone must
        # stay to outrank re-deliveries.  read_state() hides them.
        if existing is None:
            merged = lww_dedup(rows, keys, version_cols)
        else:
            merged = upsert_batch(existing.drop("bkt"), rows, keys, version_cols)
        _write_version(
            merged.withColumn("bkt", _bucket_col(keys, n_buckets)), state_dir, prev,
            n_buckets, manifest["buckets"],
        )
    finally:
        if cached:
            parsed.unpersist()


def _bucket_col(keys: Sequence[str], n_buckets: int) -> F.Column:
    """Engine-stable bucket id for a key tuple."""
    return F.pmod(
        F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)
    ).cast("int")


def seed_state(
    spark: SparkSession,
    snapshot: DataFrame,
    state_dir: str,
    keys: Sequence[str],
    version_cols: Sequence[str],
    n_buckets: int = 1,
) -> None:
    """``snapshot.mode=initial`` twin (reference setup.sh:92): publish
    a consistent initial table snapshot as the FIRST state version so
    the changelog stream starts from existing rows — Debezium reads the
    whole table (op='r') before tailing the WAL; here the batch
    snapshot (e.g. ``sources.jdbc.read_snapshot``) becomes v0 and the
    stream's LWW merges land on top.  Snapshot rows get ``op='r'`` and
    ``_seq=0`` when absent, so any changelog event (``_seq >= 1``)
    with an equal-or-newer version tuple outranks them — the handoff
    needs no coordination beyond per-key LWW (the q_snapshot_handoff
    registry query proves exactly this algebra in batch).  ``n_buckets``
    fixes the state's bucket count for every later merge.
    Refuses a non-empty state dir: seeding is bootstrap, not merge."""
    if _current_version(state_dir) is not None:
        raise ValueError(f"{state_dir} already holds state; refusing to seed")
    rows = snapshot
    if "op" not in rows.columns:
        rows = rows.withColumn("op", F.lit("r"))
    if "_seq" not in rows.columns:
        rows = rows.withColumn("_seq", F.lit(0).cast("long"))
    # a snapshot re-read under load may carry per-key duplicates
    rows = lww_dedup(rows, keys, version_cols)
    _write_version(
        rows.withColumn("bkt", _bucket_col(keys, n_buckets)), state_dir, None, n_buckets, {}
    )


def compact_state(spark: SparkSession, state_dir: str) -> int | None:
    """Rewrite every live bucket into ONE fresh version — the
    ``OPTIMIZE TABLE ... FINAL`` analog.

    The publish keeps the merge paths' window of ``RETAIN_VERSIONS``
    (3) committed versions, so a reader that resolved ``_CURRENT`` just
    before the swap can still finish its scan.  For immediate reclaim
    call ``prune_state_versions(state_dir, keep=1)`` afterwards, ONLY
    when no concurrent readers exist (e.g. an offline maintenance
    window).

    Copy-on-write leaves dead bucket copies behind: a version dir must
    survive while ANY of its buckets is still referenced, so the stale
    siblings it wrote alongside that bucket stay on disk too (worst
    case ~2x state after every bucket of a full initial version has
    been rewritten once elsewhere).  Compaction reads the current state
    through the manifest, writes all buckets into a single new version
    with a self-contained manifest, publishes it, and lets the
    now-unreferenced old versions age out through the normal retention
    prune.  Same crash discipline as the merge: the swap is the commit
    point, a crash before it changes nothing.  No-op (returns None)
    when every bucket already lives in the current version — nothing
    to gather (empty state, one bucket, a commit that touched every
    bucket); otherwise returns the new version."""
    prev, manifest, schemas = _open_state(state_dir)
    if all(v == prev for v in manifest["buckets"].values()):
        return None
    df = _read_buckets(spark, state_dir, manifest, schemas, [int(b) for b in manifest["buckets"]])
    return _write_version(df, state_dir, prev, manifest["n_buckets"], {})


TOPIC_TABLE_RE = r"^postgres_cdc\.iman\.(.*)$"  # RegexRouter, setup.sh:119-126
UNROUTED = "_unrouted"  # DLQ subdirectory of records no table takes


def run_multi_table_pipeline(
    stream: DataFrame,
    schemas: dict[str, T.StructType],
    keys: dict[str, Sequence[str]],
    state_root: str,
    checkpoint_dir: str,
    version_cols: Sequence[str],
    apply_deletes: bool = False,
    topic_re: str = TOPIC_TABLE_RE,
    n_buckets: int = 1,
    dlq_dir: str | None = None,
) -> None:
    """N mirrored tables on ONE changelog stream — the reference's
    actual shape (all tables of the ``iman`` schema flow through the
    connector pair; RegexRouter maps topic -> table, setup.sh:119-126;
    dynamic discovery from the catalog, setup.sh:29-32).

    Each table's settings are bound to ``_merge_batch`` once, here, as
    ``run_cdc_pipeline`` binds its one table's; routing is the only
    thing this call adds.  Each micro-batch is routed by topic into
    per-table slices, each committed by its table's merge into its own
    versioned state directory under ``state_root/<table>`` with corrupt
    records in ``dlq_dir/<table>/batch_id=N``.  Records
    whose topic does not match ``topic_re`` or names a table outside
    ``schemas`` land raw in ``dlq_dir/_unrouted/batch_id=N``, so a table
    may not be named ``_unrouted``.

    Ordering is promised per key only, so the tables of one micro-batch
    are independent mirrors: their commits (and the unrouted write) run
    concurrently, up to ``defaultParallelism`` at a time, with every
    Spark job in the streaming query's job group.  A failing table is
    raised (the first failure, unchanged) only after every other table
    of the batch has finished, and the batch replays on restart; LWW
    makes the tables that already published converge to the same
    mirror.  The loop on the Spark application's main process is over
    the handful of DISTINCT TABLES in the batch (not rows), so at 100 TB
    the only growth is one commit per table — each internally parallel,
    and overlapping the others.
    """
    if UNROUTED in schemas:
        raise ValueError(f"table name {UNROUTED!r} is reserved for unrouted records")
    spark = stream.sparkSession
    merges = {
        t: partial(
            _merge_batch, spark, payload_schema=schema,
            state_dir=os.path.join(state_root, t), keys=keys[t],
            version_cols=version_cols, apply_deletes=apply_deletes, n_buckets=n_buckets,
            dlq_dir=None if dlq_dir is None else os.path.join(dlq_dir, t),
        )
        for t, schema in schemas.items()
    }

    def commit(batch: DataFrame, batch_id: int) -> None:
        # persisted because 1 + |tables| jobs consume the routed batch
        # (the distinct-table collect plus one filtered slice per
        # table, and the unrouted slice when there is one): without it
        # every table's merge re-reads and re-routes the SOURCE
        # micro-batch
        routed = batch.withColumn(
            "_table", F.regexp_extract("topic", topic_re, 1)
        ).persist()
        try:
            names = [r._table for r in routed.select("_table").distinct().collect()]
            work = [
                partial(
                    merges[name], routed.filter(F.col("_table") == name).drop("_table"),
                    batch_id=batch_id,
                )
                for name in names
                if name in merges
            ]
            if dlq_dir is not None and not set(names) <= merges.keys():
                lost = routed.filter(
                    F.col("_table").isNull() | ~F.col("_table").isin(*merges)
                ).select("_seq", "topic", "value")
                work.append(
                    partial(_write_dead_letters, lost, os.path.join(dlq_dir, UNROUTED), batch_id)
                )
            # the tables of one batch are independent mirrors (ordering
            # is per key), so their commits overlap instead of queueing
            _run_concurrently(spark, work)
        finally:
            routed.unpersist()

    _run_available_now(stream, checkpoint_dir, commit)


def kafka_reader_options(bootstrap: str, topics: str) -> dict[str, str]:
    """Kafka reader options (setup.sh:117,144) — pure, contract-tested
    (tests/test_adapters.py) since no broker exists in the sandbox."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topics,
        "startingOffsets": "earliest",  # consumer.override.auto.offset.reset
    }


def kafka_source(spark: SparkSession, bootstrap: str, topics: str) -> DataFrame:
    """Production source (reference topic subscription, setup.sh:117).

    Not exercised live in tests (no broker in the container) — the
    file stream above is column-compatible; the option surface is
    contract-tested.
    """
    return (
        spark.readStream.format("kafka")
        .options(**kafka_reader_options(bootstrap, topics))
        .load()
        .select(
            F.col("offset").alias("_seq"),
            "topic",
            F.lit(None).cast("string").alias("op"),
            F.col("value").cast("string").alias("value"),
        )
    )


def bootstrap_pipeline(
    tables_df: DataFrame,
    columns_df: DataFrame,
    stream: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    version_cols: Sequence[str],
    schema: str = "iman",
    apply_deletes: bool = False,
    n_buckets: int = 1,
    dlq_dir: str | None = None,
) -> dict[str, T.StructType]:
    """The reference's entry point A (setup.sh bootstrap) end-to-end:
    catalog discovery -> per-table Spark schemas -> keyed multi-table
    CDC pipeline.

    1. BASE TABLEs of the schema from the catalog (setup.sh:29-32);
    2. per-table ``StructType`` via the PG type map (setup.sh:40-49);
    3. primary key per the reference heuristic — a ``*_id`` column if
       present, else the first column (setup.sh:54-64's
       ``COALESCE(pk, first_column)``);
    4. ``run_multi_table_pipeline`` routing the topics of that schema,
       ``postgres_cdc.<schema>.<table>``, with one state dir per table,
       and with ``dlq_dir`` one dead-letter directory per table (plus
       ``_unrouted``), so a tolerated corrupt envelope is kept, not lost.

    Returns the discovered ``{table: StructType}`` so callers can
    inspect or generate sink DDL (``plans.ddl``).
    """
    from ..plans.typemap import struct_type_from_catalog

    tables = [
        r.table_name
        for r in tables_df.filter(
            (F.col("table_schema") == schema) & (F.col("table_type") == "BASE TABLE")
        )
        .select("table_name")
        .collect()
    ]
    cols = columns_df.filter(F.col("table_schema") == schema).collect()
    schemas: dict[str, T.StructType] = {}
    keys: dict[str, Sequence[str]] = {}
    for t in tables:
        tcols = sorted(
            (r for r in cols if r.table_name == t), key=lambda r: r.ordinal_position
        )
        schemas[t] = struct_type_from_catalog(
            [(r.column_name, r.data_type, r.is_nullable) for r in tcols]
        )
        id_cols = [r.column_name for r in tcols if r.column_name.endswith("_id")]
        keys[t] = [id_cols[0] if id_cols else tcols[0].column_name]
    run_multi_table_pipeline(
        stream, schemas, keys, state_root, checkpoint_dir, version_cols, apply_deletes,
        topic_re=rf"^postgres_cdc\.{re.escape(schema)}\.(.*)$", n_buckets=n_buckets,
        dlq_dir=dlq_dir,
    )
    return schemas


def run_slot_lag_monitor(
    stream: DataFrame, state_dir: str, checkpoint_dir: str
) -> None:
    """Streaming consumer-health monitor: the continuous twin of the
    batch q_slot_lag / q_heartbeat_staleness queries (reference
    setup.sh:90 ``slot.name`` — a live connector watches its slot's
    confirmed LSN advance, not a snapshot of it).

    Per micro-batch, each topic's partial (max offset acked, record
    count, latest event time) merges into the persisted per-topic
    state: confirmed_lsn and last_ts advance by MAX, n_records
    accumulates by SUM — all three merge functions are associative
    and commutative, so the monitor state is identical for ANY
    micro-batch partitioning of the stream (the property the parity
    test asserts).  State publishes through the same
    write-new-version-then-swap-_CURRENT scheme as the CDC state
    (``_write_version``) — atomic visibility, never overwrites its
    input — and each version's manifest records the query and batch_id
    it merged as its ``"marker"``, ``"<queryId>:<batch_id>"``, so an
    at-least-once REPLAY of the trailing micro-batch (crash between swap
    and checkpoint commit) is detected and skipped instead of
    SUM-merging n_records twice.  Only the manifest's marker is
    compared: monitor state whose manifest records none (its marker
    sat in a sidecar file, written before manifests carried it) raises
    and must be re-seeded.

    100 TB plan: per-batch work is one topic-grain partial agg of the
    batch plus a merge against topic-cardinality state — independent
    of history size."""
    spark = stream.sparkSession

    def update(batch: DataFrame, batch_id: int) -> None:
        # one snapshot per batch: its marker and its rows
        prev, manifest, schemas = _open_state(state_dir)
        # Replay guard: foreachBatch is at-least-once — a crash between
        # the _CURRENT swap below and Spark's checkpoint commit makes
        # the engine re-deliver the SAME batch_id on restart.  The MAX
        # merges (confirmed_lsn, last_ts) are idempotent but the SUM of
        # n_records is not, so re-merging would double-count.  Each
        # published version's manifest records the batch it merged; the
        # swap makes state + marker visible atomically, and a replayed
        # batch whose marker already sits in the current version is a
        # no-op.  Only the latest marker is needed: the engine replays
        # at most the one uncommitted trailing batch.  The marker names
        # the query too ("<queryId>:<batch_id>", the id a checkpoint
        # keeps across restarts): a fresh checkpoint over existing state
        # counts from batch 0 again, and its batch 0 is new data.
        query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        marker = f"{query_id}:{batch_id}"
        # every version this monitor writes records its marker, so one
        # without it (state whose marker sat in a sidecar file) raises
        # KeyError here instead of merging a replayed batch twice
        if prev is not None and manifest["marker"] == marker:
            return
        agg = batch.groupBy("event_type").agg(
            F.max("event_id").cast("long").alias("confirmed_lsn"),
            F.count("*").cast("long").alias("n_records"),
            F.max("ts").alias("last_ts"),
        )
        existing = _read_buckets(spark, state_dir, manifest, schemas, [0])
        if existing is not None:
            agg = (
                existing.drop("bkt").unionByName(agg)
                .groupBy("event_type")
                .agg(
                    F.max("confirmed_lsn").cast("long").alias("confirmed_lsn"),
                    F.sum("n_records").cast("long").alias("n_records"),
                    F.max("last_ts").alias("last_ts"),
                )
            )
        # topic-cardinality state: one bucket, rewritten whole
        _write_version(
            agg.withColumn("bkt", F.lit(0)), state_dir, prev, 1, {}, marker=marker
        )

    _run_available_now(stream, checkpoint_dir, update)
