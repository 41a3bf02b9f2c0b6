"""Keyed last-write-wins upsert / dedup — the pipeline's core operator.

Replicates ClickHouse ``ReplacingMergeTree() ORDER BY <key>`` semantics
(reference setup.sh:63,136-137) with *deterministic* tie-breaking: the
reference keeps "the last inserted row per key", which is merge-timing
dependent; we define version = (version_cols..., _seq) where ``_seq``
is the monotonic changelog position (mirrors Kafka per-key ordering,
SURVEY.md section 2.4) so replay is reproducible.

Scale design: implemented as ``groupBy(keys).agg(max_by(struct(*), version))``
rather than a window + row_number.  ``max_by`` is a declarative
aggregate, so Spark performs *partial aggregation map-side* before the
shuffle — at 100 TB the shuffle moves one candidate row per key per
map partition, not every change event.  A window function would shuffle
the full changelog and sort each partition.  AQE handles skewed keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lww_dedup(
    df: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str],
) -> DataFrame:
    """Keep exactly one row per key: the max by (version_cols) tuple.

    Column order and names of ``df`` are preserved.
    """
    keys = list(keys)
    version = F.struct(*[F.col(c) for c in version_cols])
    payload = F.struct(*[F.col(c) for c in df.columns])
    winner = F.max_by(payload, version).alias("_winner")
    agg = df.groupBy(*[F.col(k) for k in keys]).agg(winner)
    return agg.select(*[F.col(f"_winner.{c}").alias(c) for c in df.columns])


def not_deleted() -> F.Column:
    """True for every row whose ``op`` is not ``'d'``, NULL included: a
    source that carries no op (the Kafka source emits ``op = NULL``)
    passes everything through.  The one delete rule of the batch folds,
    the streaming merge and ``read_state``."""
    return (F.col("op") != F.lit("d")) | F.col("op").isNull()


def apply_changelog(
    changelog: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str],
    apply_deletes: bool = False,
) -> DataFrame:
    """Fold a changelog into current state (the flagship path).

    Default mode mirrors the reference exactly: DELETE events are
    *dropped*, not applied (tombstones.on.delete=false setup.sh:94 +
    drop.tombstones setup.sh:107 + ExtractNewRecordState delete drop;
    the reference's own DELETE probe setup.sh:191-197 asserts nothing
    and the row persists — SURVEY.md section 0).

    ``apply_deletes=True`` is the documented stricter extension: the
    *final* event per key decides survival (op != 'd').  A NULL op is
    never a delete, in either mode (``not_deleted``).
    """
    if not apply_deletes:
        survivors = changelog.filter(not_deleted())
        return lww_dedup(survivors, keys, version_cols)
    latest = lww_dedup(changelog, keys, version_cols)
    return latest.filter(not_deleted())


def upsert_batch(
    existing: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str],
) -> DataFrame:
    """Idempotent merge of a (possibly re-delivered) micro-batch.

    At-least-once delivery (reference setup.sh:101-103 acks/retries,
    setup.sh:144 earliest offset reset) means re-delivered rows must not
    duplicate final state; the reference relies on ReplacingMergeTree to
    absorb them — here the LWW dedup over the union does, with schema
    evolution via unionByName(allowMissingColumns=True) standing in for
    ``auto.evolve.tables`` (setup.sh:134-135).
    """
    merged = existing.unionByName(batch, allowMissingColumns=True)
    return lww_dedup(merged, keys, version_cols)


def current_view(
    raw: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str],
    apply_deletes: bool = False,
) -> DataFrame:
    """Dedup-on-read view of a raw append table — the ClickHouse
    ``SELECT ... FINAL`` analog (ReplacingMergeTree collapses
    duplicates only at merge time, setup.sh:63,136-137; pre-merge reads
    see duplicates, which is why the reference sleeps before asserting,
    setup.sh:164,204).  Querying through this view gives merged
    semantics regardless of physical state.  Identical fold to
    ``apply_changelog``; named separately because it is the READ-path
    contract over any un-merged appendlog."""
    return apply_changelog(raw, keys, version_cols, apply_deletes)
