"""Parquet fixture loaders.

The driver fixtures (/root/testdata/sf*/, see TESTDATA.md) stand in for
the reference's sources: the TPC-H-ish star schema plays the mirrored
relational tables (reference: PostgreSQL ``iman.users``,
postgres-init/init.sql:5-11), ``events`` plays the change stream, and
``documents``/``embeddings`` back the EXT analytics surface.

Scale note: `spark.read.parquet` gives partition-parallel, column-pruned,
predicate-pushdown scans out of the box; at 100 TB the same call reads a
partitioned table directory and Catalyst prunes partitions from filters.
"""

from __future__ import annotations

from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# path -> inferred Spark StructType (files are immutable fixtures).
# See the r13-opt note inside load_table.  Validity contract (r13
# ADVICE): an entry is correct while (a) the file at that path is
# byte-immutable and (b) inference ran under the same legacy-timestamp
# confs a later reader uses — (b) holds by construction because
# load_table pins nanosAsLong on the caller's session BEFORE both the
# inference and every subsequent read; (a) is the fixtures' documented
# contract (TESTDATA.md: read-only).  Tests that rewrite an sf dir
# in-process must call invalidate_schema_memo() after regenerating.
_SCHEMA_MEMO: dict = {}


def invalidate_schema_memo(path_prefix: str | None = None) -> None:
    """Drop memoized schemas (all, or those under ``path_prefix``) —
    the escape hatch for in-process fixture regeneration."""
    if path_prefix is None:
        _SCHEMA_MEMO.clear()
        _ts_columns.cache_clear()
        return
    for p in [p for p in _SCHEMA_MEMO if p.startswith(path_prefix)]:
        del _SCHEMA_MEMO[p]
    _ts_columns.cache_clear()


@lru_cache(maxsize=None)
def _ts_columns(path: str) -> tuple[tuple[str, ...], tuple[str, ...]]:
    """(nanos columns, tz-naive non-nanos timestamp columns) per file."""
    schema = pq.read_schema(path)
    nanos, naive = [], []
    for f in schema:
        t = f.type
        if str(t).startswith("timestamp"):
            if str(t) == "timestamp[ns]":
                nanos.append(f.name)
            elif getattr(t, "tz", None) is None:
                naive.append(f.name)
    return tuple(nanos), tuple(naive)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing timestamp flavors.

    The fixtures have shipped with two different parquet timestamp
    encodings across driver rounds, and every operator downstream
    assumes plain session-TZ ``TIMESTAMP`` (``unix_micros``, interval
    arithmetic, and windowing all reject NTZ), so both are normalized
    here — the one place every query loads through:

    - TIMESTAMP(NANOS) (round-1 files): Spark has no nanos type; with
      ``spark.sql.legacy.parquet.nanosAsLong`` they arrive as int64
      nanos and truncate to microsecond timestamps — exactly what
      DuckDB does reading the same files.  Integer ``div`` avoids the
      double-precision loss a ``/ 1000`` would introduce.
    - TIMESTAMP_NTZ (round-2 files, ``timestamp[us]`` without UTC
      adjustment): cast to ``timestamp``.  The session timezone is
      pinned to UTC first, so the cast maps wall-clock to the identical
      instant DuckDB reports, independent of the caller session's
      defaults (the driver builds its own SparkSession; both confs are
      runtime-settable).

    SESSION-WIDE SIDE EFFECT: when (and only when) the file contains a
    nanos or tz-naive timestamp column, the two confs above are set on
    the caller's session and stay set.  Both gate correctness here and
    are already pinned by every repo entry point (``session.tune``,
    which ``session.get_spark`` ends in); callers who need a non-UTC
    session timezone must convert at the edges rather than rely on
    session defaults.
    """
    path = f"{sf_dir}/{name}.parquet"
    nanos_cols, naive_cols = _ts_columns(path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if nanos_cols or naive_cols:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # r13-opt (guide §1.2 — don't redo work you throw away): schema
    # inference (file listing + parquet footer read inside
    # `spark.read.parquet`) costs ~100-125 ms per call even for a
    # small file, and a 500-query session re-inferred the same ten
    # immutable fixture files thousands of times — measured as the
    # single largest driver-side cost in the bench.  The StructType is
    # cached per PATH and handed to the reader explicitly (~19 ms), so
    # every call still builds a FRESH relation with fresh expression
    # ids (sharing one DataFrame object across calls trips Spark's
    # union constraint rewrite when both branches of a self-union
    # carry identical attribute ids — found via q_graph_ann_compact),
    # and every action still scans parquet afresh: only the inferred
    # schema — a pure function of the immutable file — is reused.
    schema = _SCHEMA_MEMO.get(path)
    if schema is None:
        schema = _SCHEMA_MEMO[path] = spark.read.parquet(path).schema
    df = spark.read.schema(schema).parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for f in schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
