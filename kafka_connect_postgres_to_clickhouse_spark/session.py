"""SparkSession construction for tests / bench, and the runtime conf
every session runs with.

The driver passes its own session into ``__spark_entry__.entry``;
``get_spark`` builds one for pytest, perfbench, bench.py and the tools.
Both end in ``tune``, the one table of runtime confs.  ``get_spark``
itself fixes only what a session must have when it is built: the local
master, shuffle partitions, partition coalescing, Arrow for the few
Pandas-UDF paths, driver memory and no UI.  ``SPARK_GRAFT_CPUS`` sets
the master's cores and ``SPARK_DRIVER_MEMORY`` the driver memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kcptc-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    spark = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    return tune(spark)


def tune(spark: SparkSession) -> SparkSession:
    """Apply the runtime conf we rely on, to a ``get_spark`` session or
    a driver-provided one alike.  Setting it again changes nothing."""
    for key, value in [
        # UTC matches the DuckDB oracle, which reads parquet timestamps
        # naively
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        # runtime split of skewed shuffle partitions: the CDC hot path
        # (LWW dedup + upsert join) keys by table PK, and a hot key —
        # one entity receiving a large share of the changelog — would
        # otherwise pin its whole partition on one task
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # Python DataSource pushFilters raises at plan time if this is
        # off; register_changelog_gen also sets it (belt and braces)
        ("spark.sql.python.filterPushdown.enabled", "true"),
        # r13-opt (guide §6): floor on SCAN parallelism.  Single
        # mid-sized parquet files (the wire-envelope spill, lineitem)
        # otherwise read as 1-2 splits (55 MB / 128 MB
        # maxPartitionBytes) and their map-side work — JSON serde,
        # decode, explode — runs on 2 of the session's cores.
        # Scale-adaptive by construction: the floor is the session's own
        # parallelism, and a 100 TB table already scans with far more
        # splits than cores, making the floor a no-op there
        # (openCostInBytes still prevents slicing tiny files).
        ("spark.sql.files.minPartitionNum", str(spark.sparkContext.defaultParallelism)),
        # Split-size floor that pairs with the minPartitionNum floor:
        # the default 4 MB open-cost floor keeps a compressed-text
        # parquet (e.g. the ~6 MB-on-disk / ~55 MB-decompressed
        # wire-envelope spill) at 1-2 splits because split math sees
        # FILE bytes, not decompressed work.  512 KB keeps small-file
        # packing sane while letting compressed columnar text fan out;
        # at cluster scale files are 128 MB-1 GB and this floor is
        # irrelevant (guide §6).
        ("spark.sql.files.openCostInBytes", str(512 * 1024)),
        # Join strategy (guide §3.1; the broadcast raise alone measured
        # -20% on the jaccard candidate-join build and was neutral-to-
        # positive on every probed line): the 10 MB default is sized
        # for small drivers; with AQE the decision uses RUNTIME sizes,
        # so a side that outgrows 64 MB at scale simply never
        # broadcasts — the raise is self-gating.
        ("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)),
        # Stays at the Spark default: the shuffled-hash preference won
        # ~1 s on the ten most join-heavy lines but cost MORE spread
        # over many mid-tail lines in the full 533-line A/B
        # (q_fk_inference 0.72->1.34, q_lift_curve 0.26->0.44,
        # q_window_funnel 0.45->0.67 with SHJ preferred) — net negative,
        # so only the broadcast raise is adopted.
        ("spark.sql.join.preferSortMergeJoin", "true"),
    ]:
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf may be static
            pass
    # Write-side companion of the two scan floors: parquet row groups
    # are the unit a scan can actually parallelize over, and the default
    # 128 MB target makes every session-spill file ONE row group — so
    # the floors produce splits that are mostly empty.  4 MB row groups
    # let the mid-sized spills fan out across the session's cores;
    # production tables keep the default (large sequential groups
    # amortize better at 100 TB — guide §6).
    try:
        spark.sparkContext._jsc.hadoopConfiguration().set(  # noqa: SLF001
            "parquet.block.size", str(4 * 1024 * 1024)
        )
    except Exception:  # pragma: no cover - non-JVM sessions
        pass
    return spark
