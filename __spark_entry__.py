"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``kafka_connect_postgres_to_clickhouse_spark``;
this module only adapts the registry to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_connect_postgres_to_clickhouse_spark.plans.registry import (  # noqa: E402
    load_all_queries,
)
from kafka_connect_postgres_to_clickhouse_spark.session import tune  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: changelog replay -> current-state table at sf0.001.

    Exercises the reference's full data plane (SURVEY.md section 3.2)
    in batch form: changelog -> drop deletes -> LWW upsert by key.
    """
    tune(spark)
    registry = load_all_queries()
    return registry["q_changelog_replay"].fn(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry callables, each pinning the session conf first.

    The driver owns its SparkSession; ``tune`` re-asserts the nine
    runtime SQL confs and the parquet row-group size on EVERY call.
    Correctness rides on three of them (UTC session timezone, AQE,
    parquet nanos handling) — ``load_table`` already sets the timezone
    and nanos confs whenever a fixture carries timestamp columns, this
    closes the remaining gap for queries that derive timestamps from
    integers without loading a timestamp-bearing table."""

    def pinned(fn: Callable[[SparkSession, str], DataFrame]):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return fn(spark, sf_dir)

        return run

    return {name: pinned(spec.fn) for name, spec in load_all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in load_all_queries().items()
        if spec.oracle is not None
    }
