"""``session.tune`` on the shared test session (no session of its own)."""

from __future__ import annotations

from kafka_connect_postgres_to_clickhouse_spark.session import tune


def _confs(spark) -> dict[str, str]:
    confs = dict(spark.conf.getAll)
    hadoop = spark.sparkContext._jsc.hadoopConfiguration()
    confs["hadoop:parquet.block.size"] = hadoop.get("parquet.block.size")
    return confs


def test_tune_changes_nothing_on_a_get_spark_session(spark):
    """``get_spark`` already ends in ``tune``, so tuning its session
    again leaves every conf as it was; the scan floor is the session's
    own parallelism."""
    before = _confs(spark)
    assert tune(spark) is spark
    assert _confs(spark) == before
    assert before["spark.sql.files.minPartitionNum"] == str(
        spark.sparkContext.defaultParallelism
    )
    assert before["hadoop:parquet.block.size"] == str(4 * 1024 * 1024)
