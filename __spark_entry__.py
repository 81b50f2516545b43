"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _configure(spark: SparkSession) -> SparkSession:
    """Apply engine session conventions to a driver-provided session:
    every runtime SQL conf get_spark sets (session.RUNTIME_CONF)."""
    from solana_data_etl_pipeline_spark.session import RUNTIME_CONF

    for key, value in RUNTIME_CONF.items():
        spark.conf.set(key, value)
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: A6 'most active programs' (filter -> hash-agg with
    exact distinct -> top-k) on the sf0.001 event stream."""
    from solana_data_etl_pipeline_spark.plans.suite import all_queries

    _configure(spark)
    return all_queries()["active_programs"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The curated 50-slot driver registry (plans/suite.py
    DRIVER_ORDER); every other entry of plans/suite.py:all_queries()
    is oracle-checked by tests/test_oracle_parity.py on every test
    run."""
    from solana_data_etl_pipeline_spark.plans.suite import driver_queries

    qs = driver_queries()
    return {name: (lambda spark, sf_dir, _fn=fn: _fn(_configure(spark), sf_dir)) for name, fn in qs.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omissions -> rows-only check)."""
    from solana_data_etl_pipeline_spark.plans.suite import driver_oracle_sql

    return driver_oracle_sql()
