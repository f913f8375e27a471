"""Driver contract for the spark-graft builder (PySpark target).

A driver runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value hash).

Every catalog entry is defined ONCE in
``dazzleduck_sql_duckdb_spark/plans/queries.py`` and emitted for both
dialects, so the Spark query and the DuckDB oracle are the same
computation by construction (see plans/dialect.py for the float/decimal
discipline that makes the value hashes deterministic).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from dazzleduck_sql_duckdb_spark import functions as ddfn
from dazzleduck_sql_duckdb_spark.plans import queries as Q
from dazzleduck_sql_duckdb_spark.session import load_tables

# session -> the sf_dir its table views currently point at. The views
# are session-global, so a session prepared for A, then B, must be
# re-bound when A comes back.
_BOUND: dict[SparkSession, str] = {}


def _prepare(spark: SparkSession, sf_dir: str) -> None:
    if _BOUND.get(spark) == sf_dir:
        return
    # every NTZ->TIMESTAMP cast (events.ts, o_orderdate epoch exprs)
    # interprets the naive value in the session timezone; the DuckDB
    # oracle's epoch_us() is UTC-naive, so a non-UTC driver JVM would
    # shift every event/date epoch. Pin it (runtime-settable).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # driver sessions come vanilla (200 shuffle partitions): size to cores
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    load_tables(spark, sf_dir)
    ddfn.register_all(spark)
    _BOUND[spark] = sf_dir


def _mk(name: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prepare(spark, sf_dir)
        return Q.run_spark(spark, name, sf_dir)

    run.__name__ = f"query_{name}"
    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1 pricing summary."""
    _prepare(spark, "/root/testdata/sf0.001")
    return spark.sql(Q.spark_sql_for("q1_pricing_summary"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _mk(name) for name in Q.CATALOG}


def oracle_sql() -> dict[str, str]:
    return {name: Q.oracle_sql_for(name) for name in Q.CATALOG}
