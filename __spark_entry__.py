"""Driver contract for the spark-graft builder (PySpark target).

A driver runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value hash).

Every catalog entry is ONE ``Entry`` record in
``dazzleduck_sql_duckdb_spark/plans/queries.py``: a dual-dialect SQL
emitter, whose DuckDB emission is the oracle, plus an optional
``(spark, sf_dir)`` DataFrame builder for the Spark side. The Spark
query and the DuckDB oracle are the same computation by construction
(see plans/dialect.py for the float/decimal discipline that makes the
value hashes deterministic).

The module keeps no state of its own: which sf_dir a session's table
views read is read back from the session on every call.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from urllib.parse import unquote, urlparse

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from dazzleduck_sql_duckdb_spark import functions as ddfn
from dazzleduck_sql_duckdb_spark.plans import queries as Q
from dazzleduck_sql_duckdb_spark.session import load_tables


def _bound_to(spark: SparkSession, sf_dir: str) -> bool:
    """Whether the session's table views already read sf_dir and the
    dd_* functions are registered, read back from the session itself."""
    cat = spark.catalog
    if not (cat.tableExists("lineitem") and cat.functionExists("dd_version")):
        return False
    want = os.path.abspath(os.path.join(sf_dir, "lineitem.parquet"))
    files = spark.table("lineitem").inputFiles()
    paths = [unquote(urlparse(f).path) for f in files]
    return bool(paths) and all(
        p == want or p.startswith(want + "/") for p in paths
    )


def _prepare(spark: SparkSession, sf_dir: str) -> None:
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
    # the views are session-global: a session prepared for A, then B,
    # must be re-bound when A comes back
    if not _bound_to(spark, sf_dir):
        load_tables(spark, sf_dir)
        ddfn.register_all(spark)


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
