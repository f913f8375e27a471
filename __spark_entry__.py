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


_VIEW = "org.apache.spark.sql.catalyst.plans.logical.View"
_FILE_SCAN = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_FILES = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"


def _view_roots(spark: SparkSession, view: str) -> list[str] | None:
    """Root paths of a temp view that is one file scan, read from the
    view's own plan (no file listing); None for any other shape."""
    opt = spark._jsparkSession.sessionState().catalog().getTempView(view)
    if not opt.isDefined():
        return None
    plan = opt.get()
    if plan.getClass().getName() != _VIEW:
        return None
    scan = plan.child()
    if scan.getClass().getName() != _FILE_SCAN:
        return None
    rel = scan.relation()
    if rel.getClass().getName() != _FILES:
        return None
    return rel.location().rootPaths().mkString("\n").split("\n")


def _bound_to(spark: SparkSession, sf_dir: str) -> bool:
    """Whether the session's table views already read sf_dir and the
    dd_* functions are registered, read back from the session itself.
    Any unexpected plan shape counts as unbound, so the caller
    re-binds."""
    roots = _view_roots(spark, "lineitem")
    catalog = spark._jsparkSession.sessionState().catalog()
    dd_version = spark._jvm.org.apache.spark.sql.catalyst.FunctionIdentifier.apply(
        "dd_version"
    )
    if roots is None or not catalog.isTemporaryFunction(dd_version):
        return False
    want = os.path.abspath(os.path.join(sf_dir, "lineitem.parquet"))
    return [unquote(urlparse(p).path) for p in roots] == [want]


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
