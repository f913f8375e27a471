"""The query catalog: every operator exposed as (Spark query, DuckDB oracle).

Each entry is ONE semantic definition emitted for two dialects through
`dialect.py`, so the driver's hash-gate (row-count + schema +
order-insensitive value hash at sf0.01) compares genuinely identical
computations. Coverage maps to SURVEY.md §2:

- §2.9 host-SQL surface: lineitem suite (the reference's 8 benchmark
  queries, test/nodejs/arrow_test.js:502-511), TPC-H
  Q1/Q6 shapes, aggregate laws (NULL/empty-set,
  test/sql/dd_read_arrow_aggregation_pushdown.test_slow:326-390),
  GROUP BY, ORDER BY/LIMIT, DISTINCT, CTE/scalar subqueries, UNION ALL,
  joins, EXISTS/NOT EXISTS, window functions.
- §2.5 scalar functions: dd_array_contains_all / bloom trio / dd_search
  / dd_version as live queries.
- Training-data pipeline operators (beyond the reference): exact dedup,
  MinHash+LSH near-dup, SimHash near-dup (pigeonhole-exact recall),
  n-gram Jaccard, embedding k-NN + near-dup, language ID, quality
  scoring, token stats, fingerprinting, sessionization, JSON
  extraction, hourly rollups.

Scale notes are attached per query: the LSH paths are the 100 TB
designs; brute-force forms exist only as oracles or explicitly-sampled
baselines.

The entries live in one module per family next to this one
(relational, tpch, functions, dedup, similarity, text, remote,
pipeline, joins, multimodal); this module is only the registry. It
imports the families in catalog order, so a family may import an
earlier family at module level but a later one only inside a function:
importing a later family early would register its entries first.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING, NamedTuple

from .dialect import DUCK, SPARK

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


class Entry(NamedTuple):
    """One catalog entry. `sql(dialect)` emits the query for either
    engine; the DuckDB emission is the entry's oracle. `spark(spark,
    sf_dir)`, when set, builds the Spark DataFrame instead of the SQL
    text (DataFrame-API operators, staged plans, remote sources), and
    the emitter is then only called for DuckDB."""

    name: str
    sql: Callable[[str], str]
    spark: Callable[[SparkSession, str], DataFrame] | None = None


CATALOG: dict[str, Entry] = {}


def q(name: str, spark=None):
    """Register the decorated emitter as entry `name`, built on the
    Spark side by `spark` when given. A name registers once: a second
    registration would silently drop the first entry."""

    def deco(fn):
        if name in CATALOG:
            raise ValueError(f"catalog entry {name!r} is already registered")
        CATALOG[name] = Entry(name, fn, spark)
        return fn

    return deco


def run_spark(spark, name: str, sf_dir: str):
    """Build the Spark DataFrame for a catalog entry."""
    e = CATALOG[name]
    return e.spark(spark, sf_dir) if e.spark else spark.sql(e.sql(SPARK))


def spark_sql_for(name: str) -> str:
    """The Spark SQL text of an entry that has no builder."""
    e = CATALOG[name]
    if e.spark:
        raise ValueError(f"{name} is built by {e.spark.__name__}, not SQL")
    return e.sql(SPARK)


def oracle_sql_for(name: str) -> str:
    return CATALOG[name].sql(DUCK)


from . import (  # noqa: E402,F401  - registers the entries, in this order
    relational,
    tpch,
    functions,
    dedup,
    similarity,
    text,
    remote,
    pipeline,
    joins,
    multimodal,
)
