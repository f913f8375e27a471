"""Engine-added joins: as-of, binned range and salted skew joins."""

from __future__ import annotations

from .dialect import SPARK, _event_us
from .queries import q


# Engine-added as-of / interval joins (operators/joins.py). The oracle
# runs a genuinely different algorithm (DuckDB's native ASOF JOIN /
# IEJoin inequality join) against the Spark union-window / bin-bucket
# plans — an algorithmic differential, not a reimplementation check.


def _build_asof_join(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..operators.joins import asof_join

    ev = spark.table("events").select(
        "event_id", "user_id", F.expr(_event_us(SPARK)).alias("ts_us")
    )
    ord_ = (
        spark.table("orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").alias("o_us"),
        )
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    return asof_join(
        ev, ord_, "user_id", left_time="ts_us", right_time="o_us"
    ).select("event_id", "user_id", "last_orderkey")


@q("events_orders_asof_join", spark=_build_asof_join)
def _asof_join_q(d: str) -> str:
    """Point-in-time: each event picks up the customer's most recent
    order at-or-before the event (orders pre-deduped to one row per
    (custkey, date) so the as-of match is deterministic)."""
    return """
WITH ord AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_orderkey
  FROM orders GROUP BY 1, 2)
SELECT e.event_id, e.user_id, o.last_orderkey
FROM events e ASOF LEFT JOIN ord o
  ON e.user_id = o.o_custkey
 AND epoch_us(e.ts) >= epoch_us(o.o_orderdate)
"""


def _build_activity_range(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..operators.joins import range_join_binned

    ev = spark.table("events").select(
        "event_id", "user_id", F.expr(_event_us(SPARK)).alias("ts_us")
    )
    prior = ev.select(
        "user_id",
        F.col("ts_us").alias("p_us"),
        F.col("event_id").alias("p_id"),
    )
    pairs = range_join_binned(
        ev, prior, "user_id",
        left_time="ts_us", right_time="p_us",
        lower=-300_000_000, upper=-1,
    )
    counts = pairs.groupBy("event_id").agg(F.count("*").alias("__n"))
    return ev.join(counts, "event_id", "left").select(
        "event_id",
        "user_id",
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_prior"),
    )


@q("events_activity_range_join", spark=_build_activity_range)
def _activity_range_q(d: str) -> str:
    """Bounded-window self correlation: per event, how many events the
    same user produced in the strictly-preceding 5 minutes."""
    return """
SELECT e.event_id, e.user_id, CAST(count(p.event_id) AS BIGINT) AS n_prior
FROM events e LEFT JOIN events p
  ON p.user_id = e.user_id
 AND epoch_us(p.ts) >= epoch_us(e.ts) - 300000000
 AND epoch_us(p.ts) <= epoch_us(e.ts) - 1
GROUP BY e.event_id, e.user_id
"""


def _build_skew_salted(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..operators.skew import salted_join

    li = spark.table("lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_quantity"
    )
    sup = spark.table("supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    return (
        salted_join(li, sup, "suppkey", salt=8)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("decimal(38,4)")
            .cast("double")
            .alias("sum_qty"),
        )
    )


@q("skew_salted_join_agg", spark=_build_skew_salted)
def _skew_salted_q(d: str) -> str:
    """Fact-dim join + agg; Spark side runs it through the salted-join
    operator (operators/skew.py) so the driver gate pins salting to the
    plain-join answer."""
    return """
SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_items,
       CAST(CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DECIMAL(38,4)) AS DOUBLE) AS sum_qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
"""
