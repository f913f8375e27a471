"""The reference's lineitem suite, TPC-H Q1/Q6, aggregate laws and the
relational shapes (joins, windows, set operations, casts, strings).
"""

from __future__ import annotations

from . import dialect as D
from .dialect import SPARK, _event_us, _idiv
from .queries import q


# The 8-query lineitem benchmark suite of the reference
# (test/nodejs/arrow_test.js:499-554) + TPC-H Q1/Q6 shapes.


@q("lineitem_count")
def _lineitem_count(d: str) -> str:
    return "SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem"


@q("lineitem_sum_orderkey")
def _lineitem_sum(d: str) -> str:
    return (
        "SELECT CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey FROM lineitem"
    )


@q("lineitem_full_scan")
def _lineitem_full(d: str) -> str:
    # full-width scan; timestamp normalized to epoch-us for cross-engine hash
    return (
        "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,"
        " l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,"
        f" {'unix_micros(CAST(l_shipdate AS TIMESTAMP))' if d == SPARK else 'epoch_us(l_shipdate)'}"
        " AS ship_us FROM lineitem"
    )


@q("lineitem_point_filter")
def _lineitem_point(d: str) -> str:
    return (
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem"
        " WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)"
    )


@q("lineitem_projection")
def _lineitem_proj(d: str) -> str:
    return "SELECT l_orderkey FROM lineitem"


@q("lineitem_range_filter")
def _lineitem_range(d: str) -> str:
    return (
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem"
        " WHERE l_extendedprice BETWEEN 30000 AND 40000"
    )


@q("lineitem_date_filter_count")
def _lineitem_datec(d: str) -> str:
    return (
        "SELECT CAST(count(l_orderkey) AS BIGINT) AS n FROM lineitem"
        " WHERE l_shipdate > TIMESTAMP '1996-10-28 00:00:00'"
    )


@q("q6_revenue")
def _q6(d: str) -> str:
    # TPC-H Q6 shape (reference golden at arrow_test.js:423-424). Decimal
    # discipline: cast inputs before multiply/sum -> engine-independent.
    return (
        "SELECT CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))"
        " * CAST(l_discount AS DECIMAL(8,4))), 4) AS DECIMAL(38,4)) AS DOUBLE) AS revenue"
        " FROM lineitem"
        " WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'"
        " AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'"
        " AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"
    )


@q("q1_pricing_summary")
def _q1(d: str) -> str:
    """Decimal widths are the narrowest that hold the column domain
    (quantity <= 50 -> DECIMAL(8,4); discount/tax <= 0.1 ->
    DECIMAL(5,4); extendedprice < 1e9 -> DECIMAL(13,4)): a Spark sum
    buffer at precision <= 18 stays long-backed in the UnsafeRow
    aggregation hash map, while wider buffers serialize a BigDecimal
    per update. Measured at sf0.1: 0.74s vs 0.94s median with uniform
    DECIMAL(18,4) inputs — identical values (DECIMAL(27,4) accumulation
    alone measured 0.88s: the width only matters when it crosses the
    18-digit long-backed boundary). Overflow headroom at the narrow
    widths: qty buffer DECIMAL(18,4) caps ~1e14 (~sf600k), price
    buffer DECIMAL(23,4) ~1e19 — far past any real scale, and Spark
    NULLs (not wraps) on decimal overflow."""
    return f"""
SELECT l_returnflag, l_linestatus,
  CAST(CAST(round(sum(CAST(l_quantity AS DECIMAL(8,4))), 4) AS DECIMAL(38,4)) AS DOUBLE) AS sum_qty,
  CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(13,4))), 4) AS DECIMAL(38,4)) AS DOUBLE) AS sum_base_price,
  CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(13,4)) * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4)))), 4) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(13,4)) * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))) * (CAST(1 AS DECIMAL(5,4)) + CAST(l_tax AS DECIMAL(5,4)))), 4) AS DECIMAL(38,4)) AS DOUBLE) AS sum_charge,
  {D.decavg('l_quantity', 'avg_qty', d, prec=8)},
  {D.decavg('l_extendedprice', 'avg_price', d, prec=13)},
  {D.decavg('l_discount', 'avg_disc', d, prec=8)},
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ------------------------------------------------ aggregate laws & relational


@q("orders_global_aggs")
def _orders_global(d: str) -> str:
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n,
  {D.decsum('o_totalprice', 'sum_price', d)},
  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
  {D.decavg('o_totalprice', 'avg_price', d)},
  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status
FROM orders
"""


@q("orders_group_agg")
def _orders_group(d: str) -> str:
    return f"""
SELECT o_orderstatus, o_orderpriority,
  CAST(count(*) AS BIGINT) AS n,
  {D.decsum('o_totalprice', 'sum_price', d)},
  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
FROM orders GROUP BY o_orderstatus, o_orderpriority
"""


@q("events_count_distinct")
def _events_cd(d: str) -> str:
    return (
        "SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,"
        " CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,"
        " CAST(count(*) AS BIGINT) AS n FROM events"
    )


@q("null_laws")
def _null_laws(d: str) -> str:
    # NULL-handling laws (reference matrix ..._pushdown.test_slow:326-390):
    # count(*) includes NULLs, count(v) excludes, sum/min/max ignore.
    return """
SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(count(v) AS BIGINT) AS n_v,
  CAST(sum(v) AS BIGINT) AS sum_v, min(v) AS min_v, max(v) AS max_v
FROM (SELECT CASE WHEN event_type <> 'error' THEN user_id END AS v FROM events) t
"""


@q("empty_set_laws")
def _empty_laws(d: str) -> str:
    # empty input: count -> 0, sum/min/max -> NULL
    return """
SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(user_id) AS BIGINT) AS s,
  min(user_id) AS mn, max(user_id) AS mx
FROM events WHERE user_id < -1
"""


@q("order_by_limit")
def _topn(d: str) -> str:
    # deterministic top-k: unique tiebreak column (TakeOrderedAndProject)
    return (
        "SELECT o_orderkey, o_totalprice FROM orders"
        " ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"
    )


@q("distinct_rows")
def _distinct(d: str) -> str:
    return "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"


@q("cte_union_all")
def _cte_union(d: str) -> str:
    return """
WITH hi AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 50000),
     lo AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice <= 10000)
SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(o_orderkey) AS BIGINT) AS s
FROM (SELECT * FROM hi UNION ALL SELECT * FROM lo) u
"""


@q("scalar_subquery_filter")
def _scalar_subq(d: str) -> str:
    return (
        "SELECT o_orderkey, o_totalprice FROM orders"
        " WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders) * 0.9"
    )


@q("join_region_rollup")
def _join_rollup(d: str) -> str:
    # 4-table star join: orders -> customer -> nation -> region.
    # Scale: dims broadcast (Spark auto-broadcasts small sides; AQE keeps
    # the fact-side shuffle partitions balanced).
    return f"""
SELECT r.r_name, n.n_name,
  CAST(count(*) AS BIGINT) AS n_orders,
  {D.decsum('o.o_totalprice', 'sum_price', d)}
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
"""


@q("semi_anti_join")
def _semi_anti(d: str) -> str:
    return """
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_with_orders,
  (SELECT CAST(count(*) AS BIGINT) FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_without_orders
"""


@q("window_topk_per_group")
def _window_topk(d: str) -> str:
    return """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) t
WHERE rn <= 3
"""


@q("events_hourly_rollup")
def _events_hourly(d: str) -> str:
    us = _event_us(d)
    hour = _idiv(us, str(3_600_000_000), d)
    return f"""
SELECT CAST({hour} AS BIGINT) AS hour_bucket, event_type,
  CAST(count(*) AS BIGINT) AS n,
  {D.decsum('value', 'sum_value', d)},
  min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY 1, 2
"""


@q("events_json_extract")
def _events_json(d: str) -> str:
    if d == SPARK:
        k = "CAST(get_json_object(props, '$.k') AS BIGINT)"
    else:
        k = "CAST(json_extract_string(props, '$.k') AS BIGINT)"
    return f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(sum({k}) AS BIGINT) AS sum_k, min({k}) AS min_k, max({k}) AS max_k
FROM events GROUP BY event_type
"""


@q("events_sessionize")
def _sessionize(d: str) -> str:
    # gap-based sessionization (30 min): lag + cumulative sum of breaks.
    # Scale: one shuffle on user_id; state bounded per user partition.
    us = _event_us(d)
    return f"""
WITH e AS (SELECT user_id, event_id, {us} AS us FROM events),
w AS (
  SELECT user_id, event_id, us,
    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
              OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
         THEN 1 ELSE 0 END AS brk
  FROM e),
s AS (
  SELECT user_id, us,
    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM w)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(min(us) AS BIGINT) AS start_us, CAST(max(us) AS BIGINT) AS end_us
FROM s GROUP BY user_id, session_id
"""


@q("events_type_pivot")
def _type_pivot(d: str) -> str:
    """PIVOT surface: per-user event counts spread across event-type
    columns. Spark's PIVOT and DuckDB's differ syntactically, so both
    emit the portable conditional-aggregation form (identical plan to a
    native pivot: one grouped pass, map-side partials)."""
    cols = ", ".join(
        f"CAST(count(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT)"
        f" AS n_{t}"
        for t in ["view", "click", "purchase", "signup", "error"]
    )
    return f"""
SELECT user_id, {cols}
FROM events GROUP BY user_id
"""


@q("orders_set_ops")
def _set_ops(d: str) -> str:
    """INTERSECT / EXCEPT surface: customers with both high-value and
    recent orders (INTERSECT) and high-value-only customers (EXCEPT).
    Both engines implement these as distinct-aggregating joins."""
    return """
WITH high AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000),
recent AS (SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
SELECT 'both' AS segment, CAST(count(*) AS BIGINT) AS n FROM
  (SELECT o_custkey FROM high INTERSECT SELECT o_custkey FROM recent) t1
UNION ALL
SELECT 'high_only' AS segment, CAST(count(*) AS BIGINT) AS n FROM
  (SELECT o_custkey FROM high EXCEPT SELECT o_custkey FROM recent) t2
"""


@q("events_funnel")
def _funnel(d: str) -> str:
    """Ordered-sequence funnel: users whose first view precedes a later
    click precedes a later purchase, counted per stage.

    Scale: every stage aggregates and joins on user_id — one shuffle
    key throughout, so stages co-partition (no re-shuffle between
    them); each stage's input shrinks monotonically.

    The Spark side is the single-scan window-cascade form. A
    REPARTITION(user_id) hint over the join form does NOT buy exchange
    reuse: per-stage filters (event_type = ...) and column pruning push
    BELOW the hint's exchange, so the six CTE consumer subtrees stay
    non-identical and AQE stage reuse cannot fire (6 events scans and
    one more exchange). This form computes the whole funnel in one
    pass: a window cascade
    partitioned by user_id (t0 = min view time; t1 = min click time
    AFTER t0; t2 = min purchase time AFTER t1 — each window reads the
    previous one's output, all three share one hash(user_id)
    distribution and one sort), then one per-user row and three
    global counts unpivoted with inline(). Exactly the join-form
    semantics: a user enters stage k+1 iff it has an event of that
    type strictly after its stage-k timestamp; `saw_view` (not t0)
    carries stage 1 so a user whose only views have NULL timestamps
    still counts in stage 1 and never in stage 2, matching the
    join form's v-row / NULL-t0-join behavior. Plan: 6 scans + 7
    exchanges -> 1 scan + 2 exchanges (one narrow user_id shuffle +
    the single-row global agg), no joins (see `git show
    4249a81:plans/r14/events_funnel_before.txt` and `..._after.txt`)."""
    us = _event_us(d)
    if d == SPARK:
        return f"""
WITH ev AS (SELECT user_id, event_type, {us} AS us FROM events),
w1 AS (
  SELECT user_id, event_type, us,
    max(CASE WHEN event_type = 'view' THEN 1 END)
      OVER (PARTITION BY user_id) AS saw_view,
    min(CASE WHEN event_type = 'view' THEN us END)
      OVER (PARTITION BY user_id) AS t0
  FROM ev),
w2 AS (
  -- user_id IS NOT NULL: the join form's ON user_id = user_id never
  -- matches NULL users, so they stop at stage 1 there; the window
  -- partition groups NULLs together, so replicate the stop here
  SELECT user_id, event_type, us, saw_view, t0,
    min(CASE WHEN event_type = 'click' AND us > t0
              AND user_id IS NOT NULL THEN us END)
      OVER (PARTITION BY user_id) AS t1
  FROM w1),
w3 AS (
  SELECT user_id, saw_view, t1,
    min(CASE WHEN event_type = 'purchase' AND us > t1 THEN us END)
      OVER (PARTITION BY user_id) AS t2
  FROM w2),
u AS (SELECT user_id, min(saw_view) AS saw_view, min(t1) AS t1,
             min(t2) AS t2
      FROM w3 GROUP BY user_id)
SELECT inline(array(
  named_struct('stage', 'stage1_view',
               'n_users', CAST(count(saw_view) AS BIGINT)),
  named_struct('stage', 'stage2_click',
               'n_users', CAST(count(t1) AS BIGINT)),
  named_struct('stage', 'stage3_purchase',
               'n_users', CAST(count(t2) AS BIGINT))))
FROM u
"""
    return f"""
WITH ev AS (SELECT user_id, event_type, {us} AS us FROM events),
v AS (SELECT user_id, min(us) AS t0 FROM ev
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.us) AS t1
      FROM ev e JOIN v ON e.user_id = v.user_id AND e.us > v.t0
      WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.us) AS t2
      FROM ev e JOIN c ON e.user_id = c.user_id AND e.us > c.t1
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT 'stage1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
UNION ALL
SELECT 'stage2_click' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM c
UNION ALL
SELECT 'stage3_purchase' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM p
"""


def _build_view_click_attr(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..operators.joins import range_join_binned

    ev = spark.table("events").select(
        "user_id", "event_id", "event_type",
        F.expr(_event_us(SPARK)).alias("us"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("us").alias("v_us"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("us").alias("c_us"),
    )
    # (1, 3_600_000_000]: integer epoch-us, so "c > v" is "c >= v + 1"
    pairs = range_join_binned(
        views, clicks, "user_id",
        left_time="v_us", right_time="c_us",
        lower=1, upper=3_600_000_000,
    )
    return pairs.select(
        "user_id", "view_id", "click_id",
        (F.col("c_us") - F.col("v_us")).cast("long").alias("lag_us"),
    )


@q("events_view_click_attribution", spark=_build_view_click_attr)
def _view_click_attr(d: str) -> str:
    """Views joined to the same user's clicks within 60 min after.

    The SQL below is the ORACLE formulation only (plain equi-join on
    user_id with a time-range residual — a pathological hot user makes
    |views|x|clicks| candidate pairs inside one key). The Spark side
    (_build_view_click_attr) routes through operators/joins.range_join_binned:
    time is bucketed into window-width bins, so the join key becomes
    (user_id, bin) and candidate pairs are bounded by bin occupancy,
    never the whole user history. The streaming twin
    (streaming/pipeline.view_click_attribution) is differential-tested
    against the same semantics in tests/test_streaming.py."""
    us = _event_us(d)
    return f"""
WITH ev AS (SELECT user_id, event_id, event_type, {us} AS us FROM events)
SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
  CAST(c.us - v.us AS BIGINT) AS lag_us
FROM ev v JOIN ev c
  ON v.user_id = c.user_id
  AND v.event_type = 'view' AND c.event_type = 'click'
  AND c.us > v.us AND c.us <= v.us + 3600000000
"""


@q("orders_rollup")
def _orders_rollup(d: str) -> str:
    # ROLLUP (SURVEY §2.3 A7: absent in the reference, free in Spark).
    # grouping() disambiguates rolled-up NULLs from data NULLs.
    return f"""
SELECT o_orderstatus, o_orderpriority,
  CAST(grouping(o_orderstatus) AS INT) AS g_status,
  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
  CAST(count(*) AS BIGINT) AS n,
  {D.decsum('o_totalprice', 'sum_price', d)}
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


@q("orders_cube")
def _orders_cube(d: str) -> str:
    return f"""
SELECT o_orderstatus, o_orderpriority,
  CAST(grouping(o_orderstatus) AS INT) AS g_status,
  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
  CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@q("events_grouping_sets")
def _events_gsets(d: str) -> str:
    return """
SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
  CAST(grouping(event_type) AS INT) AS g_type,
  CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
"""


@q("cast_matrix")
def _cast_matrix(d: str) -> str:
    """CAST surface over lineitem (SURVEY §2.9: CAST + string compare):
    numeric narrowing/widening, string<->number, date->string."""
    ship = (
        "CAST(l_shipdate AS DATE)" if d == SPARK else "CAST(l_shipdate AS DATE)"
    )
    return f"""
SELECT l_orderkey,
  CAST(l_quantity AS INT) AS qty_int,
  CAST(l_quantity AS STRING) AS qty_str,
  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price_rt,
  CAST(l_linenumber AS BIGINT) AS ln_big,
  CAST({ship} AS STRING) AS ship_str,
  CAST(l_returnflag = 'R' AS INT) AS flag_int
FROM lineitem WHERE l_orderkey % 1000 = 0
"""


@q("try_cast_matrix")
def _try_cast_matrix(d: str) -> str:
    """TRY_CAST surface: overflow and non-numeric strings yield NULL in
    both engines (values kept integral — double->int truncation vs
    rounding differs between engines on fractional inputs, an engine
    semantic outside the operator contract)."""
    return """
SELECT l_orderkey,
  TRY_CAST(l_quantity * 1000 AS TINYINT) AS overflow_i8,
  TRY_CAST(l_returnflag AS INT) AS bad_str_int,
  TRY_CAST(CAST(l_orderkey AS STRING) AS BIGINT) AS roundtrip_i64,
  TRY_CAST(l_quantity AS SMALLINT) AS ok_i16
FROM lineitem WHERE l_orderkey % 500 = 0
"""


@q("string_functions")
def _string_fns(d: str) -> str:
    """String-function surface the reference tests exercise through host
    SQL (length/octet_length/left/list_transform+lambda — SURVEY §2.5
    last row)."""
    tk = D.tokens("c_name", d)
    upper2 = D.ltransform(
        f"slice({tk}, 1, 2)" if d == SPARK else f"{tk}[1:2]",
        "t -> upper(t)", d,
    )
    ol = ("octet_length(c_name)" if d == SPARK
          else "octet_length(encode(c_name))")
    # serialize the list-typed lambda result: the driver canon sorts a
    # pandas frame and dies on unhashable list cells. coalesce on the
    # DuckDB side: for an empty array Spark's concat_ws returns ''
    # while DuckDB's array_to_string returns NULL
    joined = (f"concat_ws('|', {upper2})" if d == SPARK
              else f"coalesce(array_to_string({upper2}, '|'), '')")
    return f"""
SELECT c_custkey,
  CAST(length(c_name) AS INT) AS name_len,
  CAST({ol} AS INT) AS name_bytes,
  left(c_name, 8) AS name_prefix,
  upper(c_mktsegment) AS seg_upper,
  concat(c_name, '#', c_mktsegment) AS name_seg,
  replace(lower(c_mktsegment), 'a', '@') AS seg_repl,
  {joined} AS first_tokens_upper
FROM customer WHERE c_custkey % 100 = 0
"""


def _build_remote_agg_pushdown(spark, sf_dir: str):
    from ..sources import dd_read_arrow, dd_read_arrow_agg
    from .remote import _server

    srv = _server(sf_dir)
    remote_sql = (
        "SELECT count(*) AS n, sum(CAST(l_quantity AS BIGINT)) AS sum_qty,"
        " min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price"
        " FROM (SELECT * FROM lineitem) AS _subq WHERE l_quantity < 25"
    )
    single = dd_read_arrow(spark, srv.url, sql=remote_sql).selectExpr(
        "'single' AS path",
        "CAST(n AS BIGINT) AS n",
        "CAST(sum_qty AS BIGINT) AS sum_qty",  # HUGEINT -> DECIMAL(38,0) -> BIGINT
        "min_price", "max_price",
    )
    split = dd_read_arrow_agg(
        spark,
        srv.url,
        source_table="lineitem",
        aggs={
            "n": "count(*)",
            "sum_qty": "sum(CAST(l_quantity AS BIGINT))",
            "min_price": "min(l_extendedprice)",
            "max_price": "max(l_extendedprice)",
        },
        where="l_quantity < 25",
        split=True,
        split_size=1 << 20,
    ).selectExpr(
        "'split' AS path",
        "CAST(n AS BIGINT) AS n",
        "CAST(sum_qty AS BIGINT) AS sum_qty",
        "min_price", "max_price",
    )
    return single.unionByName(split)


@q("remote_agg_pushdown", spark=_build_remote_agg_pushdown)
def _remote_agg_pushdown(d: str) -> str:
    """Aggregation pushdown parity (SURVEY §2.3 A1-A3): ONE gated row
    pair hard-verifies BOTH server-side aggregation paths against the
    oracle — 'single' = the whole aggregate computed by the server in
    one stream (the reference's non-split optimizer rewrite,
    'SELECT <aggs> FROM (<orig>) AS _subq WHERE ...'), 'split' = the
    aggregate computed PER SPLIT on the server with Spark merging the
    partials (the reference's split-mode pushdown, IsSplitSafe set).
    Both must hash-match the oracle computing the same aggregate
    locally; HUGEINT sums arrive as DECIMAL(38,0) and are CAST to
    BIGINT (the §7.4 type-reconciliation rule)."""
    return (
        "WITH r AS (SELECT count(*) AS n,"
        " sum(CAST(l_quantity AS BIGINT)) AS sum_qty,"
        " min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price"
        " FROM lineitem WHERE l_quantity < 25)"
        " SELECT 'single' AS path, CAST(n AS BIGINT) AS n,"
        " CAST(sum_qty AS BIGINT) AS sum_qty, min_price, max_price FROM r"
        " UNION ALL"
        " SELECT 'split' AS path, CAST(n AS BIGINT) AS n,"
        " CAST(sum_qty AS BIGINT) AS sum_qty, min_price, max_price FROM r"
    )


@q("part_brand_stats")
def _part_brand(d: str) -> str:
    return f"""
SELECT p_brand, p_type,
  CAST(count(*) AS BIGINT) AS n_parts,
  min(p_size) AS min_size, max(p_size) AS max_size,
  CAST(count(DISTINCT p_name) AS BIGINT) AS n_names
FROM part GROUP BY p_brand, p_type
"""


@q("supplier_nation_join")
def _supplier_nation(d: str) -> str:
    return f"""
SELECT n.n_name,
  CAST(count(*) AS BIGINT) AS n_suppliers,
  {D.decsum('s.s_acctbal', 'sum_bal', d)}
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@q("customer_orders_left_join")
def _left_join(d: str) -> str:
    """LEFT OUTER join surface: every customer kept, zero-order
    customers get COALESCEd zeros.

    Scale: orders pre-aggregates to one row per custkey BEFORE the
    join, so the outer join's right side is |customers|-sized, not
    |orders|-sized — aggregate-then-join, the shape that survives a
    fact-table scale-up."""
    return """
SELECT c.c_custkey, c.c_mktsegment,
  CAST(coalesce(o.n, 0) AS BIGINT) AS n_orders,
  CAST(CAST(coalesce(o.spend, CAST(0 AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS total_spend
FROM customer c
LEFT JOIN (SELECT o_custkey, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS spend
           FROM orders GROUP BY o_custkey) o
  ON c.c_custkey = o.o_custkey
"""


@q("nation_presence_full_join")
def _full_join(d: str) -> str:
    """FULL OUTER join surface: per-nation supplier counts vs customer
    counts, keeping nations present on either side only."""
    return """
SELECT coalesce(s.nk, c.nk) AS nationkey,
  CAST(coalesce(s.n_suppliers, 0) AS BIGINT) AS n_suppliers,
  CAST(coalesce(c.n_customers, 0) AS BIGINT) AS n_customers
FROM (SELECT s_nationkey AS nk, count(*) AS n_suppliers
      FROM supplier GROUP BY s_nationkey) s
FULL JOIN (SELECT c_nationkey AS nk, count(*) AS n_customers
           FROM customer GROUP BY c_nationkey) c
  ON s.nk = c.nk
"""


@q("orders_running_totals")
def _running_totals(d: str) -> str:
    """Window-frame surface: per-customer cumulative spend (ROWS
    unbounded-preceding) and a sliding 3-order sum. Frames are explicit
    ROWS (not RANGE) and the ordering key (o_orderdate, o_orderkey) is
    unique, so both engines window identical row sequences.

    Scale: one shuffle on o_custkey; frames evaluate in one sorted pass
    per partition — no self-joins."""
    return """
SELECT o_orderkey, o_custkey,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       AS DECIMAL(38,4)) AS DOUBLE) AS running_spend,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       AS DECIMAL(38,4)) AS DOUBLE) AS sliding3_spend,
  CAST(row_number()
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       AS BIGINT) AS order_seq
FROM orders
"""
