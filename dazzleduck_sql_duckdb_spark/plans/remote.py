"""Remote-source entries: dd_read_arrow against a local wire-protocol
server. The storage-layout entries (z-order, bucketed tables) and the
embedding LSH near-dup entry follow them in catalog order.
"""

from __future__ import annotations

import atexit
import functools
import os

from .dialect import SPARK, _round6
from .queries import q
from .similarity import _EMBED_NEARDUP_T, _embed_neardup


#
# dd_read_arrow exercised under the driver's hash gate: a lazy local
# wire-protocol server (sources/local_server.py) serves the same parquet
# the oracle reads directly, so "remote Arrow-IPC scan == direct scan"
# becomes a checked invariant (the reference's own core differential
# test, dd_read_arrow_split.test_slow:40-62).

@functools.cache
def _server(sf_dir: str, kind: str = "plain"):
    """The local wire-protocol server of one kind over sf_dir's parquet,
    started on first use and stopped at interpreter exit.

    - plain: lineitem, orders, customer and events;
    - failover: lineitem, with a DEAD replica (port 9 / discard refuses
      immediately) advertised FIRST in every split's endpoints[]. Split
      i starts at replica i % 2, so every even split must fail over to
      the live server — the reference's replica-rotation contract
      (split_info.hpp endpoints[]) under the driver's value gate;
    - auth: lineitem behind /v1/login credentials and a bearer token."""
    from ..sources.local_server import ArrowTestServer

    lineitem = {"lineitem": os.path.join(sf_dir, "lineitem.parquet")}
    if kind == "failover":
        srv = ArrowTestServer(
            lineitem, extra_endpoints=["http://127.0.0.1:9"]
        )
    elif kind == "auth":
        srv = ArrowTestServer(
            lineitem,
            token="tok-remote-login-scan",
            credentials=("sparky", "hunter2"),
        )
    else:
        paths = {
            n: os.path.join(sf_dir, f"{n}.parquet")
            for n in ("lineitem", "orders", "customer", "events")
        }
        srv = ArrowTestServer(
            {n: p for n, p in paths.items() if os.path.exists(p)}
        )
    srv.start()
    atexit.register(srv.stop)
    return srv


_REMOTE_AGG = (
    "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,"
    " CAST(sum(l_orderkey) AS BIGINT) AS sum_okey"
    " FROM {src} GROUP BY l_returnflag"
)


def _build_remote_scan_split_agg(spark, sf_dir: str):
    from ..sources import dd_read_arrow

    srv = _server(sf_dir)
    split_scan = dd_read_arrow(
        spark, srv.url, source_table="lineitem", split=True,
        split_size=64 * 4000,
    )
    plain_scan = dd_read_arrow(spark, srv.url, source_table="lineitem")
    split_scan.createOrReplaceTempView("__remote_lineitem_split")
    plain_scan.createOrReplaceTempView("__remote_lineitem_plain")
    agg_split = spark.sql(_REMOTE_AGG.format(src="__remote_lineitem_split"))
    agg_plain = spark.sql(_REMOTE_AGG.format(src="__remote_lineitem_plain"))
    return _label_paths({"split": agg_split, "plain": agg_plain})


@q("remote_scan_split_agg", spark=_build_remote_scan_split_agg)
def _remote_scan_split_agg(d: str) -> str:
    """Split==non-split differential under the hash gate (the reference's
    core invariant, test/python/dd_read_arrow_split.test_slow:40-62): the
    Spark side runs the SAME aggregation through a split remote scan AND
    a non-split remote scan, labeled by path; the oracle is the direct
    parquet answer duplicated for both labels. Either path diverging
    from ground truth fails the hash."""
    one = _REMOTE_AGG.format(src="lineitem")
    return (
        f"SELECT 'split' AS path, * FROM ({one}) AS s"
        f" UNION ALL SELECT 'plain' AS path, * FROM ({one}) AS p"
    )


def _label_paths(paths: dict):
    """Union of differential paths, each row tagged with its path name —
    the oracle repeats the direct-parquet answer once per label, so any
    one path diverging fails the gate."""
    from functools import reduce

    from pyspark.sql import functions as F

    labelled = [
        df.select(F.lit(name).alias("path"), "*")
        for name, df in paths.items()
    ]
    return reduce(lambda a, b: a.unionByName(b), labelled)


def _build_remote_scan_failover(spark, sf_dir: str):
    from ..sources import dd_read_arrow

    srv = _server(sf_dir, "failover")
    scan = dd_read_arrow(
        spark, srv.url, source_table="lineitem", split=True,
        split_size=64 * 4000,
    )
    scan.createOrReplaceTempView("__remote_lineitem_failover")
    return spark.sql(_REMOTE_AGG.format(src="__remote_lineitem_failover"))


@q("remote_scan_failover", spark=_build_remote_scan_failover)
def _remote_scan_failover(d: str) -> str:
    """Replica failover under the HASH gate (test_arrow_source.py
    covers the dead-then-live case under pytest): every split of
    a split-mode remote scan advertises a dead endpoint first, so
    half the splits exercise the rotate-with-fresh-query-id path
    (scala/DdArrowShim.scala DdColumnarReader; abandoned ids
    best-effort cancelled). The gate pins that failover yields the COMPLETE
    answer — a dropped or double-read split changes the counts/sums.
    Reference: read_arrow_dd.cpp endpoints rotation."""
    return _REMOTE_AGG.format(src="lineitem")


_REMOTE_FILTER = (
    "SELECT o_orderkey, o_totalprice FROM {src}"
    " WHERE o_totalprice > 50000 AND o_orderstatus = 'F'"
)


def _build_remote_scan_filter(spark, sf_dir: str):
    from ..sources import dd_read_arrow

    srv = _server(sf_dir)
    scan = dd_read_arrow(spark, srv.url, source_table="orders")
    scan.createOrReplaceTempView("__remote_orders")
    return spark.sql(_REMOTE_FILTER.format(src="__remote_orders"))


@q("remote_scan_filter_pushdown", spark=_build_remote_scan_filter)
def _remote_scan_filter(d: str) -> str:
    return _REMOTE_FILTER.format(src="orders")


def _build_remote_scan_dsv2(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..sources import register

    register(spark)
    srv = _server(sf_dir)

    def scan(**extra):
        rd = (
            spark.read.format("dd_arrow_dsv2")
            .option("url", srv.url)
            .option("path", "orders")
        )
        for k, v in extra.items():
            rd = rd.option(k, v)
        return rd.load()

    def agg(df):
        return (
            df.filter(
                (F.col("o_totalprice") > 50000)
                & (F.col("o_orderstatus") == "F")
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("o_custkey").cast("long").alias("sum_ckey"),
                F.expr(_round6("avg(o_custkey)")).alias("avg_ckey"),
            )
        )

    plain = agg(scan())
    plan = plain._jdf.queryExecution().executedPlan().toString()
    # the contracts this entry exists to prove: the server computes the
    # FINAL aggregate (avg included — no partial agg above the scan)
    # over the pushed WHERE
    assert "PushedAggregation: true" in plan, plan
    assert "avg(" in plan and "RemoteSql" in plan, plan
    assert "HashAggregate" not in plan, plan
    split = agg(scan(split="true", split_size=str(64 * 4000)))
    plan2 = split._jdf.queryExecution().executedPlan().toString()
    assert "RemoteSql" in plan2 and "o_totalprice" in plan2, plan2
    # split mode pushes PARTIAL aggregates (per-split server-side
    # slices, Spark merges) — avg rides along as decomposed sum+count
    assert "PushedAggregation: true" in plan2, plan2

    return _label_paths({"complete_agg": plain, "split": split})


@q("remote_scan_dsv2", spark=_build_remote_scan_dsv2)
def _remote_scan_dsv2(d: str) -> str:
    """The DSv2 shim (scala/DdArrowShim.scala) under the driver's hash
    gate: a PLAIN .filter().groupBy().agg() over format("dd_arrow_dsv2")
    must prune/filter/aggregate server-side (transparent pushdown — the
    reference's optimizer-level rewrites,
    src/scanner/read_arrow_dd.cpp:246-296 and
    src/optimizer/aggregation_pushdown.cpp:247-418) and still match the
    direct-parquet oracle. Two labeled paths: 'complete_agg' is the
    server-computed final aggregate (count/sum/avg COMPLETE pushdown,
    plan-asserted in the builder), 'split' runs the same aggregation in
    Spark above a /v1/plan split scan of the pruned+filtered relation."""
    base = (
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,"
        " CAST(sum(o_custkey) AS BIGINT) AS sum_ckey,"
        f" {_round6('avg(o_custkey)')} AS avg_ckey"
        " FROM orders"
        " WHERE o_totalprice > 50000 AND o_orderstatus = 'F'"
        " GROUP BY o_orderpriority"
    )
    return (
        f"SELECT 'complete_agg' AS path, * FROM ({base}) a"
        f" UNION ALL SELECT 'split' AS path, * FROM ({base}) s"
    )


def _build_remote_scan_dsv2_split_dec(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..sources import dd_read_arrow

    srv = _server(sf_dir)

    def scan(split: bool):
        return dd_read_arrow(
            spark, srv.url, sql=_SPLIT_DEC_QUERY, split=split,
            split_size=_SPLIT_DEC_SIZE if split else None,
        )

    def agg(df, qd_col):
        return df.groupBy("l_returnflag").agg(
            F.sum(qd_col).cast("decimal(38,2)").alias("sum_qty"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )

    complete = agg(scan(split=False), F.col("qd"))
    plan_c = complete._jdf.queryExecution().executedPlan().toString()
    # non-split: the server computes the FINAL aggregate
    assert "PushedAggregation: true" in plan_c, plan_c
    assert "HashAggregate" not in plan_c, plan_c
    split = agg(scan(split=True), F.col("qd"))
    plan_s = split._jdf.queryExecution().executedPlan().toString()
    # split: decimal partials pushed per split, merged in a Spark
    # final HashAggregate (never a COMPLETE server agg in split mode)
    assert "PushedAggregation: true" in plan_s, plan_s
    assert "HashAggregate" in plan_s, plan_s
    assert "RemoteSql" in plan_s, plan_s
    # raw: sum over a computed expression is not pushable, so the
    # splits stream raw (l_returnflag, qd) rows and Spark aggregates
    raw = agg(
        scan(split=True),
        F.col("qd") + F.lit("0.00").cast("decimal(12,2)"),
    )
    plan_r = raw._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation: false" in plan_r, plan_r
    assert "HashAggregate" in plan_r, plan_r

    # sum_qty leaves the plan as its canonical string: the decimal work
    # (TRY_CAST partials, Spark decimal merge) stays in-plan
    paths = {"complete": complete, "split": split, "raw": raw}
    return _label_paths({
        name: df.withColumn("sum_qty", F.col("sum_qty").cast("string"))
        for name, df in paths.items()
    })


@q("remote_scan_dsv2_split_dec", spark=_build_remote_scan_dsv2_split_dec)
def _remote_scan_dsv2_split_dec(d: str) -> str:
    """Second shim entry family under the driver's hash gate: the
    split-mode DECIMAL partial-aggregate
    path end to end. A `query`-option scan exposes
    CAST(l_quantity AS DECIMAL(12,2)); Spark's groupBy/sum over the
    split scan pushes PARTIAL decimal sums per split — the shim emits
    them as TRY_CAST to Spark's widened DECIMAL(p+10, s) result type
    (scala/DdArrowShim.scala:359-402: TRY_CAST mirrors Spark's
    non-ANSI null-on-overflow), Spark merges partials.

    Three labelled routes to the same aggregate: `complete` (non-split
    scan, the server computes the final aggregate), `split` (per-split
    decimal partials merged by Spark) and `raw` (split scan streaming
    raw rows, Spark aggregates with no pushdown). sum_qty leaves the
    plan as its canonical string ('506627.00') in both dialects, so no
    python Decimal reaches a result hasher. Reference contract:
    pushed == local, src/optimizer/aggregation_pushdown.cpp:247-418."""
    base = (
        "SELECT l_returnflag,"
        " CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))"
        "   AS DECIMAL(38,2)) AS VARCHAR) AS sum_qty,"
        " CAST(count(*) AS BIGINT) AS n"
        " FROM lineitem"
        " GROUP BY l_returnflag"
    )
    return (
        f"SELECT 'complete' AS path, * FROM ({base}) c"
        f" UNION ALL SELECT 'split' AS path, * FROM ({base}) s"
        f" UNION ALL SELECT 'raw' AS path, * FROM ({base}) r"
    )


_SPLIT_DEC_QUERY = (
    "SELECT l_returnflag,"
    " CAST(l_quantity AS DECIMAL(12,2)) AS qd FROM lineitem"
)
_SPLIT_DEC_SIZE = 64 * 4000


def _zorder_sql(d: str, cols_ranges, bits: int) -> str:
    """Morton key as portable SQL (operators/storage.py zorder_value
    mirrored in both dialects): quantize each column over a FIXED
    [lo, hi] range, interleave bits. Pure integer/floor arithmetic on
    identical doubles, so both engines compute identical keys."""
    n = len(cols_ranges)
    levels = (1 << bits) - 1
    terms = []
    for ci, (col, lo, hi) in enumerate(cols_ranges):
        span = float(hi) - float(lo)
        q = (
            f"coalesce(least(CAST({levels} AS BIGINT), greatest("
            f"CAST(0 AS BIGINT), CAST(floor((CAST({col} AS DOUBLE)"
            f" - {float(lo)!r}) / {span!r} * {levels}) AS BIGINT))),"
            f" CAST(0 AS BIGINT))"
        )
        for b in range(bits):
            pos = b * n + (n - 1 - ci)
            if d == SPARK:
                terms.append(
                    f"shiftleft(shiftright({q}, {b}) & 1, {pos})"
                )
            else:
                terms.append(f"((({q} >> {b}) & 1) << {pos})")
    return " + ".join(terms)


@q("layout_zorder")
def _layout_zorder(d: str) -> str:
    """Z-order (Morton) layout key over (l_quantity, l_extendedprice)
    — the multi-column clustering move for 100 TB fact tables: sort/
    range-partition by this key and parquet row-group min/max stats
    prune predicates on ANY of the z-columns (a single-column sort
    only skips on its leading column). Engine-added (the reference is
    a read-only scanner); operators/storage.py write_zordered is the
    sink, tests/test_storage.py measures the actual row-group skip
    rate vs arrival order. This entry hash-gates the KEY ARITHMETIC
    itself: per-z-bucket row counts + orderkey sums cover every row's
    interleaved key in both engines."""
    z = _zorder_sql(
        d, [("l_quantity", 1.0, 50.0), ("l_extendedprice", 900.0, 105000.0)],
        bits=8,
    )
    return f"""
SELECT CAST(zv DIV 16 AS BIGINT) AS z_bucket,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey
FROM (SELECT ({z}) AS zv, l_orderkey FROM lineitem) t
GROUP BY 1
""" if d == SPARK else f"""
SELECT CAST(zv // 16 AS BIGINT) AS z_bucket,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey
FROM (SELECT ({z}) AS zv, l_orderkey FROM lineitem) t
GROUP BY 1
"""


@functools.cache
def _bucketed_dir() -> str:
    """The process's directory for the co-bucketed tables, removed at
    interpreter exit."""
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix="dd_bucketed_")
    atexit.register(shutil.rmtree, path, True)
    return path


def _build_bucketed_join_rollup(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..operators.storage import write_bucketed

    # re-written on every call: the table names are fixed, so tables
    # kept from an earlier call may hold another sf_dir's rows
    base = _bucketed_dir()
    for src, tbl, col in [
        ("orders", "orders_bkt", "o_custkey"),
        ("customer", "customer_bkt", "c_custkey"),
    ]:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        write_bucketed(
            spark.table(src), tbl, bucket_cols=col, n_buckets=8,
            sort_cols=col, path=f"{base}/{tbl}",
        )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            spark.table("orders_bkt")
            .join(
                spark.table("customer_bkt"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("decimal(38,4)")
                .cast("double")
                .alias("total_spend"),
            )
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        # the scale contract this entry exists to prove: bucket-aligned
        # join reads both sides without a shuffle
        assert "Exchange hashpartitioning(o_custkey" not in plan
        return j
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@q("bucketed_join_rollup", spark=_build_bucketed_join_rollup)
def _bucketed_join_rollup(d: str) -> str:
    """S5 sink surface under the hash gate: orders and customer are
    written as co-bucketed tables (8 buckets on the join key), then
    joined WITHOUT any exchange (the builder asserts it) and rolled up.
    The oracle runs the same join over the original parquet — storage
    layout must not change values."""
    return """
SELECT c.c_mktsegment,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 4) AS DECIMAL(38,4)) AS DOUBLE) AS total_spend
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


def _build_remote_login_scan(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..functions.misc import login
    from ..sources import dd_read_arrow

    srv = _server(sf_dir, "auth")
    token = login(srv.url, "sparky", "hunter2")
    scan = dd_read_arrow(
        spark, srv.url, source_table="lineitem", auth_token=token
    )
    return scan.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("l_orderkey").cast("long").alias("sum_okey"),
    )


@q("remote_login_scan", spark=_build_remote_login_scan)
def _remote_login_scan(d: str) -> str:
    """dd_login (F8, dd_login.cpp:19-218) end-to-end under the hash
    gate: POST /v1/login for a token, thread it into an authed
    dd_read_arrow scan (every split request carries the Bearer header),
    aggregate in Spark. The oracle reads the same parquet directly, so
    'login + authed remote scan == direct scan' is value-checked."""
    return """
SELECT l_returnflag,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey
FROM lineitem GROUP BY l_returnflag
"""


def _build_remote_splits(spark, sf_dir: str):
    from ..sources import dd_splits

    srv = _server(sf_dir)
    return dd_splits(
        spark, srv.url, source_table="lineitem", split_size=64 * 4000
    ).select("query", "producer_id", "split_size", "query_checksum")


@q("remote_splits_plan", spark=_build_remote_splits)
def _remote_splits(d: str) -> str:
    """HASH-GATED: the gate projects the DETERMINISTIC columns of the
    split plan — per-split rewritten query text, producer id, split
    size, query checksum — and the oracle re-derives the local server's
    planning contract from first principles: n = clamp(ceil(rows*64 /
    split_size), 1, 32) splits (`_Handler._handle_plan` in
    sources/local_server.py), each slicing by the order-stable row-hash
    predicate, checksum = sha256(base_sql)[:16]. Only the
    server-assigned endpoints[]/query ids (random ports, fresh int63s)
    stay out of the hash — they defeat any value gate by nature."""
    return """
WITH p AS (
  SELECT greatest(1, least(32, (count(*) * 64 + 255999) // 256000)) AS n
  FROM lineitem
)
SELECT 'SELECT * FROM (SELECT * FROM lineitem) AS _b WHERE hash(_b) % '
         || n || ' = ' || i AS query,
  'local-duckdb' AS producer_id, CAST(256000 AS BIGINT) AS split_size,
  substr(sha256('SELECT * FROM lineitem'), 1, 16) AS query_checksum
FROM p, unnest(range(0, CAST(n AS BIGINT))) AS u(i)
"""


def _build_embed_neardup_lsh(spark, sf_dir: str):
    from ..operators.similarity import embed_neardup_pairs_lsh

    # Gate-scale parameterization (non-vacuous): the
    # gate threshold is the corpus's top-pair band (_EMBED_NEARDUP_T
    # in plans/similarity.py), and at cos=0.402 the hyperplane collision
    # probability per bit is p = 1 - acos(0.402)/pi ~ 0.632, so 2-bit
    # bands x 32 give a per-pair candidate-miss bound of
    # (1 - p^2)^32 ~ 8e-8 — recall is certain for the seeded planes
    # (verified below equal to brute force at sf0.001 and sf0.01).
    # Wider bands trade candidate volume for recall; the production
    # default (threshold 0.99, 8x8-bit bands) keeps the selective
    # banding and is pytest-verified with planted pairs
    # (tests/test_similarity.py).
    return embed_neardup_pairs_lsh(
        spark.table("embeddings"), threshold=_EMBED_NEARDUP_T, bands=32
    )


@q("embed_neardup_lsh", spark=_build_embed_neardup_lsh)
def _embed_neardup_lsh_q(d: str) -> str:
    """Sign-LSH near-dup scale path. Oracle = the brute-force pair SQL:
    the LSH result is exact-verified, so it can only MISS pairs (never
    add); the gate-scale banding makes a miss ~8e-8 per pair and the
    seeded planes are deterministic, so LSH == brute force exactly."""
    return _embed_neardup(d)
