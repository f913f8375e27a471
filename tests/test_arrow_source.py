"""End-to-end tests for dd_read_arrow (served by the DSv2 reader in
scala/DdArrowShim.scala) against the local wire-protocol server (the
SURVEY §5 differential pattern: remote scan results must equal
direct-parquet results, split or not)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from dazzleduck_sql_duckdb_spark.functions.misc import login
from dazzleduck_sql_duckdb_spark.sources import (
    dd_read_arrow,
    dd_splits,
    register,
)
from dazzleduck_sql_duckdb_spark.sources.local_server import ArrowTestServer

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
LINEITEM = os.path.join(SF_DIR, "lineitem.parquet")
ORDERS = os.path.join(SF_DIR, "orders.parquet")


@pytest.fixture(scope="module")
def server():
    with ArrowTestServer({"lineitem": LINEITEM, "orders": ORDERS}) as srv:
        yield srv


@pytest.fixture(scope="module")
def registered(spark):
    register(spark)
    return spark


def _direct(spark, path):
    return spark.read.parquet(path)


def test_source_table_roundtrip(registered, server):
    df = dd_read_arrow(registered, server.url, source_table="lineitem")
    direct = _direct(registered, LINEITEM)
    assert df.count() == direct.count()
    assert [f.name for f in df.schema.fields] == [
        f.name for f in direct.schema.fields
    ]


def test_sql_option_roundtrip(registered, server):
    df = dd_read_arrow(
        registered,
        server.url,
        sql="SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity < 10",
    )
    direct = (
        _direct(registered, LINEITEM)
        .where("l_quantity < 10")
        .selectExpr("l_orderkey", "l_quantity")
    )
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_split_mode_equals_non_split(registered, server):
    """The reference's core differential test
    (dd_read_arrow_split.test_slow:40-62)."""
    plain = dd_read_arrow(registered, server.url, source_table="orders")
    split = dd_read_arrow(
        registered, server.url, source_table="orders",
        split=True, split_size=64 * 300,
    )
    assert split.rdd.getNumPartitions() > 1
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, split.collect())
    )


def test_split_aggregation_matches_direct(registered, server):
    split = dd_read_arrow(
        registered, server.url, source_table="lineitem",
        split=True, split_size=64 * 500,
    )
    got = split.groupBy("l_returnflag").count().collect()
    want = _direct(registered, LINEITEM).groupBy("l_returnflag").count().collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_filter_pushdown_reaches_server(registered, server):
    server.queries.clear()
    df = dd_read_arrow(registered, server.url, source_table="orders").where(
        "o_totalprice > 100000"
    )
    n = df.count()
    direct_n = _direct(registered, ORDERS).where("o_totalprice > 100000").count()
    assert n == direct_n
    pushed = [q for q in server.queries if "o_totalprice" in q and "WHERE" in q]
    assert pushed, f"filter not pushed; server saw: {server.queries}"


def test_date_and_timestamp_ntz_filters_reach_server(registered, server):
    """DuckDB TIMESTAMP columns arrive as timestamp_ntz and DATE columns
    as date: a comparison with such a literal is pushed whole, not just
    its inferred IS NOT NULL, and counts what DuckDB counts."""
    import duckdb

    cases = [
        ("lineitem", "l_shipdate >= TIMESTAMP_NTZ '1997-01-01'",
         "l_shipdate >= TIMESTAMP '1997-01-01'",
         "\"l_shipdate\" >= TIMESTAMP '1997-01-01 00:00:00.000000'"),
        ("(SELECT CAST(l_shipdate AS DATE) AS d FROM lineitem)",
         "d >= DATE '1997-01-01'",
         "CAST(l_shipdate AS DATE) >= DATE '1997-01-01'",
         "\"d\" >= DATE '1997-01-01'"),
    ]
    total = _direct(registered, LINEITEM).count()
    for rel, spark_pred, duck_pred, wire_pred in cases:
        server.queries.clear()
        df = dd_read_arrow(
            registered, server.url, sql=f"SELECT * FROM {rel}"
        ).where(spark_pred)
        plan = df._jdf.queryExecution().executedPlan().toString()
        seg = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert ">=" in seg, seg
        n = df.count()
        assert n == duckdb.sql(
            f"SELECT count(*) FROM '{LINEITEM}' WHERE {duck_pred}"
        ).fetchone()[0]
        assert 0 < n < total
        assert any(
            "WHERE" in q and wire_pred in q for q in server.queries
        ), server.queries


def test_pushdown_vs_local_execution_equality(registered, server):
    """The reference's pushdown differential
    (dd_read_arrow_aggregation_pushdown_split.test_slow:49-141 spirit):
    a scan whose filter pushes to the server must return exactly the
    rows a local-execution plan (direct parquet + local filter)
    produces — pushdown is an optimization, never a semantic change.
    (Spark refuses to run a pushFilters-implementing source with the
    pushdown conf off, so local execution is modeled by the direct
    scan; mixed pushable/unpushable predicates exercise the partial-
    pushdown contract where Spark re-applies the residual.)"""
    pred = (
        "o_totalprice > 150000 AND o_orderstatus = 'O'"
        " AND pmod(o_orderkey, 3) = 0"  # not serializable -> stays local
    )
    server.queries.clear()
    df = dd_read_arrow(registered, server.url, source_table="orders")
    pushed = sorted(map(tuple, df.where(pred).collect()))
    wire = [s for s in server.queries if "WHERE" in s]
    assert wire, "no filter reached the server"
    assert all("pmod" not in s for s in wire)  # residual stayed local
    local = sorted(map(tuple, _direct(registered, ORDERS).where(pred).collect()))
    assert pushed == local and pushed


def test_exactly_one_of_sql_and_table(registered, server):
    with pytest.raises(Exception):
        dd_read_arrow(registered, server.url).count()
    with pytest.raises(Exception):
        dd_read_arrow(
            registered, server.url, sql="SELECT 1", source_table="orders"
        ).count()


def test_plan_classifies_estimate_free_vs_data_read(registered, server):
    """r11 advice #1: /v1/plan classifies EC-less EXPLAIN plans by
    EXPLICIT operator name, not the 'SCAN' substring. Under DuckDB
    1.0.0 a constant projection renders DUMMY_SCAN (contains 'SCAN',
    no EC line) — the substring test 400'd it even though one split
    is exactly right — while a parquet read renders READ_PARQUET (no
    'SCAN' substring), so an EC-less scanning plan would have
    silently collapsed to one split, the degradation the hard-fail
    exists to catch. Pin both sides: estimate-free plans get exactly
    one split; a real parquet scan plans from its EC estimate."""
    def _plan(sql):
        return dd_splits(
            registered, server.url, sql=sql, split_size=64 * 500
        ).collect()

    # DUMMY_SCAN (constant projection): estimate-free, one split
    one = _plan("SELECT 1 AS x")
    assert len(one) == 1
    # COLUMN_DATA_SCAN (VALUES list): estimate-free, one split
    vals = _plan("SELECT * FROM (VALUES (1), (2)) t(x)")
    assert len(vals) == 1
    # EMPTY_RESULT (optimizer-proved empty): one split
    empty = _plan("SELECT 1 AS x WHERE 1 = 0")
    assert len(empty) == 1
    # READ_PARQUET: carries an EC estimate -> sized plan, many splits
    scan = _plan("SELECT * FROM lineitem")
    assert len(scan) > 1
    # r12 advice #1's exact adversarial case: a constant projection
    # whose string LITERAL spells a read operator. The structural
    # parse anchors on box-header lines, so the literal in the
    # projection content cannot trip the data-read hard-fail — one
    # split, not a 400
    lit = _plan("SELECT 'READ_PARQUET' AS s")
    assert len(lit) == 1
    # constant UNION ALL: the UNION header closes with '├' and the two
    # DUMMY_SCAN children render side by side — the r13 structural
    # parse must see all of them and still classify estimate-free
    un = _plan("SELECT 1 AS x UNION ALL SELECT 2")
    assert len(un) == 1


def test_plan_estimate_classifier_branches():
    """Unit coverage for the structural EC-less classifier (r12
    advice #1) — every branch, including the unknown-operator
    hard-fail that real DuckDB plans can't easily force end-to-end:
    operator names come from box HEADER lines only, and an EC-less
    plan with an operator neither allowlist knows raises (the
    handler 400s) instead of silently planning one split."""
    import pytest

    from dazzleduck_sql_duckdb_spark.sources.local_server import (
        _plan_operator_names,
        _plan_rows_estimate,
    )

    def box(*headers_and_content):
        out = []
        for name, content in headers_and_content:
            out.append("┌───────────────────────────┐")
            out.append(f"│         {name}        │")
            for c in content:
                out.append("│   ─ ─ ─ ─ ─ ─ ─ ─ ─ ─ ─   │")
                out.append(f"│    {c}    │")
            out.append("└─────────────┬─────────────┘")
        return "\n".join(out)

    # header parse ignores content lines — even an unquoted uppercase
    # token in a content position is not a header (not directly under
    # the top border)
    txt = box(("PROJECTION", ["'READ_PARQUET'"]), ("DUMMY_SCAN", []))
    assert _plan_operator_names(txt) == ["PROJECTION", "DUMMY_SCAN"]
    assert _plan_rows_estimate(txt) == 0
    # EC present wins regardless of operators
    assert _plan_rows_estimate(
        box(("READ_PARQUET", ["EC: 1200"]))
    ) == 1200
    # data-read operator without EC -> hard fail
    with pytest.raises(ValueError, match="no EC estimate"):
        _plan_rows_estimate(box(("READ_PARQUET", ["l_orderkey"])))
    # unknown EC-less operator -> loud error naming it
    with pytest.raises(ValueError, match="READ_WEIRD"):
        _plan_rows_estimate(box(("READ_WEIRD", [])))
    # unparseable rendering -> loud error, not a silent one-split
    with pytest.raises(ValueError, match="no operators parsed"):
        _plan_rows_estimate("some future format")
    # side-by-side sibling boxes (DuckDB renders subtrees in columns):
    # BOTH headers on the shared line must parse — an EC-less
    # data-read op hidden in the right-hand column would otherwise be
    # invisible and silently classified estimate-free
    side = (
        "┌─────────────┴─────────────┐┌─────────────┴─────────────┐\n"
        "│         DUMMY_SCAN        ││        READ_PARQUET       │\n"
        "└───────────────────────────┘└───────────────────────────┘"
    )
    assert _plan_operator_names(side) == ["DUMMY_SCAN", "READ_PARQUET"]
    with pytest.raises(ValueError, match="no EC estimate"):
        _plan_rows_estimate(side)
    # a box with a right-sibling connector closes its header with '├'
    # ('│ UNION ├───┐'), not '│' — the UNION plan shape
    union = (
        "┌───────────────────────────┐\n"
        "│           UNION           ├──────────────┐\n"
        "└─────────────┬─────────────┘              │"
    )
    assert _plan_operator_names(union) == ["UNION"]


def test_dd_splits_contract(registered, server):
    df = dd_splits(
        registered, server.url, source_table="lineitem", split_size=64 * 500
    )
    rows = df.collect()
    assert len(rows) > 1
    assert df.columns == [
        "endpoints", "query_id", "query", "producer_id",
        "split_size", "query_checksum",
    ]
    assert all(r.endpoints[0].startswith("http://") for r in rows)
    assert len({r.query for r in rows}) == len(rows)  # distinct per-split SQL
    assert len({r.query_checksum for r in rows}) == 1


def test_auth_token_roundtrip(registered):
    with ArrowTestServer(
        {"lineitem": LINEITEM},
        token="sekrit",
        credentials=("user", "pass"),
    ) as srv:
        token = login(srv.url, "user", "pass")
        assert token == "sekrit"
        df = dd_read_arrow(
            registered, srv.url, source_table="lineitem", auth_token=token
        )
        assert df.count() > 0
        with pytest.raises(Exception):
            dd_read_arrow(registered, srv.url, source_table="lineitem").count()
        with pytest.raises(ValueError):
            login(srv.url, "user", "wrong")


def test_cancel_requires_the_bearer_token():
    """/v1/cancel checks the token the way /v1/query and /v1/plan do: a
    wrong token gets 401 and records nothing, so no caller without the
    token can cancel another's query."""
    import urllib.error
    import urllib.request

    def cancel(srv, qid, token):
        req = urllib.request.Request(
            f"{srv.url}/v1/cancel?id={qid}",
            headers={"Authorization": f"Bearer {token}"},
        )
        try:
            with urllib.request.urlopen(req, timeout=5) as resp:
                return resp.status
        except urllib.error.HTTPError as e:
            return e.code

    with ArrowTestServer({"lineitem": LINEITEM}, token="sekrit") as srv:
        assert cancel(srv, 43, "wrong") == 401
        assert srv.cancelled == []
        assert cancel(srv, 44, "sekrit") == 200
        assert srv.cancelled == [44]


def test_projection_pushdown_via_columns_option(registered, server):
    server.queries.clear()
    df = dd_read_arrow(
        registered, server.url, source_table="lineitem",
        columns=["l_orderkey", "l_quantity"],
    )
    assert df.columns == ["l_orderkey", "l_quantity"]
    got = df.count()
    assert got == _direct(registered, LINEITEM).count()
    # the server saw the pruned SELECT list, not SELECT *
    assert any('"l_orderkey", "l_quantity"' in q for q in server.queries)


def test_cancel_fired_when_stream_abandoned(registered):
    """A reader torn down before its stream is exhausted must issue
    best-effort /v1/cancel (the analogue of the reference's
    QueryCancelGuard + monitor): a LIMIT stops reading after the first
    batch and closes the reader mid-stream. A fully drained stream must
    NOT cancel."""
    import time

    with ArrowTestServer({"lineitem": LINEITEM}, batch_rows=100) as srv:
        df = dd_read_arrow(registered, srv.url, source_table="lineitem")
        srv.requests.clear()
        assert len(df.limit(1).collect()) == 1
        deadline = time.time() + 5  # the handler records asynchronously
        while "/v1/cancel" not in srv.requests and time.time() < deadline:
            time.sleep(0.05)
        assert "/v1/cancel" in srv.requests, srv.requests
        srv.requests.clear()
        assert len(df.collect()) == registered.read.parquet(LINEITEM).count()
        time.sleep(0.2)
        assert "/v1/cancel" not in srv.requests, srv.requests


def test_cancel_fired_when_job_killed_mid_stream(registered):
    """The reference cancels server-side when its host query is
    interrupted mid-stream (cancel_monitor.cpp:103-157). Kill a real
    Spark job while the server is still streaming batches and assert
    the server receives GET /v1/cancel within a bounded interval: the
    killed task closes its reader, which fires the explicit cancel on
    top of dropping the connection."""
    import time

    from py4j.protocol import Py4JJavaError

    with ArrowTestServer(
        {"lineitem": LINEITEM}, throttle_s=0.25, batch_rows=32
    ) as srv:
        df = dd_read_arrow(registered, srv.url, source_table="lineitem")
        # the DataFrame build already issued the LIMIT-0 schema probe;
        # only count /v1/query hits from the actual streaming job
        srv.queries.clear()
        srv.requests.clear()
        sc = registered.sparkContext
        group = "dd-cancel-test"

        import threading

        err: list[Exception] = []
        finished: list[int] = []

        def run():
            try:
                sc.setJobGroup(group, "cancel test", interruptOnCancel=True)
                finished.append(len(df.collect()))
            except Exception as e:  # job killed -> expected
                err.append(e)

        t = threading.Thread(target=run, daemon=True)
        t.start()
        # wait until the server is actually streaming the task's query
        deadline = time.time() + 60
        while not srv.queries and time.time() < deadline:
            time.sleep(0.05)
        assert srv.queries, "job never reached the server"
        time.sleep(0.5)  # let the reader block between throttled batches
        # re-issue until the DAGScheduler has the job registered (the
        # first cancel can race the job submission and no-op)
        deadline = time.time() + 60
        while not srv.cancelled and time.time() < deadline:
            sc.cancelJobGroup(group)
            time.sleep(0.25)
        t.join(timeout=60)
        assert srv.cancelled, (
            f"server never saw /v1/cancel after job kill"
            f" (job finished={finished}, err={err})"
        )
        deadline = time.time() + 5
        while "/v1/cancel" not in srv.requests and time.time() < deadline:
            time.sleep(0.05)
        assert "/v1/cancel" in srv.requests, srv.requests
        assert err and isinstance(err[0], (Py4JJavaError, Exception))
        assert not finished


def test_like_pushdown_escapes_wildcards(registered, tmp_path):
    """startswith/contains/endswith filters are CONSUMED by pushFilters,
    so a value containing % or _ must be escaped in the remote LIKE or
    extra rows come back with no local re-filter to catch them."""
    import pandas as pd

    # a tiny table where the distinction matters, written before the
    # server starts (it loads its tables at construction)
    path = str(tmp_path / "t.parquet")
    pd.DataFrame({"s": ["user_1", "userX1", "100%", "100x", "a_b", "axb"]}
                 ).to_parquet(path)
    with ArrowTestServer({"t": path}) as srv:
        df = dd_read_arrow(registered, srv.url, source_table="t")
        got = sorted(r.s for r in df.where(df.s.startswith("user_")).collect())
        assert got == ["user_1"], got
        got = sorted(r.s for r in df.where(df.s.endswith("%")).collect())
        assert got == ["100%"], got
        got = sorted(r.s for r in df.where(df.s.contains("_")).collect())
        assert got == ["a_b", "user_1"], got


def test_server_serves_tables_loaded_at_construction(registered, tmp_path):
    """The server reads each parquet file once, when it is built: with
    the file deleted afterwards, a plain scan and a split aggregate
    still answer what DuckDB computes over the original rows."""
    import shutil

    import duckdb

    from dazzleduck_sql_duckdb_spark.sources import dd_read_arrow_agg

    copy = str(tmp_path / "orders.parquet")
    shutil.copy(ORDERS, copy)
    with ArrowTestServer({"orders": copy}) as srv:
        os.remove(copy)
        rows = dd_read_arrow(registered, srv.url, source_table="orders")
        want = duckdb.sql(f"SELECT * FROM '{ORDERS}'").fetchall()
        assert sorted(map(tuple, rows.collect())) == sorted(want)

        srv.queries.clear()
        agg = dd_read_arrow_agg(
            registered, srv.url, source_table="orders",
            group_by=["o_orderstatus"],
            aggs={"n": "count(*)", "hi": "max(o_orderkey)"},
            split=True, split_size=64 * 300,
        )
        got = sorted(map(tuple, agg.collect()))
        want = duckdb.sql(
            "SELECT o_orderstatus, count(*), max(o_orderkey)"
            f" FROM '{ORDERS}' GROUP BY o_orderstatus"
        ).fetchall()
        assert got == sorted(want)
        assert sum("hash(_b)" in q for q in srv.queries) > 1, srv.queries


def test_select_sugar_prunes_remote_projection(registered, server):
    server.queries.clear()
    df = dd_read_arrow(
        registered, server.url, source_table="lineitem",
        select=["l_orderkey", "l_quantity"],
    )
    assert df.columns == ["l_orderkey", "l_quantity"]
    assert df.count() == _direct(registered, LINEITEM).count()
    assert any('"l_orderkey", "l_quantity"' in q for q in server.queries)
    with pytest.raises(ValueError):
        dd_read_arrow(
            registered, server.url, source_table="lineitem",
            select=["l_orderkey"], columns=["l_quantity"],
        )


def test_open_retries_5xx_but_not_4xx(registered):
    """Transient failures (5xx) on a data open retry with backoff, each
    attempt under a fresh query id with the abandoned id cancelled; a
    4xx client error fails at once, after exactly one request."""
    with ArrowTestServer({"orders": ORDERS}) as srv:
        df = dd_read_arrow(registered, srv.url, source_table="orders")
        srv.requests.clear()
        srv.fail_first = 2
        got = sorted(map(tuple, df.collect()))
        assert got == sorted(map(tuple, _direct(registered, ORDERS).collect()))
        assert srv.requests.count("/v1/query") == 3, srv.requests
        assert len(set(srv.cancelled)) == 2, srv.cancelled

        srv.requests.clear()
        srv.fail_status, srv.fail_first = 400, 1
        with pytest.raises(Exception, match="HTTP 400"):
            df.collect()
        assert srv.requests == ["/v1/query"], srv.requests


def test_plan_and_schema_probe_retry_5xx(registered):
    """The LIMIT-0 schema probe and /v1/plan are idempotent and retry the
    same request on 5xx; the retry budget is bounded (HttpRetries = 3),
    and a 4xx probe is not retried."""
    with ArrowTestServer({"orders": ORDERS}) as srv:
        srv.fail_first = 2
        df = dd_read_arrow(
            registered, srv.url, source_table="orders",
            split=True, split_size=64 * 300,
        )
        assert srv.requests == ["/v1/query"] * 3, srv.requests
        srv.requests.clear()
        srv.fail_first = 2
        got = sorted(map(tuple, df.collect()))
        assert got == sorted(map(tuple, _direct(registered, ORDERS).collect()))
        assert srv.requests[:3] == ["/v1/plan"] * 3, srv.requests

        srv.requests.clear()
        srv.fail_first = 5
        with pytest.raises(Exception, match="HTTP 503"):
            dd_read_arrow(registered, srv.url, source_table="orders")
        assert srv.requests == ["/v1/query"] * 3, srv.requests

        srv.requests.clear()
        srv.fail_status, srv.fail_first = 404, 1
        with pytest.raises(Exception, match="HTTP 404"):
            dd_read_arrow(registered, srv.url, source_table="orders")
        assert srv.requests == ["/v1/query"], srv.requests


def test_split_scan_fetches_plan_once_per_action(registered):
    """Spark asks each copy of the physical scan node for its input
    partitions; the scan memoizes the split plan, so one action sends
    one /v1/plan and then one /v1/query per split, raw or aggregated."""
    with ArrowTestServer({"lineitem": LINEITEM}) as srv:
        df = dd_read_arrow(
            registered, srv.url, source_table="lineitem",
            split=True, split_size=64 * 1000,
        )
        for frame in (df, df.groupBy("l_returnflag").count()):
            srv.requests.clear()
            frame.collect()
            assert srv.requests == ["/v1/plan"] + ["/v1/query"] * 6, (
                srv.requests
            )


def test_agg_pushdown_builder_server_side(registered, server):
    """dd_read_arrow_agg ships the aggregate to the server: the wire SQL
    carries the GROUP BY, and only aggregated rows come back."""
    from dazzleduck_sql_duckdb_spark.sources import dd_read_arrow_agg

    server.queries.clear()
    df = dd_read_arrow_agg(
        registered, server.url, source_table="lineitem",
        group_by=["l_returnflag"],
        aggs={"n": "count(*)", "sum_qty": "CAST(sum(l_quantity) AS DOUBLE)"},
        where='"l_quantity" < 30',
    )
    got = {r.l_returnflag: (r.n, r.sum_qty) for r in df.collect()}
    want = {
        r.l_returnflag: (r.n, r.sum_qty)
        for r in _direct(registered, LINEITEM)
        .where("l_quantity < 30")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6
    # the aggregation text reached the server (not just SELECT *)
    assert any("GROUP BY" in q and 'sum("l_quantity")' in q
               for q in server.queries)
    with pytest.raises(ValueError):
        dd_read_arrow_agg(registered, server.url, source_table="t", aggs={})


def test_arrow_ipc_buffer_scan_roundtrip(registered):
    """In-memory IPC buffers register as a DataFrame (the reference's
    scan_arrow_ipc surface); multi-buffer concat + malformed error."""
    import pyarrow as pa

    from dazzleduck_sql_duckdb_spark.sources.ipc import (
        dd_scan_arrow_ipc,
        to_arrow_ipc,
    )

    src = registered.range(0, 100).selectExpr(
        "id", "CAST(id * 2 AS DOUBLE) AS dbl", "CONCAT('r', id) AS s"
    )
    buf = to_arrow_ipc(src)
    back = dd_scan_arrow_ipc(registered, buf)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )
    # two buffers concatenate
    both = dd_scan_arrow_ipc(registered, [buf, buf])
    assert both.count() == 200
    with pytest.raises(ValueError):
        dd_scan_arrow_ipc(registered, [])
    with pytest.raises(pa.ArrowInvalid):
        dd_scan_arrow_ipc(registered, b"not an arrow stream")


def test_ipc_scan_differential_vs_parquet(registered, tables):
    """The reference's core IPC differential (arrow_test.js:499-554):
    the same queries over an IPC-scanned table and the parquet-direct
    table must agree value-for-value. Round-trips lineitem through
    to_arrow_ipc -> dd_scan_arrow_ipc and runs the reference's
    lineitem-suite shapes against both."""
    from dazzleduck_sql_duckdb_spark.sources.ipc import (
        dd_scan_arrow_ipc,
        to_arrow_ipc,
    )

    direct = _direct(registered, LINEITEM)
    ipc = dd_scan_arrow_ipc(registered, to_arrow_ipc(direct))
    ipc.createOrReplaceTempView("lineitem_ipc")
    direct.createOrReplaceTempView("lineitem_pq")
    suite = [
        "SELECT CAST(count(*) AS BIGINT) AS n FROM {t}",
        "SELECT CAST(sum(l_orderkey) AS BIGINT) AS s FROM {t}",
        "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n FROM {t}"
        " GROUP BY l_returnflag",
        "SELECT l_orderkey, l_quantity FROM {t} WHERE l_quantity < 5",
        "SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi"
        " FROM {t}",
        "SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n FROM {t}",
    ]
    for q in suite:
        a = sorted(map(tuple, registered.sql(q.format(t="lineitem_ipc")).collect()))
        b = sorted(map(tuple, registered.sql(q.format(t="lineitem_pq")).collect()))
        assert a == b, q


def test_split_failover_dead_then_live_endpoint(registered):
    """A split advertising a dead replica first (connection refused) must
    still return the oracle answer via the live replica — the client
    rotates through endpoints[] (split_info.hpp:20-37) instead of
    pinning endpoints[0]. The dead endpoint uses a bound-but-unlistened
    port so the failure is immediate, not a timeout."""
    import socket

    # reserve a port with no listener: connect() to it refuses instantly
    sock = socket.socket()
    sock.bind(("127.0.0.1", 0))
    dead_port = sock.getsockname()[1]
    sock.close()
    dead = f"http://127.0.0.1:{dead_port}"
    with ArrowTestServer(
        {"orders": ORDERS}, extra_endpoints=[dead]
    ) as srv:
        split = dd_read_arrow(
            registered, srv.url, source_table="orders",
            split=True, split_size=64 * 300,
        )
        assert split.rdd.getNumPartitions() > 1
        direct = _direct(registered, ORDERS)
        assert sorted(map(tuple, split.collect())) == sorted(
            map(tuple, direct.collect())
        )
        # every split's data was served by the live replica
        assert len(srv.queries) >= split.rdd.getNumPartitions()


def test_zstd_compressed_stream_roundtrip(registered):
    """The reference decompresses ZSTD IPC body buffers
    (base_stream_reader.cpp:11-50); our reader must transparently
    handle a server that compresses every batch. Differential: remote
    scan over a zstd stream == direct parquet, split mode included."""
    with ArrowTestServer({"lineitem": LINEITEM}, compression="zstd") as srv:
        df = dd_read_arrow(registered, srv.url, source_table="lineitem")
        direct = _direct(registered, LINEITEM)
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, direct.collect())
        )
        split = dd_read_arrow(
            registered, srv.url, source_table="lineitem",
            split=True, split_size=64 * 300,
        )
        assert sorted(map(tuple, split.collect())) == sorted(
            map(tuple, direct.collect())
        )


def test_narrow_helper_derives_pruned_remote_select(registered):
    """dd_read_arrow_narrow must ship a pruned SELECT to the server for
    a narrow downstream query over a wide remote table, WITHOUT the
    caller passing columns= (the ergonomic gap vs the reference's
    transparent pruning, read_arrow_dd.cpp:246-262). Differential: the
    narrowed plan's result equals the unpruned one."""
    from dazzleduck_sql_duckdb_spark.sources import dd_read_arrow_narrow

    with ArrowTestServer({"lineitem": LINEITEM}) as srv:
        def plan(df):
            return (
                df.where("l_quantity < 10")
                .groupBy("l_returnflag")
                .agg(F.sum("l_quantity").alias("qty"))
            )

        narrowed = dd_read_arrow_narrow(
            registered, srv.url, plan, source_table="lineitem"
        )
        got = {r.l_returnflag: r.qty for r in narrowed.collect()}
        want = {
            r.l_returnflag: r.qty
            for r in plan(_direct(registered, LINEITEM)).collect()
        }
        assert got.keys() == want.keys()
        for k in got:
            assert abs(got[k] - want[k]) < 1e-9
        # the data-serving query the server saw named only the two
        # referenced columns, not every column of the wide table
        data_queries = [q for q in srv.queries if "LIMIT 0" not in q]
        assert data_queries, "no data query reached the server"
        final = data_queries[-1]
        assert set(re.findall(r'"(l_[a-z]+)"', final)) == {
            "l_quantity", "l_returnflag",
        }, final
        assert "l_extendedprice" not in final
        # an identity plan stays unpruned (every column referenced...
        # nothing to derive) and still answers correctly
        ident = dd_read_arrow_narrow(
            registered, srv.url, lambda df: df.select(df.columns),
            source_table="lineitem",
        )
        assert ident.count() == _direct(registered, LINEITEM).count()


def test_filter_to_sql_serialization(registered):
    """Spark V2 predicates -> remote SQL through the reader's one
    translator (DdSql.translate); None = not pushed, Spark re-applies
    it."""
    from pyspark.sql.types import (
        DateType, DoubleType, IntegerType, StringType, StructField,
        StructType, TimestampNTZType, TimestampType,
    )

    jvm = registered._jvm
    gw = registered.sparkContext._gateway
    ex = jvm.org.apache.spark.sql.connector.expressions
    flt = ex.filter
    schema = jvm.org.apache.spark.sql.types.DataType.fromJson(
        StructType(
            [StructField(c, IntegerType()) for c in ("a", "b", "k", "x")]
            + [
                StructField("p", DoubleType()),
                StructField("s", StringType()),
                StructField("d", DateType()),
                StructField("ts", TimestampNTZType()),
                StructField("tz", TimestampType()),
                StructField(
                    "nested", StructType([StructField("f", IntegerType())])
                ),
            ]
        ).json()
    )

    def sql(p):
        out = jvm.org.apache.spark.sql.dazzleduck.DdSql.translate(p, schema)
        return out.get()._1() if out.isDefined() else None

    def pred(name, *children):
        arr = gw.new_array(ex.Expression, len(children))
        for i, c in enumerate(children):
            arr[i] = c
        return flt.Predicate(name, arr)

    col, lit = ex.Expressions.column, ex.Expressions.literal
    assert sql(pred("=", col("a"), lit(5))) == '"a" = 5'
    assert sql(pred(">", col("p"), lit(1.5))) == '"p" > 1.5E0'
    assert sql(pred("=", col("s"), lit("o'brien"))) == "\"s\" = 'o''brien'"
    assert sql(pred("IS_NULL", col("x"))) == '"x" IS NULL'
    assert (sql(pred("IN", col("k"), lit(1), lit(2), lit(3)))
            == '"k" IN (1, 2, 3)')
    assert (sql(pred("STARTS_WITH", col("s"), lit("ab")))
            == "\"s\" LIKE 'ab%' ESCAPE '\\'")
    assert (sql(pred("STARTS_WITH", col("s"), lit("a_b")))
            == "\"s\" LIKE 'a\\_b%' ESCAPE '\\'")
    assert (sql(flt.Or(pred("=", col("a"), lit(1)),
                       flt.Not(pred("IS_NOT_NULL", col("b")))))
            == '("a" = 1 OR (NOT "b" IS NOT NULL))')
    assert sql(pred("=", col("nested.f"), lit(1))) is None  # not pushed
    # dates and both timestamp kinds (DuckDB TIMESTAMP columns arrive
    # as timestamp_ntz), as Spark hands them over: epoch days and epoch
    # microseconds; the LTZ instant goes as UTC
    types = jvm.org.apache.spark.sql.types.DataTypes
    day = ex.LiteralValue(9131, types.DateType)  # 1995-01-01
    assert sql(pred(">=", col("d"), day)) == "\"d\" >= DATE '1995-01-01'"
    us = (9131 * 86400 + 45000) * 10**6 + 250000  # 1995-01-01 12:30:00.25
    assert (sql(pred("<", col("ts"), ex.LiteralValue(us, types.TimestampNTZType)))
            == "\"ts\" < TIMESTAMP '1995-01-01 12:30:00.250000'")
    assert (sql(pred("=", col("tz"), ex.LiteralValue(us, types.TimestampType)))
            == "\"tz\" = TIMESTAMPTZ '1995-01-01 12:30:00.250000+00'")
    # non-finite floats have no portable SQL literal -> stay local
    inf = jvm.java.lang.Double.POSITIVE_INFINITY
    assert sql(pred(">", col("p"), lit(inf))) is None
    assert sql(pred("=", col("p"), lit(jvm.java.lang.Double.NaN))) is None
    assert sql(pred("=", col("p"), lit(jvm.java.lang.Double.NEGATIVE_INFINITY))) is None
    # a conjunction with one unpushable side is not pushed at all
    assert sql(flt.And(pred("=", col("a"), lit(1)),
                       pred("=", col("p"), lit(inf)))) is None


def test_split_load_spreads_across_live_replicas(registered):
    """Two LIVE replicas advertised per split: split i starts at
    replica i % n, so a multi-split scan spreads its fetches across the
    fleet instead of hammering endpoints[0] — while results stay
    exactly equal to the direct scan."""
    with ArrowTestServer({"orders": ORDERS}) as replica:
        with ArrowTestServer(
            {"orders": ORDERS}, extra_endpoints=[replica.url]
        ) as primary:
            split = dd_read_arrow(
                registered, primary.url, source_table="orders",
                split=True, split_size=64 * 300,
            )
            n_splits = split.rdd.getNumPartitions()
            assert n_splits > 1
            primary.queries.clear()
            replica.queries.clear()
            direct = _direct(registered, ORDERS)
            assert sorted(map(tuple, split.collect())) == sorted(
                map(tuple, direct.collect())
            )
            # both replicas actually served split data
            p = [q for q in primary.queries if "hash(_b)" in q]
            r = [q for q in replica.queries if "hash(_b)" in q]
            assert p and r, (primary.queries, replica.queries)
            assert len(p) + len(r) == n_splits


def test_truncated_stream_fails_loudly(registered):
    """A response whose IPC stream ends WITHOUT the EOS marker (valid
    HTTP framing — a torn stream cut at a batch boundary) must error,
    never yield a silently-short result that a downstream aggregate
    would under-sum (r9 verdict directive #1). pyarrow itself accepts
    a bare EOF between messages as end-of-stream, so the reader's
    trailing-marker guard is the only thing standing between a torn
    split and a wrong answer."""
    with ArrowTestServer(
        {"lineitem": LINEITEM},
        batch_rows=100,
        truncate_after_batches=1,
    ) as srv:
        df = dd_read_arrow(registered, srv.url, source_table="lineitem")
        with pytest.raises(Exception, match="truncated split response"):
            df.collect()


def test_short_but_complete_stream_still_reads(registered):
    """Guard sanity: a SMALL complete result (one batch + EOS marker)
    must keep reading fine — the marker check fires only on actual
    truncation."""
    with ArrowTestServer({"lineitem": LINEITEM}, batch_rows=100) as srv:
        df = dd_read_arrow(
            registered, srv.url,
            sql="SELECT l_orderkey FROM lineitem LIMIT 5",
        )
        assert len(df.collect()) == 5


def test_schema_mismatch_fails_loudly(registered):
    """Spark binds arrow batches to the declared schema BY POSITION, so
    a stream whose columns arrive in another order would silently SWAP
    values. Two guards: the reader asks the server for every declared
    column by name, so a stale `schema=` override in another order still
    reads correct values; and a replica that answers in a different
    column order anyway (fleet inconsistency — the reference's
    queryChecksum failure class) fails the task."""
    import duckdb
    from pyspark.sql import types as T

    with ArrowTestServer({"lineitem": LINEITEM}) as srv:
        stale = T.StructType(
            [
                T.StructField("l_partkey", T.LongType()),
                T.StructField("l_orderkey", T.LongType()),
            ]
        )
        df = dd_read_arrow(
            registered, srv.url,
            sql="SELECT l_orderkey, l_partkey FROM lineitem"
                " WHERE l_orderkey < 40",
            schema=stale,
        )
        want = duckdb.sql(
            f"SELECT l_partkey, l_orderkey FROM '{LINEITEM}'"
            " WHERE l_orderkey < 40"
        ).fetchall()
        assert want and sorted(map(tuple, df.collect())) == sorted(want)

        # a replica answering (l_orderkey, l_partkey) to a reader that
        # declared (l_partkey, l_orderkey)
        jvm = registered._jvm
        gw = registered.sparkContext._gateway
        pkg = jvm.org.apache.spark.sql.dazzleduck
        eps = gw.new_array(jvm.java.lang.String, 1)
        eps[0] = srv.url
        names = gw.new_array(jvm.java.lang.String, 2)
        names[0], names[1] = "l_partkey", "l_orderkey"
        part = pkg.DdPartition(
            eps, "SELECT l_orderkey, l_partkey FROM lineitem LIMIT 5", 0
        )
        rdr = pkg.DdColumnarReader(part, "", False, names)
        try:
            with pytest.raises(Exception, match="inconsistent replica"):
                rdr.next()
        finally:
            rdr.close()


def test_schema_matching_override_still_reads(registered):
    """Guard sanity: a CORRECT `schema=` override (the probe-skipping
    deployment shape) keeps reading; the check only fires on a real
    order/name mismatch. (NB pyspark's own read-path validation
    compares the name SET case-sensitively but ignores ORDER — the
    reader's guard exists precisely for the order-swap gap, and stays
    case-insensitive since it can only make the bundled check more
    permissive, never less.)"""
    from pyspark.sql import types as T

    with ArrowTestServer({"lineitem": LINEITEM}) as srv:
        right = T.StructType(
            [
                T.StructField("l_orderkey", T.LongType()),
                T.StructField("l_partkey", T.LongType()),
            ]
        )
        df = dd_read_arrow(
            registered, srv.url,
            sql="SELECT l_orderkey, l_partkey FROM lineitem LIMIT 3",
            schema=right,
        )
        assert len(df.collect()) == 3
