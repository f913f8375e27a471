"""DSv2 shim (scala/DdArrowShim.scala): TRANSPARENT pushdown parity.

The shim implements SupportsPushDownRequiredColumns /
SupportsPushDownV2Filters / SupportsPushDownAggregates, so a PLAIN
.select()/.filter()/.agg() over the remote source prunes, filters, and
aggregates server-side — the reference's optimizer-level pushdowns
(src/scanner/read_arrow_dd.cpp:246-296,
src/optimizer/aggregation_pushdown.cpp:247-418).

Runs in the suite's session: `sources.register` loads the jar with a
runtime ADD JAR, the path every user session takes. Results are
asserted against DuckDB over the same parquet.
"""

from __future__ import annotations

import json
import os
import time as _t

import duckdb
import pytest
from pyspark.sql import functions as F

from dazzleduck_sql_duckdb_spark.sources import register
from dazzleduck_sql_duckdb_spark.sources.local_server import ArrowTestServer

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAR = os.path.join(
    REPO, "dazzleduck_sql_duckdb_spark", "jars", "dd_arrow_shim.jar"
)
LINEITEM = "/root/testdata/sf0.001/lineitem.parquet"


@pytest.fixture(scope="module")
def shim(spark):
    register(spark)
    return spark


def plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _transparent_pushdown_scenarios(spark) -> dict:
    """Every scenario against the local wire server; returns what each
    observed, asserted against DuckDB by the test."""
    srv = ArrowTestServer({"lineitem": LINEITEM}, token="sekret").start()
    # a second server advertising a DEAD endpoint first in every split's
    # endpoints[]
    srv2 = ArrowTestServer(
        {"lineitem": LINEITEM}, extra_endpoints=["http://127.0.0.1:9"]
    ).start()
    try:
        r = (
            spark.read.format("dd_arrow_dsv2")
            .option("url", srv.url)
            .option("path", "lineitem")
            .option("token", "sekret")
            .load()
        )
        out = {}
        out["n_cols"] = len(r.schema.fields)

        # 1) transparent projection: plain .select() prunes the remote SQL
        df = r.select("l_orderkey")
        p = plan(df)
        out["proj_remote_single_col"] = 'RemoteSql: SELECT "l_orderkey" FROM' in p
        out["proj_sum"] = df.groupBy().sum("l_orderkey").collect()[0][0]

        # 2) transparent filter: pushed into the remote WHERE; an
        #    unsupported predicate (expression of two columns) stays post-scan
        df = r.filter("l_quantity > 45").select("l_orderkey")
        p = plan(df)
        seg = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        out["filter_pushed"] = "l_quantity" in seg
        out["filter_count"] = df.count()
        df = r.filter("l_quantity > 45").filter("l_partkey + l_suppkey > 50")
        p = plan(df)
        seg = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        out["partial_keeps_unsupported_post_scan"] = (
            "l_partkey" not in seg and "FilterExec" in p or "Filter " in p
        )
        out["partial_count"] = df.count()

        # 3) transparent aggregate: complete pushdown, server computes finals
        df = r.groupBy("l_returnflag").agg(
            {"l_quantity": "sum", "l_extendedprice": "max", "*": "count"}
        )
        p = plan(df)
        out["agg_pushed"] = "PushedAggregation: true" in p
        out["agg_cols"] = df.columns
        out["agg_rows"] = sorted([list(x) for x in df.collect()])

        # filter + aggregate compose
        df = r.filter("l_quantity > 45").groupBy("l_returnflag").count()
        out["agg_filtered_rows"] = sorted([list(x) for x in df.collect()])

        # 4a) avg: COMPLETE pushdown via the Avg case — the server computes
        #     the final average; no partial aggregate runs above the scan
        df = r.groupBy("l_returnflag").agg({"l_quantity": "avg"})
        p = plan(df)
        out["avg_pushed"] = "PushedAggregation: true" in p
        out["avg_remote_complete"] = "avg(" in p and "RemoteSql" in p
        out["avg_no_partial_agg"] = "HashAggregate" not in p
        out["avg_rows"] = sorted(
            [[x[0], round(x[1], 9)] for x in df.collect()]
        )

        # 4b) an untranslatable aggregate (stddev) falls back to a plain scan
        df = r.groupBy("l_returnflag").agg(F.stddev("l_quantity"))
        out["stddev_fallback_not_pushed"] = (
            "PushedAggregation: true" not in plan(df)
        )
        out["stddev_rows"] = sorted(
            [[x[0], round(x[1], 6)] for x in df.collect()]
        )

        # 5) empty projection (bare count) still counts rows
        out["bare_count"] = r.count()

        # 6) split mode: /v1/plan over the PRUNED+FILTERED sql, one Spark
        #    partition per split; results identical to the non-split read
        rs = (
            spark.read.format("dd_arrow_dsv2")
            .option("url", srv.url)
            .option("path", "lineitem")
            .option("token", "sekret")
            .option("split", "true")
            .option("split_size", "65536")
            .load()
        )
        df = rs.select("l_orderkey")
        out["split_n_partitions"] = df.rdd.getNumPartitions()
        out["split_proj_sum"] = df.groupBy().sum("l_orderkey").collect()[0][0]
        out["split_filter_count"] = rs.filter("l_quantity > 45").count()

        # 6b) split + aggregate: PARTIAL pushdown — each split's slice is
        #     aggregated server-side (the reference's split-mode pushdown),
        #     Spark merges the partials in a final HashAggregate
        df = rs.filter("l_quantity > 45").groupBy("l_returnflag").agg(
            {"l_quantity": "sum", "*": "count"}
        )
        p = plan(df)
        out["split_agg_pushed"] = "PushedAggregation: true" in p
        out["split_agg_final_merge"] = "HashAggregate" in p
        out["split_agg_cols"] = df.columns
        out["split_agg_rows"] = sorted([list(x) for x in df.collect()])

        # avg over splits: Spark decomposes into split-safe sum+count
        # partials; count DISTINCT is NOT split-safe and falls back to a
        # raw-row split scan (values still correct)
        df = rs.groupBy("l_returnflag").agg({"l_quantity": "avg"})
        out["split_avg_pushed"] = "PushedAggregation: true" in plan(df)
        out["split_avg_rows"] = sorted(
            [[x[0], round(x[1], 9)] for x in df.collect()]
        )
        df = rs.groupBy("l_returnflag").agg(
            F.countDistinct("l_suppkey").alias("d")
        )
        out["split_cd_not_pushed"] = "PushedAggregation: true" not in plan(df)
        out["split_cd_rows"] = sorted([list(x) for x in df.collect()])

        # 6c) decimal sum: pushed COMPLETE with an explicit CAST to Spark's
        #     widened result type DECIMAL(p+10, s) — previously excluded
        rd = (
            spark.read.format("dd_arrow_dsv2")
            .option("url", srv.url)
            .option("token", "sekret")
            .option(
                "query",
                "SELECT l_returnflag,"
                " CAST(l_quantity AS DECIMAL(12,2)) AS qd FROM lineitem",
            )
            .load()
        )
        df = rd.groupBy("l_returnflag").agg({"qd": "sum"})
        p = plan(df)
        out["dec_sum_pushed"] = "PushedAggregation: true" in p
        out["dec_sum_type"] = dict(df.dtypes)["sum(qd)"]
        out["dec_sum_rows"] = sorted([[x[0], str(x[1])] for x in df.collect()])

        # 6c') decimal avg: COMPLETE pushdown is deliberately declined (DuckDB
        #      decimal division degrades to DOUBLE; Spark's Average keeps the
        #      widened-decimal result) — but the decomposed sum+count partial
        #      path MUST still be PUSHED, not a raw-row scan. Plan-asserts the
        #      documented trade so it stays true under refactoring
        #      (reference type reconciliation:
        #      src/scanner/read_arrow_dd.cpp:568-696).
        df = rd.groupBy("l_returnflag").agg({"qd": "avg"})
        p = plan(df)
        out["dec_avg_pushed"] = "PushedAggregation: true" in p
        out["dec_avg_remote_decomposed"] = (
            "sum(" in p and "count(" in p and "RemoteSql" in p
            and "avg(" not in p.split("RemoteSql", 1)[1].split("\n", 1)[0]
        )
        # non-split: the decomposed sum+count is pushed COMPLETE — the server
        # runs the one GROUP BY, Spark only divides in a Project (no re-agg)
        out["dec_avg_no_reagg"] = "HashAggregate" not in p
        out["dec_avg_type"] = dict(df.dtypes)["avg(qd)"]
        out["dec_avg_rows"] = sorted([[x[0], str(x[1])] for x in df.collect()])

        # 7) replica failover: a second server advertises a DEAD endpoint
        #    first in every split's endpoints[] — split 0 (and every even
        #    split) STARTS there, fails to connect, rotates to the live
        #    replica; results must be complete. The dead endpoint costs one
        #    refused connect per even split.
        rf = (
            spark.read.format("dd_arrow_dsv2")
            .option("url", srv2.url)
            .option("path", "lineitem")
            .option("split", "true")
            .option("split_size", "65536")
            .load()
        )
        out["failover_sum"] = rf.select("l_orderkey").groupBy().sum(
            "l_orderkey"
        ).collect()[0][0]

        # 8) cancel-on-teardown: a LIMIT over the full scan tears the stream
        #    down before exhaustion -> close() fires GET /v1/cancel (event
        #    channel) on top of the connection drop (lease channel)
        n_cancel_before = len(srv2.cancelled)
        spark.read.format("dd_arrow_dsv2").option("url", srv2.url).option(
            "path", "lineitem"
        ).load().limit(1).collect()
        for _ in range(50):  # the handler records asynchronously
            if len(srv2.cancelled) > n_cancel_before:
                break
            _t.sleep(0.1)
        out["cancel_recorded"] = len(srv2.cancelled) > n_cancel_before

        # 6d) split-mode decimal sum: split-safe partial pushdown with the
        #     same TRY_CAST'd widened type as the complete path
        rds = (
            spark.read.format("dd_arrow_dsv2")
            .option("url", srv.url)
            .option("token", "sekret")
            .option(
                "query",
                "SELECT l_returnflag,"
                " CAST(l_quantity AS DECIMAL(12,2)) AS qd FROM lineitem",
            )
            .option("split", "true")
            .option("split_size", "65536")
            .load()
        )
        df = rds.groupBy("l_returnflag").agg({"qd": "sum"})
        p = plan(df)
        out["split_dec_sum_pushed"] = "PushedAggregation: true" in p
        out["split_dec_sum_final_merge"] = "HashAggregate" in p
        out["split_dec_sum_type"] = dict(df.dtypes)["sum(qd)"]
        out["split_dec_sum_rows"] = sorted(
            [[x[0], str(x[1])] for x in df.collect()]
        )

        # 6d') split-mode decimal avg: decomposed sum+count partials are
        #      split-safe and must be PUSHED per split (same trade as 6c')
        df = rds.groupBy("l_returnflag").agg({"qd": "avg"})
        p = plan(df)
        out["split_dec_avg_pushed"] = "PushedAggregation: true" in p
        out["split_dec_avg_final_merge"] = "HashAggregate" in p
        out["split_dec_avg_rows"] = sorted(
            [[x[0], str(x[1])] for x in df.collect()]
        )

        # 6e) split-decimal stability: run the split-decimal shape 10x in
        #     THIS busy session (shared server, warm JVM connection pool) and
        #     record every distinct result — the hash gate once failed
        #     under a full-catalog shared session while passing in isolation
        df_sd = rds.groupBy("l_returnflag").agg({"qd": "sum"})
        out["split_dec_stress_distinct"] = sorted(
            {
                json.dumps(sorted([[x[0], str(x[1])] for x in df_sd.collect()]))
                for _ in range(10)
            }
        )

        # 10) torn-stream guard: a server that ends the IPC stream WITHOUT the
        #     EOS marker (valid HTTP framing — the shape of a torn split cut
        #     at a batch boundary) must fail the scan loudly, never merge a
        #     silently-short partial
        srv3 = ArrowTestServer(
            {"lineitem": LINEITEM},
            batch_rows=100,
            truncate_after_batches=1,
        ).start()
        try:
            # raw-row fetch (no agg pushdown — an aggregate would return one
            # batch, too short to tear): 100-row batches, cut after the first
            rows = spark.read.format("dd_arrow_dsv2").option(
                "url", srv3.url
            ).option("path", "lineitem").load().select("l_orderkey").collect()
            out["truncated_stream_error"] = f"NO ERROR ({len(rows)} rows)"
        except Exception as e:
            out["truncated_stream_error"] = str(e)[:2000]
        srv3.stop()

        # 11) compressed IPC bodies through the JAVA reader: the reference
        #     server ZSTD-compresses stream buffers (base_stream_reader.cpp
        #     decompresses) — pin that arrow-java (via Spark's bundled
        #     codecs) decodes both supported codecs, with the EOS guard
        #     active (codec framing is inside messages, the
        #     stream-level EOS marker stays plain)
        for codec in ("zstd", "lz4"):
            srvc = ArrowTestServer(
                {"lineitem": LINEITEM}, compression=codec, batch_rows=500
            ).start()
            # raw-row fetch (no agg pushdown — a pushed aggregate would make
            # the compressed body trivially small), summed client-side
            out[f"compressed_{codec}_sum"] = sum(
                r[0] for r in spark.read.format("dd_arrow_dsv2")
                .option("url", srvc.url).option("path", "lineitem").load()
                .select("l_orderkey").collect()
            )
            srvc.stop()

        # 9) JVM shutdown sweep (the third cancel channel, for a JVM that
        #    dies without closing its readers): hold a reader MID-STREAM via py4j, fire the
        #    registry sweep the shutdown hook runs, and assert the server
        #    records the event-channel cancel while the stream is still open
        jvm = spark._jvm
        gw = spark.sparkContext._gateway
        pkg = jvm.org.apache.spark.sql.dazzleduck
        eps = gw.new_array(jvm.java.lang.String, 1)
        eps[0] = srv2.url
        part = pkg.DdPartition(eps, "SELECT * FROM lineitem", 0)
        rdr = pkg.DdColumnarReader(part, "", False, None)
        assert rdr.next()  # first batch loaded, stream NOT exhausted
        out["sweep_in_flight"] = pkg.DdReaderRegistry.inFlight()
        n_before = len(srv2.cancelled)
        pkg.DdReaderRegistry.sweep()
        for _ in range(50):
            if len(srv2.cancelled) > n_before:
                break
            _t.sleep(0.1)
        out["sweep_cancel_recorded"] = len(srv2.cancelled) > n_before
        rdr.close()
        out["sweep_unregistered"] = pkg.DdReaderRegistry.inFlight()
        return out
    finally:
        srv.stop()
        srv2.stop()


def test_jar_matches_scala_source():
    """The committed jar must correspond to every scala/*.scala file:
    tools/build_shim.sh records the sha256 of `sha256sum` over the
    sources in sorted name order; editing any of them (the DSv2 reader
    or the dedup kernels) without a rebuild fails here."""
    import hashlib

    src_dir = os.path.join(REPO, "scala")
    names = sorted(n for n in os.listdir(src_dir) if n.endswith(".scala"))
    assert "DdArrowShim.scala" in names and "DdKernels.scala" in names
    listing = ""
    for n in names:
        with open(os.path.join(src_dir, n), "rb") as f:
            listing += f"{hashlib.sha256(f.read()).hexdigest()}  {n}\n"
    want = hashlib.sha256(listing.encode()).hexdigest()
    sidecar = JAR + ".src.sha256"
    assert os.path.exists(JAR), "run tools/build_shim.sh"
    assert os.path.exists(sidecar), "rebuild: tools/build_shim.sh"
    with open(sidecar) as f:
        got = f.read().strip()
    assert got == want, (
        "dd_arrow_shim.jar was built from different scala/*.scala sources"
        " — rebuild with tools/build_shim.sh"
    )


@pytest.mark.slow
def test_dsv2_shim_transparent_pushdowns(shim):
    got = _transparent_pushdown_scenarios(shim)

    con = duckdb.sql
    assert got["n_cols"] == 11
    assert got["proj_remote_single_col"] is True
    assert got["proj_sum"] == con(
        f"SELECT sum(l_orderkey) FROM '{LINEITEM}'"
    ).fetchone()[0]
    assert got["filter_pushed"] is True
    assert got["filter_count"] == con(
        f"SELECT count(*) FROM '{LINEITEM}' WHERE l_quantity > 45"
    ).fetchone()[0]
    assert got["partial_count"] == con(
        f"SELECT count(*) FROM '{LINEITEM}'"
        " WHERE l_quantity > 45 AND l_partkey + l_suppkey > 50"
    ).fetchone()[0]
    assert got["agg_pushed"] is True
    # column-name-explicit value check (agg-dict ordering varies):
    # map each Spark output column to the matching oracle aggregate
    oracle_by_col = {
        "l_returnflag": "l_returnflag",
        "sum(l_quantity)": "sum(l_quantity)",
        "max(l_extendedprice)": "max(l_extendedprice)",
        "count(1)": "CAST(count(*) AS BIGINT)",
    }
    sel = ", ".join(oracle_by_col[c] for c in got["agg_cols"])
    oracle_rows = sorted(
        [list(x) for x in con(
            f"SELECT {sel} FROM '{LINEITEM}' GROUP BY l_returnflag"
        ).fetchall()]
    )
    assert got["agg_rows"] == oracle_rows
    assert got["agg_filtered_rows"] == sorted(
        [list(x) for x in con(
            f"SELECT l_returnflag, count(*) FROM '{LINEITEM}'"
            " WHERE l_quantity > 45 GROUP BY 1"
        ).fetchall()]
    )
    assert got["avg_pushed"] is True
    assert got["avg_remote_complete"] is True  # server computes the avg
    assert got["avg_no_partial_agg"] is True   # nothing re-aggregates
    assert got["avg_rows"] == sorted(
        [[x[0], round(x[1], 9)] for x in con(
            f"SELECT l_returnflag, avg(l_quantity) FROM '{LINEITEM}'"
            " GROUP BY 1"
        ).fetchall()]
    )
    assert got["stddev_fallback_not_pushed"] is True
    assert got["stddev_rows"] == sorted(
        [[x[0], round(x[1], 6)] for x in con(
            f"SELECT l_returnflag, stddev_samp(l_quantity)"
            f" FROM '{LINEITEM}' GROUP BY 1"
        ).fetchall()]
    )
    assert got["bare_count"] == con(
        f"SELECT count(*) FROM '{LINEITEM}'"
    ).fetchone()[0]
    assert got["split_n_partitions"] > 1
    assert got["split_proj_sum"] == got["proj_sum"]
    assert got["split_filter_count"] == got["filter_count"]
    assert got["split_agg_pushed"] is True   # per-split server partials
    assert got["split_agg_final_merge"] is True  # Spark merges them
    sa_oracle_by_col = {
        "l_returnflag": "l_returnflag",
        "sum(l_quantity)": "sum(l_quantity)",
        "count(1)": "CAST(count(*) AS BIGINT)",
    }
    sel = ", ".join(sa_oracle_by_col[c] for c in got["split_agg_cols"])
    assert got["split_agg_rows"] == sorted(
        [list(x) for x in con(
            f"SELECT {sel} FROM '{LINEITEM}' WHERE l_quantity > 45"
            " GROUP BY l_returnflag"
        ).fetchall()]
    )
    assert got["split_avg_pushed"] is True  # decomposed sum+count partials
    assert got["split_avg_rows"] == got["avg_rows"]
    assert got["split_cd_not_pushed"] is True  # not split-safe -> raw rows
    assert got["split_cd_rows"] == sorted(
        [list(x) for x in con(
            f"SELECT l_returnflag, CAST(count(DISTINCT l_suppkey) AS"
            f" BIGINT) FROM '{LINEITEM}' GROUP BY 1"
        ).fetchall()]
    )
    assert got["dec_sum_pushed"] is True
    assert got["dec_sum_type"] == "decimal(22,2)"  # Spark's p+10 widening
    assert got["dec_sum_rows"] == sorted(
        [[x[0], str(x[1])] for x in con(
            f"SELECT l_returnflag, CAST(sum(CAST(l_quantity AS"
            f" DECIMAL(12,2))) AS DECIMAL(22,2)) FROM '{LINEITEM}'"
            " GROUP BY 1"
        ).fetchall()]
    )
    # 6c'/6d': avg(DECIMAL) — complete pushdown declined by design, but
    # the decomposed sum+count fallback is PUSHED (no raw-row scan) in
    # both plain and split mode, Spark merges and divides exactly
    assert got["dec_avg_pushed"] is True
    assert got["dec_avg_remote_decomposed"] is True
    assert got["dec_avg_no_reagg"] is True  # server-final, Spark divides
    assert got["dec_avg_type"] == "decimal(16,6)"  # Spark p+4/s+4 avg
    oracle_avg = {
        x[0]: x[1] for x in con(
            f"SELECT l_returnflag, avg(CAST(l_quantity AS"
            f" DECIMAL(12,2))) FROM '{LINEITEM}' GROUP BY 1"
        ).fetchall()
    }
    for flag, val in got["dec_avg_rows"]:
        assert abs(float(val) - float(oracle_avg[flag])) < 1e-6, (flag, val)
    assert got["split_dec_avg_pushed"] is True
    assert got["split_dec_avg_final_merge"] is True
    assert got["split_dec_avg_rows"] == got["dec_avg_rows"]
    assert got["failover_sum"] == got["proj_sum"]  # dead replica rotated
    assert got["cancel_recorded"] is True
    # 6d: decimal sum over splits — pushed as split partials, merged
    # by Spark, same widened type and values as the complete path
    assert got["split_dec_sum_pushed"] is True
    assert got["split_dec_sum_final_merge"] is True
    assert got["split_dec_sum_type"] == "decimal(22,2)"
    assert got["split_dec_sum_rows"] == got["dec_sum_rows"]
    # 6e: 10 same-session runs of the split-decimal merge must agree
    # bit-for-bit with the oracle — the r9 red gate's stress twin
    assert got["split_dec_stress_distinct"] == [
        json.dumps(got["dec_sum_rows"])
    ], got["split_dec_stress_distinct"]
    # 10: a stream ending without the Arrow EOS marker is a loud error
    assert "truncated split response" in got["truncated_stream_error"], (
        got["truncated_stream_error"]
    )
    # 11: compressed IPC bodies decode through arrow-java for both
    # codecs the wire supports, values exact
    assert got["compressed_zstd_sum"] == got["proj_sum"]
    assert got["compressed_lz4_sum"] == got["proj_sum"]
    # 9: the shutdown sweep cancels in-flight queries while the reader
    # is mid-stream, and close() drains the registry
    assert got["sweep_in_flight"] >= 1
    assert got["sweep_cancel_recorded"] is True
    assert got["sweep_unregistered"] == 0


def _randomized_agg_cases(spark, cases) -> list:
    out = []
    with ArrowTestServer({"lineitem": LINEITEM}) as srv:
        for case in cases:
            rd = spark.read.format("dd_arrow_dsv2").option(
                "url", srv.url
            ).option("path", "lineitem")
            if case["split"]:
                rd = rd.option("split", "true").option("split_size", "65536")
            df = rd.load()
            if case["where"]:
                df = df.filter(case["where"])
            aggs = [F.expr(a).alias(f"a{i}") for i, a in enumerate(case["aggs"])]
            if case["group"]:
                df = df.groupBy(*case["group"]).agg(*aggs)
            else:
                df = df.agg(*aggs)
            rows = sorted([[repr(v) for v in r] for r in df.collect()])
            out.append({"pushed": "PushedAggregation: true" in plan(df),
                        "rows": rows})
    return out


@pytest.mark.slow
def test_dsv2_shim_randomized_agg_differential(shim):
    """Seeded randomized agg shapes through the shim (split AND
    non-split) vs DuckDB over the same parquet: group keys, filters,
    and agg mixes drawn from the pushable surface. Every case must be
    value-identical; pushability itself is reported but only sanity-
    checked (the optimizer may legitimately decline)."""
    import random

    rng = random.Random(20260815)
    group_pool = [[], ["l_returnflag"], ["l_returnflag", "l_linestatus"]]
    agg_pool = [
        "count(*)",
        "count(l_partkey)",
        "sum(l_orderkey)",
        "min(l_quantity)",
        "max(l_extendedprice)",
        "sum(l_suppkey)",
        "min(l_shipdate)",
        "max(l_shipdate)",
    ]
    where_pool = [
        None,
        "l_quantity > 25",
        "l_orderkey % 7 = 0",
        "l_returnflag = 'N' AND l_discount >= 0.05",
    ]
    cases = []
    for _ in range(10):
        cases.append(
            {
                "split": rng.random() < 0.5,
                "group": rng.choice(group_pool),
                "aggs": rng.sample(agg_pool, rng.randint(1, 3)),
                "where": rng.choice(where_pool),
            }
        )
    got = _randomized_agg_cases(shim, cases)

    import datetime
    import decimal  # noqa: F401  (repr() of decimal/date values)

    con = duckdb.sql
    n_pushed = 0
    for case, res in zip(cases, got):
        sel_g = ", ".join(case["group"])
        duck_aggs = []
        for a in case["aggs"]:
            if a == "count(*)" or a.startswith("count("):
                duck_aggs.append(f"CAST({a} AS BIGINT)")
            elif a.startswith("sum(") and "quantity" not in a:
                duck_aggs.append(f"CAST({a} AS BIGINT)")
            else:
                duck_aggs.append(a)
        sel = (sel_g + ", " if sel_g else "") + ", ".join(duck_aggs)
        sql = f"SELECT {sel} FROM '{LINEITEM}'"
        if case["where"]:
            sql += f" WHERE {case['where']}"
        if sel_g:
            sql += f" GROUP BY {sel_g}"
        want = sorted(
            [
                [
                    repr(
                        datetime.date.fromisoformat(str(v))
                        if hasattr(v, "isoformat") and not hasattr(v, "hour")
                        else v
                    )
                    for v in r
                ]
                for r in con(sql).fetchall()
            ]
        )
        assert res["rows"] == want, (case, res["rows"][:3], want[:3])
        n_pushed += res["pushed"]
    assert n_pushed >= len(cases) // 2  # most of the surface pushes
