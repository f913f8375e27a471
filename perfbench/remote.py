"""remote_scan: the paper's Arrow-IPC-over-HTTP source, called through
`sources.dd_read_arrow`, `dd_read_arrow_agg` and `dd_splits` against an
`ArrowTestServer` that runs in its own process (server.py).

Each op draws fresh predicate literals from the seeded generator, so no
result cache can answer it, and is checked against DuckDB run directly
on the parquet with the same predicate. A pass runs one op of each kind:

- bulk:     split scan of lineitem with `select=` and a pushed range
            filter; bound by bytes (transfer, IPC decode, row conversion)
- pushdown: split-mode `dd_read_arrow_agg`; its payload is tiny, so it
            is bound by per-request cost (schema probe, /v1/plan,
            Python planner workers)
- point:    non-split scan of orders with a pushed equality filter
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import urllib.parse
import urllib.request

import duckdb

import procstat
from tracing import JOB_FIELDS, adder

KINDS = ("bulk", "pushdown", "point")
BULK_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity"]
BULK_KEY_SHARE = 0.25  # share of the order-key range one bulk op reads
PUSHDOWN_DAYS = 180
SERVER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "server.py")


class ServerProcess:
    def __init__(self, sf_dir: str):
        self.proc = subprocess.Popen(
            [sys.executable, SERVER, sf_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.strip().isdigit():
            self.stop()
            raise RuntimeError("server process did not report its port")
        self.url = f"http://127.0.0.1:{int(line)}"

    def stats(self) -> dict:
        with urllib.request.urlopen(self.url + "/bench/stats", timeout=30) as r:
            return json.loads(r.read())

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


class RemoteWorkload:
    def __init__(self, run):
        import random

        self.run = run
        self.rng = random.Random(run.seed)
        self.duck = duckdb.connect()
        for t in ("lineitem", "orders"):
            path = os.path.join(run.sf_dir, f"{t}.parquet")
            self.duck.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        (self.max_lkey,) = self.duck.sql("SELECT max(l_orderkey) FROM lineitem").fetchone()
        n_rows, ship_lo, ship_hi = self.duck.sql(
            "SELECT count(*), min(l_shipdate), max(l_shipdate) FROM lineitem"
        ).fetchone()
        self.ship_lo = ship_lo.date()
        self.ship_days = (ship_hi - ship_lo).days - PUSHDOWN_DAYS
        self.okeys = [
            k for (k,) in self.duck.sql(
                "SELECT o_orderkey FROM orders ORDER BY o_orderkey"
            ).fetchall()
        ]
        # /v1/plan sizes splits from ~64 bytes per estimated row; this
        # gives a bulk op about one split per task slot on 4 slots
        self.split_size = max(1, n_rows * 64 // 16)
        self.server = None
        self.dsv2_loaded = False

    # ------------------------------------------------------------ set-up
    def register(self) -> None:
        from dazzleduck_sql_duckdb_spark import functions, sources

        sources.register(self.run.spark)
        functions.register_all(self.run.spark)
        with self.run.tracer.span("server.start"):
            self.server = ServerProcess(self.run.sf_dir)

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
        self.duck.close()

    # ------------------------------------------------------------ ops
    def _draw(self, kind: str) -> dict:
        r = self.rng
        if kind == "bulk":
            width = int(self.max_lkey * BULK_KEY_SHARE)
            lo = r.randrange(0, self.max_lkey - width + 1)
            return {"lo": lo, "hi": lo + width}
        if kind == "pushdown":
            d0 = self.ship_lo + dt.timedelta(days=r.randrange(self.ship_days))
            return {"d0": d0, "d1": d0 + dt.timedelta(days=PUSHDOWN_DAYS)}
        return {"key": r.choice(self.okeys)}

    def _bulk_where(self, p) -> str:
        return f"l_orderkey >= {p['lo']} AND l_orderkey < {p['hi']}"

    def _build(self, kind: str, p: dict):
        from pyspark.sql import functions as F

        from dazzleduck_sql_duckdb_spark.sources import (
            dd_read_arrow, dd_read_arrow_agg,
        )

        spark, url = self.run.spark, self.server.url
        if kind == "bulk":
            df = dd_read_arrow(
                spark, url, source_table="lineitem", split=True,
                split_size=self.split_size, select=BULK_COLS,
            )
            return _bulk_agg(df, p, F)
        if kind == "pushdown":
            return dd_read_arrow_agg(
                spark, url, source_table="lineitem", split=True,
                split_size=self.split_size, group_by=["l_returnflag", "l_linestatus"],
                aggs=_PUSHDOWN_AGGS,
                where=(
                    f"l_shipdate >= TIMESTAMP '{p['d0']}'"
                    f" AND l_shipdate < TIMESTAMP '{p['d1']}'"
                ),
            )
        df = dd_read_arrow(spark, url, source_table="orders")
        return df.filter(F.col("o_orderkey") == p["key"])

    def _oracle(self, kind: str, p: dict) -> list[tuple]:
        if kind == "bulk":
            sql = (
                "SELECT count(*), sum(l_partkey), sum(l_suppkey), sum(l_quantity)"
                f" FROM lineitem WHERE {self._bulk_where(p)}"
            )
        elif kind == "pushdown":
            sql = (
                "SELECT l_returnflag, l_linestatus, "
                + ", ".join(_PUSHDOWN_AGGS.values())
                + f" FROM lineitem WHERE l_shipdate >= TIMESTAMP '{p['d0']}'"
                f" AND l_shipdate < TIMESTAMP '{p['d1']}' GROUP BY ALL"
            )
        else:
            sql = f"SELECT * FROM orders WHERE o_orderkey = {p['key']}"
        return sorted(self.duck.sql(sql).fetchall())

    def _op(self, kind: str, traced: bool, layers: dict):
        """Run one op; return its literals, its rows (None if it raised)
        and its wall seconds."""
        run = self.run
        p = self._draw(kind)
        try:
            if traced:
                got, dt_s = self._traced_op(kind, p, layers)
            else:
                t0 = run.clock()
                got = self._build(kind, p).collect()
                dt_s = run.clock() - t0
        except Exception as e:  # noqa: BLE001 - one failed op must not end the run
            run.log(f"FAILED {kind} {p}: {type(e).__name__}: {e}")
            return p, None, None
        return p, got, dt_s

    def _check(self, kind: str, p: dict, got) -> bool:
        """Compare an op's rows with DuckDB on the parquet; count the op."""
        ok = got is not None and sorted(tuple(r) for r in got) == self._oracle(kind, p)
        if got is not None and not ok:
            self.run.log(f"WRONG RESULT {kind} {p}")
        self.run.count_op(ok)
        return ok

    def verify(self) -> None:
        for kind in KINDS:
            p, got, _ = self._op(kind, False, {})
            self._check(kind, p, got)

    def run_pass(self, traced: bool) -> dict:
        run = self.run
        wall = cpu = 0.0
        by_kind: dict[str, float] = {}
        layers: dict[str, float] = {}
        s0 = self.server.stats()
        srv_cpu0 = procstat.tree_cpu_s(self.server.proc.pid)
        for kind in KINDS:
            cpu0 = run.tree_cpu_s()
            p, got, dt_s = self._op(kind, traced, layers)
            cpu += run.tree_cpu_s() - cpu0
            # checked outside the CPU window: the DuckDB oracle runs in
            # this process, and its CPU is not the engine's
            if self._check(kind, p, got):
                wall += dt_s
                by_kind[kind] = dt_s
        s1 = self.server.stats()
        layers["sources.wire_mb"] = (s1["bytes"] - s0["bytes"]) / 2**20
        if traced:
            layers["sources.requests"] = sum(s1["requests"].values()) - sum(
                s0["requests"].values()
            )
            layers["sources.batches"] = s1["batches"] - s0["batches"]
            layers["server.cpu_s"] = (
                procstat.tree_cpu_s(self.server.proc.pid) - srv_cpu0
            )
        return {"wall_s": wall, "cpu_s": cpu, "layers": layers, "by_kind": by_kind}

    # ------------------------------------------------------------ traced
    def _traced_op(self, kind: str, p: dict, layers: dict):
        run = self.run
        tr, stats = run.tracer, run.job_stats
        py0 = run.python_cpu_s()
        with tr.span("op", op=kind) as op:
            group = stats.begin()
            with tr.span("sources.probe") as probe:
                df = self._build(kind, p)
            with tr.span("exec.run") as execute:
                got = df.collect()
            stats.end()
        ex = stats.collect(group)
        add = adder(layers)
        add("sources.probe_s", tr.seconds(probe))
        add("exec.run_s", tr.seconds(execute))
        add("operators.python_cpu_s", run.python_cpu_s() - py0)
        for k in JOB_FIELDS:
            add(f"exec.{k}", ex[k])
        if kind == "bulk":
            self._bulk_layers(p, layers, ex)
        return got, tr.seconds(op)

    def _bulk_layers(self, p: dict, layers: dict, ex: dict) -> None:
        """Per-layer costs of one bulk op, each measured by a separate
        call after the op: split planning, one split fetched and decoded
        without Spark, DuckDB alone, and the DSv2 shim."""
        import pyarrow as pa
        from pyspark.sql import functions as F

        from dazzleduck_sql_duckdb_spark.sources import dd_splits

        run, tr = self.run, self.run.tracer
        sql = f"SELECT {', '.join(BULK_COLS)} FROM lineitem WHERE {self._bulk_where(p)}"
        with tr.span("sources.plan_fetch", op="bulk") as span:
            splits = dd_splits(
                run.spark, self.server.url, sql=sql, split_size=self.split_size
            ).collect()
        layers["sources.plan_fetch_s"] = tr.seconds(span)
        layers["sources.splits"] = len(splits)
        with tr.span("sources.fetch_decode", op="bulk") as span:
            q = urllib.parse.quote_plus(splits[0]["query"])
            with urllib.request.urlopen(
                f"{self.server.url}/v1/query?q={q}&id=1", timeout=120
            ) as resp:
                pa.ipc.open_stream(resp).read_all()
        layers["sources.fetch_decode_s"] = tr.seconds(span)
        # Derived, not measured: the mean Spark task time of the scan
        # stage (one task per split) beyond what fetching and decoding
        # one split costs without Spark.
        if ex["widest_stage_tasks"]:
            layers["sources.row_convert_s_derived"] = (
                ex["widest_stage_run_s"] / ex["widest_stage_tasks"]
                - layers["sources.fetch_decode_s"]
            )
        with tr.span("server.query", op="bulk") as span:
            self.duck.sql(sql).arrow()
        layers["server.query_s"] = tr.seconds(span)
        self._load_dsv2()
        with tr.span("sources.dsv2_run", op="bulk") as span:
            df = (
                run.spark.read.format("dd_arrow_dsv2")
                .option("url", self.server.url).option("path", "lineitem")
                .option("split", "true").option("split_size", str(self.split_size))
                .load()
                .select(*BULK_COLS)
            )
            got = _bulk_agg(df, p, F).collect()
        layers["sources.dsv2_run_s"] = tr.seconds(span)
        ok = sorted(tuple(r) for r in got) == self._oracle("bulk", p)
        if not ok:
            run.log(f"WRONG RESULT bulk via dd_arrow_dsv2 {p}")
        run.count_op(ok)

    def _load_dsv2(self) -> None:
        if not self.dsv2_loaded:
            jar = os.path.join(
                self.run.root, "dazzleduck_sql_duckdb_spark", "jars", "dd_arrow_shim.jar"
            )
            self.run.spark.sql(f"ADD JAR {jar}")
            self.dsv2_loaded = True


_PUSHDOWN_AGGS = {
    "n": "count(*)",
    "qty": "sum(l_quantity)",
    "max_price": "max(l_extendedprice)",
    "min_disc": "min(l_discount)",
}


def _bulk_agg(df, p, F):
    return df.filter(
        (F.col("l_orderkey") >= p["lo"]) & (F.col("l_orderkey") < p["hi"])
    ).agg(
        F.count(F.lit(1)), F.sum("l_partkey"), F.sum("l_suppkey"),
        F.sum("l_quantity"),
    )
