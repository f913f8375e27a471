"""Local DuckDB-backed emulation of the reference server's wire protocol.

Implements the four endpoints the extension's HTTP client speaks
(the reference's src/http/arrow_http_client.cpp and
src/scalar_function/dd_login.cpp), so `dd_read_arrow` / `dd_splits` /
`login` can be exercised end-to-end with no external dependencies:

- ``GET /v1/query?q=<sql>&id=<qid>`` -> Arrow IPC stream of the result
- ``GET /v1/plan?q=<sql>`` (+ ``x-dd-split-size`` header) -> JSON split
  plan; each split is an independently-runnable SQL rewrite of the query
  (shape: endpoints[], descriptor.statementHandle.{query, queryId,
  producerId, splitSize, queryChecksum} — split_info.cpp:37-102)
- ``POST /v1/login`` {username, password[, claims]} -> {"accessToken"}
- ``GET /v1/cancel?id=<qid>`` -> records the cancellation

Cancellation is recorded into ``server.cancelled`` from BOTH channels a
real fleet needs: the explicit /v1/cancel endpoint (fired by the reader
on mid-stream close and by its JVM shutdown sweep), and a mid-stream
connection drop (the only signal a process that dies without running its
teardown can emit, so the TCP close is the cancellation; the connection
is the query lease).

Storage: the server loads every served table once, at construction,
into one DuckDB database (native columnar tables, not parquet views),
and each request runs on its own cursor of that database. A hash split
re-runs its base query over the in-memory columns, so the n requests of
one split scan decode no parquet. Files written or deleted after
construction are not seen.

Test/demo use only — the point of the engine is that Spark executors
fetch from *real* fleets of such servers; this one simply speaks the
same protocol from a thread on localhost.
"""

from __future__ import annotations

import hashlib
import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import duckdb
import pyarrow as pa
import pyarrow.ipc

DEFAULT_SPLIT_SIZE = 1 << 20  # bytes, used when no x-dd-split-size header
MAX_SPLITS = 32

# /v1/plan EC-less classification. Operators that READ
# stored data: an EC-less plan containing one means the EXPLAIN
# rendering drifted — hard-fail, never a one-split collapse.
DATA_READ_OPS = frozenset({
    "READ_PARQUET", "PARQUET_SCAN", "SEQ_SCAN",
    "TABLE_SCAN", "READ_CSV", "ARROW_SCAN", "READ_JSON",
})
# Operators that legitimately carry no cardinality estimate in DuckDB
# 1.0's EXPLAIN: constant/VALUES plans and the stateless shapes that
# can sit above them. Anything outside BOTH lists 400s loudly.
ESTIMATE_FREE_OPS = frozenset({
    "DUMMY_SCAN", "EMPTY_RESULT", "COLUMN_DATA_SCAN",
    "PROJECTION", "FILTER", "UNGROUPED_AGGREGATE", "HASH_GROUP_BY",
    "ORDER_BY", "TOP_N", "LIMIT", "STREAMING_LIMIT", "CROSS_PRODUCT",
    "UNION",
})


def _plan_operator_names(explain_txt: str) -> list[str]:
    """Operator names parsed STRUCTURALLY from DuckDB's rendered
    EXPLAIN boxes: each operator's name is the single uppercase token
    on a line directly below a top border ('┌───┐'). Two renderer
    facts the parse must honor: sibling subtrees render SIDE BY SIDE,
    so one line can hold SEVERAL box headers ('│ A ││ B │' — findall, not a single anchored match: an
    EC-less data-read op hidden in a right-hand column must not be
    invisible), and a box with a right-sibling connector closes its
    header with '├', not '│' ('│ UNION ├───┐'). Content lines
    (projected columns, filters, string literals) still never match —
    they sit below the '─ ─ ─' separator, rarely form a bare [A-Z_]+
    token, and literals keep their quotes."""
    import re

    lines = explain_txt.splitlines()
    ops = []
    for i, ln in enumerate(lines):
        if "┌" in ln and i + 1 < len(lines):
            ops.extend(
                re.findall(r"│\s*([A-Z][A-Z0-9_]*)\s*[│├]", lines[i + 1])
            )
    return ops


def _plan_rows_estimate(explain_txt: str) -> int:
    """Cardinality estimate for split planning from a rendered EXPLAIN
    (pure and unit-testable so every branch, including the
    unknown-operator hard-fail, is pinned without forcing DuckDB
    to render exotic plans). Returns the topmost EC when present, 0
    for known estimate-free constant plans; raises ValueError (the
    handler 400s) when a data-reading operator carries no EC or when
    an EC-less plan contains an operator neither allowlist knows."""
    import re

    ecs = re.findall(r"EC:\s*(\d+)", explain_txt)
    if ecs:
        return int(ecs[0])
    plan_ops = _plan_operator_names(explain_txt)
    if any(op in DATA_READ_OPS for op in plan_ops):
        raise ValueError("no EC estimate in EXPLAIN output")
    if plan_ops and all(op in ESTIMATE_FREE_OPS for op in plan_ops):
        return 0
    unknown = [
        op for op in plan_ops if op not in ESTIMATE_FREE_OPS
    ] or ["<no operators parsed>"]
    raise ValueError(
        "EC-less plan with unknown operator(s) "
        + ",".join(sorted(set(unknown)))
    )


class _Handler(BaseHTTPRequestHandler):
    server: "ArrowTestServer"
    protocol_version = "HTTP/1.1"  # chunked transfer needs 1.1

    def log_message(self, *args):  # quiet
        pass

    # ---------------------------------------------------------- helpers
    def _deny(self, code: int, msg: str) -> None:
        body = json.dumps({"error": msg}).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _authed(self) -> bool:
        if self.server.token is None:
            return True
        auth = self.headers.get("Authorization", "")
        return auth == f"Bearer {self.server.token}"

    def _connect(self) -> duckdb.DuckDBPyConnection:
        return self.server.db.cursor()

    # ---------------------------------------------------------- endpoints
    def do_GET(self):  # noqa: N802
        parsed = urllib.parse.urlparse(self.path)
        qs = urllib.parse.parse_qs(parsed.query)
        self.server.requests.append(parsed.path)
        if parsed.path in ("/v1/query", "/v1/plan") and self._inject_failure():
            return None
        if parsed.path == "/v1/query":
            return self._handle_query(qs)
        if parsed.path == "/v1/plan":
            return self._handle_plan(qs)
        if parsed.path == "/v1/cancel":
            if not self._authed():
                return self._deny(401, "unauthorized")
            qid = qs.get("id", ["0"])[0]
            self.server.cancelled.append(int(qid))
            return self._deny(200, "cancelled")
        return self._deny(404, "not found")

    def _inject_failure(self) -> bool:
        with self.server._fail_lock:
            if self.server.fail_first <= 0:
                return False
            self.server.fail_first -= 1
        self._deny(self.server.fail_status, "injected failure")
        return True

    def _handle_query(self, qs) -> None:
        if not self._authed():
            return self._deny(401, "unauthorized")
        sql = qs.get("q", [None])[0]
        if not sql:
            return self._deny(400, "missing q")
        query_id = int(qs.get("id", ["0"])[0])
        self.server.queries.append(sql)
        # the result is materialized, so the cursor closes before the
        # (possibly throttled) stream instead of pinning a connection
        with self._connect() as con:
            try:
                tbl = con.sql(sql).arrow()
            except Exception as e:
                return self._deny(400, f"query error: {e}")
        self.send_response(200)
        self.send_header("Content-Type", "application/vnd.apache.arrow.stream")
        self.send_header("Transfer-Encoding", "chunked")
        self.end_headers()

        class _Chunked:
            """File-like sink streaming IPC bytes with chunked framing."""

            closed = False

            def __init__(self, w):
                self.w = w

            def writable(self):
                return True

            def write(self, data):
                if data:
                    self.w.write(f"{len(data):x}\r\n".encode())
                    self.w.write(bytes(data))
                    self.w.write(b"\r\n")
                return len(data)

            def flush(self):
                self.w.flush()

        sink = _Chunked(self.wfile)
        opts = None
        if self.server.compression:
            # compressed IPC body buffers (base_stream_reader.cpp:11-50
            # decompresses these server-side frames; pyarrow's reader
            # handles them transparently on our side)
            opts = pa.ipc.IpcWriteOptions(
                compression=self.server.compression
            )
        trunc = self.server.truncate_after_batches
        try:
            batches = tbl.to_batches(
                max_chunksize=self.server.batch_rows or 8192
            )
            # truncation mode drops trailing batches AND the EOS
            # marker; streams it cannot shorten (schema probes, empty
            # results) are written whole so only data fetches tear
            do_trunc = trunc is not None and len(batches) > trunc
            if do_trunc:
                # Serialize the torn prefix to MEMORY, close the writer
                # there, and copy the bytes minus the trailing 8-byte EOS
                # marker into the response (a writer left unclosed on the
                # socket sink would emit bytes outside the chunked framing
                # if a GC finalizer flushed it). The wire bytes are
                # identical: schema message + kept batch messages, no EOS,
                # then the terminal HTTP chunk.
                buf = pa.BufferOutputStream()
                writer = pa.ipc.new_stream(buf, tbl.schema, options=opts)
                for batch in batches[:trunc]:
                    writer.write_batch(batch)
                writer.close()
                body = buf.getvalue().to_pybytes()
                # the stripped tail must BE the non-legacy EOS marker
                # (0xFFFFFFFF continuation + zero length); if pyarrow
                # ever switches the stream format the torn-stream
                # simulation must fail loudly, not emit a malformed
                # prefix
                eos = b"\xff\xff\xff\xff\x00\x00\x00\x00"
                if body[-8:] != eos:
                    # explicit raise, not assert: the guard must
                    # survive python -O, which strips asserts and
                    # would silently revert to blind [:-8] slicing —
                    # the exact failure mode this check makes loud
                    raise RuntimeError(
                        f"IPC stream tail {body[-8:]!r} != expected"
                        " EOS marker — stream format drifted; fix"
                        " the truncation slice"
                    )
                sink.write(body[:-8])
                sink.flush()
            else:
                writer = pa.ipc.new_stream(sink, tbl.schema, options=opts)
                for batch in batches:
                    writer.write_batch(batch)
                    sink.flush()
                    if self.server.throttle_s:
                        # simulate a slow producer so tests can kill a
                        # task while its reader blocks between batches
                        import time

                        time.sleep(self.server.throttle_s)
                # close() writes the IPC EOS marker
                writer.close()
            self.wfile.write(b"0\r\n\r\n")
        except (BrokenPipeError, ConnectionResetError):
            # Wire-level cancellation: the client connection dropped
            # mid-stream, which is how a killed client process (no
            # teardown hook can run) signals abandonment. The connection
            # IS the query lease; treat the drop as a cancel of this id.
            self.server.cancelled.append(query_id)
            self.close_connection = True

    def _handle_plan(self, qs) -> None:
        if not self._authed():
            return self._deny(401, "unauthorized")
        sql = qs.get("q", [None])[0]
        if not sql:
            return self._deny(400, "missing q")
        split_size = int(
            self.headers.get("x-dd-split-size", DEFAULT_SPLIT_SIZE)
        )
        try:
            # Size the plan from the optimizer's cardinality estimate
            # (EXPLAIN reads table statistics — ~1ms, no execution),
            # NOT count(*) over the base query: re-executing the base
            # just to plan splits is the reference's own double-fetch
            # flaw (SURVEY §3.1), and a test server that full-scans at
            # plan time masks the exact cost pattern the engine avoids.
            # The top-most estimate is exact for unfiltered scans (the
            # split-count contract remote_splits_plan's oracle pins)
            # and a selectivity estimate under filters — fine for a
            # byte-size heuristic.
            with self._connect() as con:
                txt = "\n".join(
                    t for _, t in con.sql(f"EXPLAIN SELECT * FROM ({sql})"
                                          " AS _q").fetchall()
                )
            # Classify EC-less plans STRUCTURALLY: operator names are
            # the header line of each rendered plan box (the line
            # directly under a '┌───┐' border), never projection
            # content — so a string literal like 'READ_PARQUET'
            # inside a DUMMY_SCAN projection cannot trip the
            # data-read hard-fail, and an operator the allowlists
            # don't know 400s loudly instead of silently collapsing
            # to one split (a whole-text substring match has both
            # failure modes).
            try:
                nrows = _plan_rows_estimate(txt)
            except ValueError as ve:
                return self._deny(400, f"plan error: {ve}")
        except Exception as e:
            return self._deny(400, f"plan error: {e}")
        est_bytes = nrows * 64
        n = max(1, min(MAX_SPLITS, (est_bytes + split_size - 1) // split_size))
        checksum = hashlib.sha256(sql.encode()).hexdigest()[:16]
        base = f"http://{self.server.server_address[0]}:{self.server.server_address[1]}"
        endpoints = [*self.server.extra_endpoints, base]
        splits = []
        for i in range(n):
            # each split: deterministic rewrite, independently runnable
            # (the analogue of the reference server's per-split rewritten
            # SQL carried in statementHandle.query). The slice predicate
            # hashes the whole row struct (hash(_b)), NOT row_number()
            # OVER () — each split re-executes the base query on its own
            # cursor, and without a total order a positional slice
            # can overlap or drop rows when the scan order varies.
            # Row-hash slicing is order-independent: every row lands in
            # exactly one split regardless of execution order (identical
            # duplicate rows land together, preserving multiplicity).
            # The base runs over the tables loaded at construction, so n
            # splits cost n scans of in-memory columns, not n parquet
            # decodes. Disjoint rowid ranges would not scan less: DuckDB
            # 1.0 keeps a rowid predicate as a FILTER above a full
            # SEQ_SCAN, so no row group is pruned.
            split_sql = (
                f"SELECT * FROM ({sql}) AS _b WHERE hash(_b) % {n} = {i}"
            )
            splits.append(
                {
                    "endpoints": endpoints,
                    "descriptor": {
                        "statementHandle": {
                            "query": split_sql,
                            "queryId": i + 1,
                            "producerId": "local-duckdb",
                            "splitSize": split_size,
                            "queryChecksum": checksum,
                        }
                    },
                }
            )
        body = json.dumps(splits).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):  # noqa: N802
        if urllib.parse.urlparse(self.path).path != "/v1/login":
            return self._deny(404, "not found")
        length = int(self.headers.get("Content-Length", 0))
        try:
            body = json.loads(self.rfile.read(length).decode())
        except json.JSONDecodeError:
            return self._deny(400, "bad json")
        creds = self.server.credentials
        if creds and (
            body.get("username"),
            body.get("password"),
        ) != creds:
            return self._deny(401, "bad credentials")
        token = self.server.token or "local-test-token"
        out = json.dumps({"accessToken": token}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(out)))
        self.end_headers()
        self.wfile.write(out)


class ArrowTestServer(ThreadingHTTPServer):
    """``with ArrowTestServer({"lineitem": path}) as url: ...``"""

    daemon_threads = True

    def __init__(
        self,
        tables: dict[str, str],
        *,
        token: str | None = None,
        credentials: tuple[str, str] | None = None,
        port: int = 0,
        throttle_s: float = 0.0,
        batch_rows: int = 0,
        compression: str | None = None,
        extra_endpoints: list[str] | None = None,
        truncate_after_batches: int | None = None,
        fail_first: int = 0,
        fail_status: int = 503,
    ):
        # every table is loaded once, before the socket is bound (a
        # missing file then fails construction without leaking a port);
        # each request runs on its own cursor of this one database
        self.db = duckdb.connect()
        for name, path in tables.items():
            quoted = path.replace("'", "''")
            self.db.execute(
                f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{quoted}')"
            )
        super().__init__(("127.0.0.1", port), _Handler)
        self.token = token
        self.credentials = credentials
        self.throttle_s = throttle_s
        self.batch_rows = batch_rows
        # IPC body compression ("zstd"/"lz4") for /v1/query responses
        self.compression = compression
        # fault injection: stop the IPC stream after N batches WITHOUT
        # the EOS marker (valid HTTP framing) — the torn-stream shape
        # the readers' EOS guard must catch
        self.truncate_after_batches = truncate_after_batches
        # advertised ahead of this server's own address in every split's
        # endpoints[] — lets tests plant dead/unreachable replicas to
        # exercise client-side failover
        self.extra_endpoints = list(extra_endpoints or [])
        # fault injection: answer the next N /v1/query or /v1/plan
        # requests with `fail_status` before running anything (503: a
        # transient failure clients retry; 4xx: one they must not).
        # Tests may re-arm it between phases.
        self.fail_first = fail_first
        self.fail_status = fail_status
        self._fail_lock = threading.Lock()
        # path of every GET, injected failures included
        self.requests: list[str] = []
        self.queries: list[str] = []
        self.cancelled: list[int] = []
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}"

    def start(self) -> "ArrowTestServer":
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.shutdown()
        if self._thread:
            self._thread.join(timeout=5)
        self.server_close()
        self.db.close()

    def __enter__(self) -> "ArrowTestServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
