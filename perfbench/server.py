"""Arrow HTTP server process for the remote_scan workload.

    python3 perfbench/server.py <sf_dir>

Serves `lineitem` and `orders` from <sf_dir> with the engine's
`ArrowTestServer`, prints its port on stdout, and runs until stdin is
closed, so it cannot outlive the benchmark that started it.

It counts, in this process, what it served: requests per endpoint,
response bytes and Arrow record batches. `GET /bench/stats` returns
the counts as JSON and is itself not counted.
"""

from __future__ import annotations

import json
import os
import sys
import threading

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyarrow as pa  # noqa: E402
import pyarrow.ipc  # noqa: E402,F401

from dazzleduck_sql_duckdb_spark.sources import local_server  # noqa: E402


class Counters:
    def __init__(self):
        self.lock = threading.Lock()
        self.requests: dict[str, int] = {}
        self.bytes = 0
        self.batches = 0

    def add(self, **kw) -> None:
        with self.lock:
            for k, v in kw.items():
                setattr(self, k, getattr(self, k) + v)

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "requests": dict(self.requests),
                "bytes": self.bytes,
                "batches": self.batches,
            }


COUNTERS = Counters()


class _CountingWriter:
    """Socket writer that counts the bytes of every response."""

    def __init__(self, raw):
        self.raw = raw

    def write(self, data):
        COUNTERS.add(bytes=len(data))
        return self.raw.write(data)

    def __getattr__(self, name):
        return getattr(self.raw, name)


class _CountingBatchWriter:
    def __init__(self, writer):
        self.writer = writer

    def write_batch(self, batch):
        COUNTERS.add(batches=1)
        return self.writer.write_batch(batch)

    def __getattr__(self, name):
        return getattr(self.writer, name)


def _counting_new_stream(sink, schema, *, options=None):
    return _CountingBatchWriter(_new_stream(sink, schema, options=options))


# The handler builds every /v1/query response through pa.ipc.new_stream;
# wrapping it in this dedicated process counts batches without touching
# the engine's code.
_new_stream = pa.ipc.new_stream
pa.ipc.new_stream = _counting_new_stream


class Handler(local_server._Handler):
    def setup(self):
        super().setup()
        self.wfile = _CountingWriter(self.wfile)

    def do_GET(self):  # noqa: N802
        path = self.path.split("?", 1)[0]
        if path == "/bench/stats":
            body = json.dumps(COUNTERS.snapshot()).encode()
            self.wfile.raw.write(
                b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
                + f"Content-Length: {len(body)}\r\n\r\n".encode()
                + body
            )
            return
        with COUNTERS.lock:
            COUNTERS.requests[path] = COUNTERS.requests.get(path, 0) + 1
        super().do_GET()


def main() -> int:
    sf_dir = sys.argv[1]
    tables = {
        t: os.path.join(sf_dir, f"{t}.parquet") for t in ("lineitem", "orders")
    }
    srv = local_server.ArrowTestServer(tables)
    srv.RequestHandlerClass = Handler
    srv.start()
    print(srv.server_address[1], flush=True)
    sys.stdin.read()  # returns at EOF: the benchmark closed our stdin
    srv.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
