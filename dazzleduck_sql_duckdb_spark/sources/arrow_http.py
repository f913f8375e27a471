"""`dd_read_arrow` — Arrow-IPC-over-HTTP scans served by the JVM DSv2
reader (`scala/DdArrowShim.scala`, format ``dd_arrow_dsv2``).

The builders here only shape remote SQL and reader options; the schema
probe, split planning, HTTP, IPC decoding and pushdown all run in the
JVM, so no Python worker starts for a remote scan. Behavioral parity
with the reference's table function
(src/scanner/read_arrow_dd.cpp:880-898):

==============================  =========================================
Reference mechanism             This implementation (DdArrowShim.scala)
==============================  =========================================
Bind() full-fetch for schema    ``inferSchema`` probes with ``LIMIT 0``
  (read_arrow_dd.cpp:299-391,     on the driver JVM (only the schema
  buffers whole body)             message crosses the wire)
split plan fetch + atomic       ``planInputPartitions`` fetches /v1/plan;
  work-stealing threads           one ``InputPartition`` per split, Spark's
  (:158-190, :84-92)              task scheduler replaces the claim counter
projection pushdown             ``pruneColumns``: the remote SELECT list
  (:246-262, :296)                names only the columns Catalyst needs
filter pushdown -> SQL WHERE    ``pushPredicates`` / ``DdSql.translate``;
  (FilterToSQL :198-238;          untranslatable predicates stay post-scan
  unsupported stay local :234)    — the same partial-pushdown contract
aggregation pushdown            ``pushAggregation`` (complete, or split
  (aggregation_pushdown.cpp,      partials merged by Spark); aggregate
  ExpressionToSQL :56-149)        arguments go through ``DdSql.translate``
                                  too; ``dd_read_arrow_agg`` is a
                                  ``groupBy().agg()`` over the reader
per-split HTTP fetch, whole     ``DdColumnarReader`` streams Arrow batches
  body buffered in memory         into ``ColumnarBatch``es (bounded memory;
  (http_stream_factory.cpp:20)    zstd/lz4 bodies decoded by arrow-java)
httpfs retry defaults           ``HttpRetries``/``HttpBackoffMs``: 5xx and
                                  failed connections retry with backoff,
                                  4xx never; data opens use a fresh query
                                  id per attempt and rotate replicas
query-id per query/split        random int63 ids, same role
  (:347-351, :457-466)
cancel monitor thread firing    close() mid-stream fires GET /v1/cancel on
  GET /v1/cancel (:103-157)       top of the connection drop; a JVM
                                  shutdown hook sweeps in-flight readers
==============================  =========================================

A stream that ends without the Arrow EOS marker (a torn response) and a
replica answering in another column order both fail the task instead of
yielding short or swapped results.

Usage::

    sources.register(spark)      # ADD JAR, once per SparkContext
    df = dd_read_arrow(spark, "http://host:8080", source_table="lineitem",
                       split=True, auth_token=token)
"""

from __future__ import annotations

import json

from ..jvm import register


def _quote_key(k: str) -> str:
    return '"' + k.strip().replace('"', '""') + '"'


def _base_query(
    sql: str | None, source_table: str | None, columns: list[str] | None
) -> str:
    # exactly one of sql/source_table (read_arrow_dd.cpp:327-335);
    # source_table wraps as SELECT * (:339-345)
    if bool(sql) == bool(source_table):
        raise ValueError(
            "dd_read_arrow: exactly one of `sql` or `source_table` required"
        )
    base = sql if sql else f"SELECT * FROM {source_table}"
    if columns:
        # the quoted-identifier template the reference emits when DuckDB
        # prunes (read_arrow_dd.cpp:246-262, :296)
        quoted = ", ".join(_quote_key(c) for c in columns)
        base = f"SELECT {quoted} FROM ({base}) AS _subq"
    return base


def _reader(spark, url: str, query: str, auth_token, split, split_size):
    if not url:
        raise ValueError("dd_read_arrow: `url` is required")
    register(spark)
    r = (
        spark.read.format("dd_arrow_dsv2")
        .option("url", url)
        .option("query", query)
    )
    if auth_token:
        r = r.option("token", auth_token)
    if split:
        r = r.option("split", "true")
    if split_size:
        r = r.option("split_size", str(split_size))
    return r


def dd_read_arrow(
    spark,
    url: str,
    *,
    sql: str | None = None,
    source_table: str | None = None,
    auth_token: str | None = None,
    split: bool = False,
    split_size: int | None = None,
    columns: list[str] | None = None,
    select: list[str] | None = None,
    schema=None,
):
    """DataFrame builder mirroring the table-function signature
    (read_arrow_dd.cpp:880-891).

    Downstream ``.select``/``.filter``/``.agg`` push into the remote SQL
    on their own. `select` (alias: `columns`) still fixes the remote
    SELECT list explicitly — the frame then has exactly those columns.

    `schema` (a StructType) skips the LIMIT-0 probe. The reader asks the
    server for every declared column BY NAME, so a stale override in
    another column order still reads correct values.
    """
    if columns and select:
        raise ValueError("dd_read_arrow: pass `select` or `columns`, not both")
    r = _reader(
        spark, url, _base_query(sql, source_table, select or columns),
        auth_token, split, split_size,
    )
    if schema is not None:
        r = r.schema(schema)
    return r.load()


def dd_read_arrow_narrow(spark, url: str, plan_fn, **options):
    """``plan_fn(dd_read_arrow(spark, url, **options))``.

    The reference prunes remote columns transparently inside DuckDB's
    optimizer (read_arrow_dd.cpp:246-262,296); the DSv2 reader does the
    same through Catalyst's column pruning, so the remote SELECT list of
    the returned plan already names only the columns ``plan_fn`` reads.
    Kept so callers written against the explicit spelling keep working.
    """
    return plan_fn(dd_read_arrow(spark, url, **options))


def dd_read_arrow_agg(
    spark,
    url: str,
    *,
    source_table: str | None = None,
    sql: str | None = None,
    aggs: dict[str, str],
    group_by: list[str] | None = None,
    where: str | None = None,
    auth_token: str | None = None,
    split: bool = False,
    split_size: int | None = None,
):
    """``dd_read_arrow(...).groupBy(*group_by).agg(*aggs)``, with the
    aggregate pushed to the server by the reader like any other
    aggregate over it.

    `aggs` maps output alias -> Spark SQL aggregate expression, e.g.
    ``{"n": "count(*)", "sum_qty": "sum(l_quantity)"}``; `group_by`
    columns come first in the output. `where` is a server-dialect
    predicate over the base relation, applied on the server before
    anything else (``SELECT * FROM (<base>) AS _subq WHERE <where>``).

    The reference rewrites a host-side aggregate over a remote scan
    into ``SELECT <aggs> FROM (<orig>) AS _subq [GROUP BY ..]``
    (src/optimizer/aggregation_pushdown.cpp:247-418); the reader does
    the same through Catalyst's aggregate pushdown. Without splits the
    server computes the final aggregate. With ``split=True`` each split
    computes partials over its slice and Spark merges them (avg rides
    along as sum and count partials). When any aggregate cannot be
    pushed — ``count(DISTINCT ..)`` in split mode, a function the
    reader cannot translate — Spark aggregates the raw rows instead,
    with the same result
    (dd_read_arrow_aggregation_pushdown_split.test_slow:84-141).
    """
    from pyspark.sql import functions as F

    if not aggs:
        raise ValueError("dd_read_arrow_agg: `aggs` must not be empty")
    base = _base_query(sql, source_table, None)
    if where:
        base = f"SELECT * FROM ({base}) AS _subq WHERE {where}"
    df = dd_read_arrow(
        spark, url, sql=base, auth_token=auth_token, split=split,
        split_size=split_size,
    )
    return df.groupBy(*(group_by or [])).agg(
        *[F.expr(e).alias(a) for a, e in aggs.items()]
    )


def dd_splits(
    spark,
    url: str,
    *,
    sql: str | None = None,
    source_table: str | None = None,
    auth_token: str | None = None,
    split_size: int | None = None,
):
    """Split introspection: one row per split the server would plan
    (dd_splits.cpp:74-91 column contract). The plan is fetched by the
    JVM reader's client (same retry) and returned as a local relation
    built from a pyarrow table, so collecting it starts no Python
    worker."""
    import pyarrow as pa

    if bool(sql) == bool(source_table):
        raise ValueError("dd_splits: exactly one of `sql` or `source_table`")
    register(spark)
    wire = spark._jvm.org.apache.spark.sql.dazzleduck.DdWire
    plan = json.loads(
        wire.planJson(url, sql or f"SELECT * FROM {source_table}",
                      split_size or 0, auth_token or "")
    )
    if not plan:  # 0 splits is a plan error (read_arrow_dd.cpp:453-455)
        raise RuntimeError("dd_splits: server returned no splits")
    handles = [e.get("descriptor", {}).get("statementHandle", {}) for e in plan]
    table = pa.table(
        {
            "endpoints": pa.array(
                [e.get("endpoints", []) for e in plan], pa.list_(pa.string())
            ),
            "query_id": pa.array(
                [int(h.get("queryId", 0)) for h in handles], pa.int64()
            ),
            "query": pa.array([h.get("query", "") for h in handles], pa.string()),
            "producer_id": pa.array(
                [str(h.get("producerId", "")) for h in handles], pa.string()
            ),
            "split_size": pa.array(
                [int(h.get("splitSize", 0)) for h in handles], pa.int64()
            ),
            "query_checksum": pa.array(
                [str(h.get("queryChecksum", "")) for h in handles], pa.string()
            ),
        }
    )
    return spark.createDataFrame(table)
