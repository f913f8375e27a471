"""Storage-layout operators: bucketed tables for shuffle-free joins.

The reference is read-only (SURVEY.md §2.1 S5: no sink), so this module
is engine-added capability: the write path a 100 TB deployment needs so
that repeated joins/aggregations on the same key do NOT re-shuffle the
fact table every query.

- ``write_bucketed``: persist a DataFrame hash-bucketed (and optionally
  sorted) by the join/aggregation key. Spark records the bucketing in
  the catalog; subsequent equi-joins or groupBys on that key read
  co-located buckets and skip the Exchange entirely (asserted in
  tests/test_storage.py from the physical plan).
- ``write_partitioned``: directory-partitioned parquet for coarse
  pruning columns (date, tenant) — partition pruning happens at file
  listing, before any I/O.

Rule of thumb at scale: partition by the column you FILTER on
(low-cardinality, coarse), bucket by the column you JOIN on
(high-cardinality key), and pick bucket counts that keep each bucket
in the 100-500 MB range at the target data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str] | str,
    n_buckets: int,
    sort_cols: list[str] | str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Save as a bucketed (+sorted) table. `path` makes it external
    (explicit location, independent of the session's warehouse dir)."""
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.mode(mode).bucketBy(n_buckets, cols[0], *cols[1:])
    if sort_cols:
        s = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(s[0], *s[1:])
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_cols: list[str] | str,
    mode: str = "overwrite",
) -> None:
    """Save as directory-partitioned parquet (partition-pruned scans)."""
    cols = (
        [partition_cols]
        if isinstance(partition_cols, str)
        else list(partition_cols)
    )
    df.write.mode(mode).partitionBy(*cols).parquet(path)


def zorder_value(
    cols: list,
    mins: list[float],
    maxs: list[float],
    bits: int = 16,
):
    """Morton (Z-order) key for up to 4 columns as a pure JVM Column
    expression: each column is quantized to ``bits`` levels over its
    [min, max] range, then the quantized integers are bit-interleaved
    (column 0 owns the most-significant lane). Sorting/range-
    partitioning by this key clusters rows that are close in EVERY
    dimension into the same parquet row groups, so min/max stats
    prune multi-column predicates — the layout move for a 100 TB
    fact table queried on several independent columns (single-column
    sort keys only skip on their leading column).

    Engine-added (the reference is a read-only scanner); the
    construction mirrors the Z-ordering of lakehouse table formats.
    Deterministic arithmetic only (floor + bit ops), so the DuckDB
    oracle computes the identical key. NULLs quantize to bucket 0
    (sorts first, the usual stats-friendly choice)."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    if not 1 <= len(cols) <= 4:
        raise ValueError("zorder_value supports 1..4 columns")
    if bits * len(cols) > 63:
        raise ValueError("bits * n_cols must fit a signed 64-bit key")
    n = len(cols)
    levels = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for ci, (c, lo, hi) in enumerate(zip(cols, mins, maxs)):
        col = c if isinstance(c, Column) else F.col(c)
        span = float(hi) - float(lo)
        qf = (col.cast("double") - float(lo)) / F.lit(
            span if span > 0 else 1.0
        )
        q = F.least(
            F.lit(levels),
            F.greatest(F.lit(0), F.floor(qf * levels).cast("long")),
        )
        q = F.coalesce(q, F.lit(0))
        # interleave: bit b of column ci lands at position b*n + (n-1-ci)
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(q, b).bitwiseAND(F.lit(1)),
                b * n + (n - 1 - ci),
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    *,
    zorder_cols: list[str],
    mins: list[float],
    maxs: list[float],
    bits: int = 16,
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist parquet Z-ordered on ``zorder_cols``: range-partition by
    the Morton key (balanced output files via range sampling), sort
    within each partition, drop the key. Every output row group then
    covers a small hyper-rectangle of the key space, and a filter on
    ANY subset of the z-columns prunes row groups by min/max stats
    (measured in tests/test_storage.py: the row-group-level skip rate
    vs the same data written in arrival order)."""
    from pyspark.sql import functions as F

    z = zorder_value(zorder_cols, mins, maxs, bits=bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    *,
    target_mb: int = 256,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> dict:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~``target_mb`` each — the housekeeping move every incremental
    ingest needs at scale (a 100 TB table fed by streaming
    micro-batches accretes millions of KB-sized files; scan planning,
    file listing, and row-group stats all degrade long before I/O
    does). File count = ceil(current_bytes / target_mb), derived from
    the source listing, so the rewrite is ONE shuffle-free coalesce
    when shrinking (or a repartition when ``sort_cols`` asks for
    clustering — sorted compaction re-establishes min/max stat
    locality as a bonus). Returns {files_before, files_after,
    bytes_before} for observability; row fidelity is asserted in
    tests/test_storage.py."""
    import glob as g
    import math
    import os

    files = [
        f for f in g.glob(os.path.join(src_path, "**", "*.parquet"),
                          recursive=True)
    ]
    if not files:
        raise ValueError(f"no parquet files under {src_path}")
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(src_path)
    if sort_cols:
        out = df.repartitionByRange(n_out, *sort_cols)
        out = out.sortWithinPartitions(*sort_cols)
    else:
        out = df.coalesce(n_out)
    out.write.mode(mode).parquet(dst_path)
    after = len(
        g.glob(os.path.join(dst_path, "**", "*.parquet"),
               recursive=True)
    )
    return {
        "files_before": len(files),
        "files_after": after,
        "bytes_before": total,
    }


def _save_index_dir(path: str, fmt: str, tables: dict, meta: dict,
                    query_only: bool = False) -> None:
    """Write a persisted index: each table that is not None as parquet
    at <path>/<name>, then its model state as <path>/meta.json, tagged
    with `"format": fmt`. A query-only (legacy-loaded) index is refused:
    re-saving would write meta WITHOUT the legacy marker and launder
    the unknown cap policy into an "uncapped" modern index, the exact
    hazard query-only load exists to contain."""
    import json
    import os

    if query_only:
        raise ValueError(
            "refusing to save a query-only (legacy-loaded) index — "
            "rebuild it to make it persistable"
        )
    for name, df in tables.items():
        if df is not None:
            df.write.mode("overwrite").parquet(os.path.join(path, name))
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump({"format": fmt, **meta}, f)


def _load_index_dir(spark, path: str, fmt: str, what: str):
    """Read back a _save_index_dir directory: its meta dict and a reader
    of its tables by name. Raises "not <what>: <path>" unless meta.json
    carries the format tag `fmt`."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("format") != fmt:
        raise ValueError(f"not {what}: {path}")
    return meta, lambda name: spark.read.parquet(os.path.join(path, name))
