"""SparkSession factory tuned for the engine.

Local-mode defaults match the bench/test environment (single JVM,
``local[N]`` threads); the knobs below are the ones that matter at
cluster scale too:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- shuffle partitions sized to cores locally (cluster: set to ~2-3x
  total executor cores via ``extra_conf``)
- Arrow transfer on for every pandas-UDF / toPandas boundary
- UTC session timezone (oracle comparisons against DuckDB require it)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(
    app_name: str = "dazzleduck_sql_duckdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    if master is None:
        master = f"local[{_DEF_CPUS}]"
    if shuffle_partitions is None:
        cpus = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # static conf: the compiled-codegen class cache defaults to 100
        # entries; a 36-query catalog with several codegen units each
        # thrashes it, so every re-run of a query pays Janino compile
        # again (~0.3-1s/query measured at sf0.1). Long-lived executors
        # on a real cluster keep this cache hot; size it so the local
        # bench does too.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Register every testdata parquet table as a temp view; return the dict.

    Tables: region nation customer supplier part orders lineitem events
    documents embeddings (see /root/repo/TESTDATA.md).
    """
    names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(n)
            out[n] = df
    return out
