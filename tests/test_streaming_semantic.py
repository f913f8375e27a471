"""Streaming semantic (embedding) screen vs the static cell index.

Laws pinned (the screen-family discipline):

- exactness anchor: a single-cell index makes the self-screen
  reproduce semantic_dedup_pairs(n_clusters=1) — the brute-force pair
  set — with BIT-IDENTICAL fold sims;
- production equivalence: with the SAME centroids and spill, the
  self-screen equals the batch clustered pipeline exactly;
- batch == stream; one-file-per-micro-batch arrival independence;
- pair uniqueness (first-shared-cell anchor) under spill;
- the pre-spill cell cap mirrors the batch oversize skip.
"""

from __future__ import annotations

import os

import pytest

from dazzleduck_sql_duckdb_spark.operators.similarity import (
    semantic_dedup_pairs,
    train_centroids,
)
from dazzleduck_sql_duckdb_spark.streaming import run_stream_to_memory
from dazzleduck_sql_duckdb_spark.streaming.dedup import (
    build_semantic_index,
    semantic_screen_stream,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

EMB_SCHEMA = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"


@pytest.fixture(scope="module")
def emb_dir(tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("emb_screen")
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    emb.repartition(3).write.mode("overwrite").parquet(str(d / "p"))
    return str(d / "p")


def _pairs(rows, lt=True):
    return {
        (r.vec_id, r.corpus_id): r.sim
        for r in rows
        if (r.vec_id < r.corpus_id) or not lt
    }


def test_screen_single_cell_equals_bruteforce(spark, emb_dir):
    emb = spark.read.parquet(emb_dir)
    idx = build_semantic_index(emb, n_clusters=1, spill=1)
    got = _pairs(
        semantic_screen_stream(emb, idx, threshold=0.4).collect()
    )
    want = {
        (r.vec_a, r.vec_b): r.sim
        for r in semantic_dedup_pairs(
            emb, n_clusters=1, threshold=0.4
        ).collect()
    }
    assert got == want and len(want) > 0  # bit-exact sims included


def test_screen_production_equals_batch_pipeline(spark, emb_dir):
    emb = spark.read.parquet(emb_dir)
    cents = train_centroids(emb, 8, iterations=2, seed=42)
    idx = build_semantic_index(emb, centroids=cents, spill=3)
    rows = semantic_screen_stream(emb, idx, threshold=0.4).collect()
    keys = [(r.vec_id, r.corpus_id) for r in rows]
    assert len(keys) == len(set(keys)), "spill leaked duplicate pairs"
    got = _pairs(rows)
    want = {
        (r.vec_a, r.vec_b): r.sim
        for r in semantic_dedup_pairs(
            emb, centroids=cents, threshold=0.4, spill=3
        ).collect()
    }
    assert got == want and len(want) > 0


def test_screen_stream_equals_batch_and_arrival_independent(
    spark, emb_dir
):
    emb = spark.read.parquet(emb_dir)
    idx = build_semantic_index(emb, n_clusters=4, spill=2)
    batch = sorted(
        map(
            tuple,
            semantic_screen_stream(emb, idx, threshold=0.4).collect(),
        )
    )

    def stream_rows(max_files):
        r = spark.readStream.schema(EMB_SCHEMA)
        if max_files:
            r = r.option("maxFilesPerTrigger", str(max_files))
        out = semantic_screen_stream(
            r.parquet(emb_dir), idx, threshold=0.4
        )
        name = f"sem_screen_{max_files or 'all'}"
        run_stream_to_memory(out, name, output_mode="append")
        return sorted(map(tuple, spark.table(name).collect()))

    assert stream_rows(None) == batch
    assert stream_rows(1) == batch
    assert len(batch) > 0


def test_screen_cell_cap_mirrors_batch_oversize_skip(spark, emb_dir):
    """Binding pre-spill cap: the screen must lose exactly the pairs
    the batch pipeline's oversize skip loses — found iff the pair
    shares a SURVIVING cell."""
    import numpy as np
    from pyspark.sql import functions as F

    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        _normalize,
        make_assign_udf,
    )

    emb = spark.read.parquet(emb_dir)
    cents = train_centroids(emb, 8, iterations=2, seed=42)
    assign = make_assign_udf(_normalize(np.asarray(cents)))
    prim = (
        emb.where(F.col("embedding").isNotNull())
        .select(assign("embedding").alias("cell"))
        .groupBy("cell").count().collect()
    )
    counts = sorted(r["count"] for r in prim)
    cap = counts[-2]  # binding: at least the largest cell is dropped
    idx = build_semantic_index(
        emb, centroids=cents, spill=3, max_cell_rows=cap
    )
    assert idx.capped_cells, "cap chosen to bind"
    got = _pairs(
        semantic_screen_stream(emb, idx, threshold=0.4).collect()
    )
    want = {
        (r.vec_a, r.vec_b): r.sim
        for r in semantic_dedup_pairs(
            emb, centroids=cents, threshold=0.4, spill=3,
            max_cluster_rows=cap,
        ).collect()
    }
    assert got == want


def test_batch_and_index_size_k_on_the_same_population(spark, monkeypatch):
    """semantic_dedup_pairs and build_semantic_index size K from the
    same population, the non-NULL vectors: 506 vectors plus one NULL
    give K = default_n_clusters(506) = 22 on both paths (counting the
    NULL row gives 23), so a self-screen still finds the batch pairs."""
    import random

    import numpy as np

    from dazzleduck_sql_duckdb_spark.operators import similarity as S

    trained = []

    def record(corpus, n_centroids, **kw):
        trained.append(n_centroids)
        return np.random.default_rng(0).standard_normal((n_centroids, 4))

    monkeypatch.setattr(S, "train_centroids", record)
    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(4)], 0) for i in range(506)]
    corpus = spark.createDataFrame(rows + [(506, None, 0)], EMB_SCHEMA)
    semantic_dedup_pairs(corpus)
    build_semantic_index(corpus)
    assert trained == [22, 22]
