"""Embedding entries: exact k-NN, IVF and IVF-PQ ANN with their recall
contracts, cosine near-dup and semantic dedup.
"""

from __future__ import annotations

from .dialect import SPARK
from .queries import q, spark_sql_for


def _dot(a: str, b: str, dialect: str) -> str:
    """Deterministic dot product of two float arrays: a left fold of
    the exact double products, in the same order in both engines."""
    if dialect == SPARK:
        prods = f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
        return f"aggregate({prods}, 0D, (acc, x) -> acc + x)"
    prods = (
        f"list_transform(range(1, len({a}) + 1),"
        f" i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)"
    )
    return f"list_reduce(list_prepend(0.0::DOUBLE, {prods}), (acc, x) -> acc + x)"


@q("embed_knn_bruteforce")
def _knn(d: str) -> str:
    # exact top-5 cosine neighbors for a query sample. Embeddings are
    # unit-norm so dot == cosine; the fold is deterministic in both
    # engines. Scale path: see operators/similarity.py (IVF probe).
    dot = _dot("q.qe", "e.embedding", d)
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 100 = 0),
pairs AS (
  SELECT q.qid, e.vec_id, {dot} AS sim
  FROM q JOIN embeddings e ON e.vec_id <> q.qid)
SELECT qid, vec_id, sim FROM (
  SELECT qid, vec_id, sim,
    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
  FROM pairs) t
WHERE rn <= 5
"""


def _ann_inputs(spark):
    """The embeddings and the ANN entries' query set (every 100th
    vector, the query sample of embed_knn_bruteforce)."""
    emb = spark.table("embeddings")
    return emb, emb.where("vec_id % 100 = 0")


def _ann_exact(spark):
    """The exact top-k of embed_knn_bruteforce as (qid, vec_id)."""
    return spark.sql(spark_sql_for("embed_knn_bruteforce")).select(
        "qid", "vec_id"
    )


def _ann_ivf_probed(spark):
    """The production IVF config's top-k: n_probe=4 of 8 cells, spill=2
    boundary replication."""
    from ..operators.similarity import ann_ivf_topk

    emb, queries = _ann_inputs(spark)
    return ann_ivf_topk(
        emb, queries, k=5, n_centroids=8, n_probe=4,
        query_id_col="qid", spill=2,
    ).select("qid", "vec_id")


# PQ knobs of the production IVF-PQ config, also emitted as gated
# columns by its entries.
_PQ = {"m_subspaces": 32, "n_codes": 64}


def _ann_ivfpq_probed(spark):
    """The production IVF-PQ config's top-k: the IVF probe plus _PQ
    codes and an exact rerank of refine=8 candidates per hit."""
    from ..operators.similarity import ann_ivfpq_topk

    emb, queries = _ann_inputs(spark)
    return ann_ivfpq_topk(
        emb, queries, k=5, n_centroids=8, n_probe=4,
        **_PQ, refine=8, spill=2,
        query_id_col="qid",
    ).select("qid", "vec_id")


def _pq_cols(pq: dict) -> tuple:
    from pyspark.sql import functions as F

    return tuple(F.lit(v).cast("int").alias(n) for n, v in pq.items())


def _pq_sql(pq: dict) -> str:
    if not pq:
        return ""
    cols = ", ".join(f"CAST({v} AS INT) AS {n}" for n, v in pq.items())
    return f"  {cols},\n"


def _build_ann_ivf_fullprobe(spark, sf_dir: str):
    from ..operators.similarity import ann_ivf_topk

    emb, queries = _ann_inputs(spark)
    return ann_ivf_topk(
        emb, queries, k=5, n_centroids=8, n_probe=8,
        query_id_col="qid", spill=1,
    )


@q("embed_ann_ivf_fullprobe", spark=_build_ann_ivf_fullprobe)
def _ann_ivf_fullprobe(d: str) -> str:
    """IVF ANN with n_probe == n_centroids: probing every cell makes IVF
    exactly equal to brute force REGARDLESS of centroid quality, so the
    entire IVF pipeline (sample -> Lloyd -> assign -> probe -> rerank)
    is verified by the brute-force oracle. The n_probe < n_centroids
    scale path is embed_ann_ivf_probed (hash-gated per-query
    differential)."""
    return _knn(d)  # identical result contract -> identical oracle


# Per-query recall floor for the production probed configs (IVF and
# IVF-PQ). Stricter in grain than ANN_RECALL_FLOOR (which bounds the
# aggregate): EVERY query must recover >= this fraction of its exact
# top-k. Measured per-query minima for both production configs
# (n_centroids=8, n_probe=4, spill=2; PQ adds m=32/n_codes=64/
# refine=8): 5/5 at sf0.001 and sf0.01, 4/5 at sf0.1 — floor 0.6
# (>= 3 of 5) leaves 2 hits of margin at gate scales and 1 at sf0.1,
# while a broken probe/assign/rerank stage (hits collapse toward
# corpus-random ~0.05 per query) trips every row.
ANN_PER_QUERY_FLOOR = 0.6


def _build_ann_ivf_probed_diff(spark, sf_dir: str):
    return _build_ann_per_query_diff(
        _ann_ivf_probed(spark), _ann_exact(spark), 5, 4
    )


def _ann_per_query_oracle(d: str, pq: dict) -> str:
    """Oracle of the per-query differential (_build_ann_per_query_diff)
    for k=5, n_probe=4, with the `pq` knobs as extra columns."""
    exact = _knn(d)
    return f"""
SELECT CAST(qid AS BIGINT) AS qid,
  CAST(5 AS BIGINT) AS n_found,
  CAST(count(*) AS BIGINT) AS n_exact,
  CAST(5 AS INT) AS k, CAST(4 AS INT) AS n_probe,
{_pq_sql(pq)}  TRUE AS recall_floor_met
FROM ({exact}) exact_topk
GROUP BY qid
"""


@q("embed_ann_ivf_probed", spark=_build_ann_ivf_probed_diff)
def _ann_ivf_per_query(d: str) -> str:
    """Hash-gated per-query differential for the production probed
    config (n_probe=4 of 8 cells, spill=2 boundary replication). The
    gated output is the per-query contract the oracle CAN predict: the
    probed path returns exactly k rows per query (n_found hashes as
    5), the exact top-k has exactly k rows per query (n_exact grounded
    in the brute-force SQL), and every query clears the per-query
    recall floor (Spark computes |probed ∩ exact| / |exact| for real;
    the oracle asserts TRUE). Stronger than the aggregate
    embed_ann_recall twin: a single collapsed query flips its own row.
    """
    return _ann_per_query_oracle(d, {})


# the production probed paths (IVF and IVF-PQ) must recover at least
# this fraction of the exact top-k over all queries. Measured for IVF
# (n_centroids=8, n_probe=4, spill=2) and for IVF-PQ (plus m=32,
# n_codes=64, refine=8): 1.0 / 1.0 / 0.93 at sf0.001 / 0.01 / 0.1 for
# both. Without spill the same probe fraction measured 0.74-0.84, so
# boundary replication is what buys the margin; at these knobs the PQ
# quantization loss is fully recovered by the refine rerank, leaving
# cell probing as the residual error term. The floor sits low enough
# to survive a testdata regeneration, high enough that a broken
# probe/assign/encode/ADC/rerank stage (recall collapses toward 0)
# trips it.
ANN_RECALL_FLOOR = 0.85


def _build_ann_ivf_recall(spark, sf_dir: str):
    return _build_ann_recall_diff(
        _ann_ivf_probed(spark), _ann_exact(spark), 5, 4
    )


def _ann_recall_oracle(d: str, pq: dict) -> str:
    """Oracle of the aggregate recall differential
    (_build_ann_recall_diff) for k=5, n_probe=4, with the `pq` knobs
    as extra columns."""
    exact = _knn(d)
    return f"""
SELECT CAST(nq AS BIGINT) AS n_queries,
  CAST(n_exact AS BIGINT) AS n_exact,
  CAST(5 AS INT) AS k, CAST(4 AS INT) AS n_probe,
{_pq_sql(pq)}  n_exact > 0 AS recall_ge_floor
FROM (
  SELECT count(DISTINCT qid) AS nq, count(*) AS n_exact
  FROM ({exact}) exact_topk)
"""


@q("embed_ann_recall", spark=_build_ann_ivf_recall)
def _ann_recall(d: str) -> str:
    """Hash-gated recall floor for the approximate (n_probe < n_cells)
    ANN path — the aggregate companion to `embed_ann_ivf_probed`'s
    per-query differential. Spark computes recall = |probed top-k
    INTERSECT exact top-k| / |exact top-k| for real (the builder runs
    BOTH pipelines); the oracle grounds n_queries/n_exact in the same
    data via the brute-force SQL and asserts the floor holds, so a
    probe/assign/rerank regression flips `recall_ge_floor` and breaks
    the hash. Differential-vs-exact pattern after the reference's split
    test (test/sql/dd_read_arrow_split.test_slow:40-62)."""
    return _ann_recall_oracle(d, {})


def _build_ann_per_query_diff(probed, exact, k: int, n_probe: int,
                              extra_cols=()):
    """Shared per-query differential plan for the production ANN
    entries (embed_ann_ivf_probed / embed_ann_ivfpq): per-query found
    count, exact count, and the per-query recall-floor boolean, all
    computed in-plan (broadcast-sized aggregates over the 5-25 query
    keys — no driver-side collect)."""
    from pyspark.sql import functions as F

    found = probed.groupBy("qid").agg(F.count(F.lit(1)).alias("n_found"))
    ex = exact.groupBy("qid").agg(F.count(F.lit(1)).alias("n_exact"))
    hits = probed.join(exact, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    cols = [
        F.col("qid").cast("long").alias("qid"),
        F.coalesce(F.col("n_found"), F.lit(0)).cast("long")
        .alias("n_found"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.lit(k).cast("int").alias("k"),
        F.lit(n_probe).cast("int").alias("n_probe"),
        *extra_cols,
        (
            F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_exact")
            >= F.lit(ANN_PER_QUERY_FLOOR)
        ).alias("recall_floor_met"),
    ]
    return (
        ex.join(found, "qid", "left").join(hits, "qid", "left").select(*cols)
    )


def _build_ann_recall_diff(probed, exact, k: int, n_probe: int,
                           extra_cols=()):
    """Shared aggregate-recall plan for the production ANN entries
    (embed_ann_recall / embed_ann_ivfpq_recall): the query and exact
    counts, and whether |probed INTERSECT exact| / |exact| clears
    ANN_RECALL_FLOOR, computed in-plan."""
    from pyspark.sql import functions as F

    stats = exact.agg(
        F.count_distinct("qid").alias("nq"), F.count(F.lit(1)).alias("n_exact")
    )
    hits = probed.join(exact, ["qid", "vec_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return stats.crossJoin(hits).select(
        F.col("nq").cast("long").alias("n_queries"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.lit(k).cast("int").alias("k"),
        F.lit(n_probe).cast("int").alias("n_probe"),
        *extra_cols,
        (
            (F.col("n_hits") / F.col("n_exact")) >= F.lit(ANN_RECALL_FLOOR)
        ).alias("recall_ge_floor"),
    )


def _build_ann_ivfpq_diff(spark, sf_dir: str):
    return _build_ann_per_query_diff(
        _ann_ivfpq_probed(spark), _ann_exact(spark), 5, 4,
        extra_cols=_pq_cols(_PQ),
    )


@q("embed_ann_ivfpq", spark=_build_ann_ivfpq_diff)
def _ann_ivfpq(d: str) -> str:
    """Hash-gated per-query differential for the production IVF-PQ
    config (ADC scan over residual-PQ codes, exact rerank of the
    bounded candidate set — operators/similarity.py ann_ivfpq_topk;
    n_probe=4, m=32, n_codes=64, refine=8, spill=2). Same shape as
    embed_ann_ivf_probed: gates per-query n_found == k, n_exact grounded in
    the brute-force oracle, and the per-query recall floor. The
    fullprobe-covering-refine equality law stays pinned in
    tests/test_similarity.py."""
    return _ann_per_query_oracle(d, _PQ)


def _build_ann_ivfpq_fullprobe(spark, sf_dir: str):
    from ..operators.similarity import ann_ivfpq_topk

    emb, queries = _ann_inputs(spark)
    return ann_ivfpq_topk(
        emb, queries, k=5, n_centroids=8, n_probe=8,
        **_PQ, refine=1000,
        query_id_col="qid",
    )


@q("embed_ann_ivfpq_fullprobe", spark=_build_ann_ivfpq_fullprobe)
def _ann_ivfpq_fullprobe(d: str) -> str:
    """IVF-PQ with n_probe == n_centroids and a refine window covering
    the corpus (k*refine >= n_vectors at every gate SF): the ADC stage
    then only reorders scanning and the exact rerank (raw vectors,
    dimension-major fold) decides everything, so the result is EXACTLY
    the brute-force top-k — the degradation law that anchors the
    uncompressed path (embed_ann_ivf_fullprobe), here hash-gating the
    full PQ encode -> ADC -> rerank pipeline against the brute-force
    oracle. The law is also pinned in tests/test_similarity.py
    (test_ivfpq_fullprobe_covering_refine_equals_exact)."""
    return _knn(d)  # identical result contract -> identical oracle


def _build_ann_ivfpq_recall(spark, sf_dir: str):
    return _build_ann_recall_diff(
        _ann_ivfpq_probed(spark), _ann_exact(spark), 5, 4,
        extra_cols=_pq_cols(_PQ),
    )


@q("embed_ann_ivfpq_recall", spark=_build_ann_ivfpq_recall)
def _ann_ivfpq_recall(d: str) -> str:
    """Hash-gated recall floor for the IVF-PQ path — the quality metric
    for `embed_ann_ivfpq` (aggregate companion to its per-query
    differential). Same
    differential-vs-exact shape as embed_ann_recall: Spark runs BOTH
    pipelines for real; the oracle grounds n_queries/n_exact in the
    same data via the brute-force SQL and asserts the floor."""
    return _ann_recall_oracle(d, _PQ)


# Near-dup cosine threshold for the GATED embedding entries. The
# production default stays 0.99 (operators/similarity.py, pytest-
# verified with planted pairs); the corpus however contains no pair
# above cos ~0.51 (max same-label cos: 0.475 at sf0.01, 0.449 at
# sf0.001), so a 0.99 gate returns 0 rows on both sides — vacuous.
# 0.402 sits in the
# corpus's top-pair band (sf0.01: 5 pairs, nearest excluded 0.3983;
# sf0.001: 4 pairs, nearest excluded 0.40104) with both engines
# computing bit-identical double sims (same fold order), so the
# threshold comparison is deterministic.
_EMBED_NEARDUP_T = 0.402


@q("embed_cosine_neardup")
def _embed_neardup(d: str) -> str:
    dot = _dot("a.embedding", "b.embedding", d)
    return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {dot} AS sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {dot} >= {_EMBED_NEARDUP_T}
"""


_SEMDEDUP_T = 0.4      # semantic-similarity threshold (sub-near-dup:
                       # the corpus' max pairwise cosine is ~0.51, so
                       # 0.4 selects the genuinely-related tail the
                       # way SemDeDup prunes semantic redundancy)
_SEMDEDUP_K = 8        # production cluster count at gate scale
_SEMDEDUP_SPILL = 3    # boundary replication (recall 0.97 measured)


def _build_semdedup_diff(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..operators.similarity import semantic_dedup_pairs

    emb = spark.table("embeddings")
    truth = semantic_dedup_pairs(
        emb, n_clusters=1, threshold=_SEMDEDUP_T
    ).select("vec_a", "vec_b")
    found = semantic_dedup_pairs(
        emb, n_clusters=_SEMDEDUP_K, threshold=_SEMDEDUP_T,
        spill=_SEMDEDUP_SPILL,
    ).select("vec_a", "vec_b")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    fp = found.join(truth, ["vec_a", "vec_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_false_positives")
    )
    hits = found.join(truth, ["vec_a", "vec_b"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return n_truth.crossJoin(fp).crossJoin(hits).select(
        F.col("n_truth").cast("long").alias("n_truth"),
        F.col("n_false_positives").cast("long").alias("n_false_positives"),
        F.lit(_SEMDEDUP_K).cast("int").alias("n_clusters"),
        F.lit(_SEMDEDUP_SPILL).cast("int").alias("spill"),
        F.lit(_SEMDEDUP_T).cast("double").alias("threshold"),
        (F.col("n_hits") / F.col("n_truth") >= F.lit(0.5))
        .alias("recall_ge_floor"),
    )


@q("embed_semantic_dedup", spark=_build_semdedup_diff)
def _semdedup(d: str) -> str:
    """Hash-gated precision+recall contract for the production
    SemDeDup config (Abbas et al. 2023: k-means cells, then similar
    pairs WITHIN each cell only — operators/similarity.py
    semantic_dedup_pairs). The gated output is the differential the
    oracle CAN predict. Precision arm: within-cell cosines are exact, so
    found ⊆ truth by construction — n_false_positives hashes as
    EXACTLY 0 and any emitted non-truth pair breaks the hash (an arm
    the recall twin lacks). Recall arm: floor 0.5 (measured 0.970 /
    1.0 / 0.954 at sf0.001/0.01/0.1 with spill=3). n_truth is
    grounded in the brute-force pair SQL. embed_semantic_dedup_exact
    still hash-gates the n_clusters=1 pipeline pair-for-pair."""
    dot = _dot("a.embedding", "b.embedding", d)
    return f"""
SELECT CAST(n_truth AS BIGINT) AS n_truth,
  CAST(0 AS BIGINT) AS n_false_positives,
  CAST({_SEMDEDUP_K} AS INT) AS n_clusters,
  CAST({_SEMDEDUP_SPILL} AS INT) AS spill,
  CAST({_SEMDEDUP_T} AS DOUBLE) AS threshold,
  n_truth > 0 AS recall_ge_floor
FROM (
  SELECT count(*) AS n_truth
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {dot} >= {_SEMDEDUP_T}) t
"""


def _build_semdedup_exact(spark, sf_dir: str):
    from ..operators.similarity import semantic_dedup_pairs

    return semantic_dedup_pairs(
        spark.table("embeddings"), n_clusters=1, threshold=_SEMDEDUP_T,
    )


@q("embed_semantic_dedup_exact", spark=_build_semdedup_exact)
def _semdedup_exact(d: str) -> str:
    """Exactness anchor for SemDeDup: n_clusters=1 disables the
    cluster pruning, so the operator's full pipeline (assignment UDF,
    per-cell blocked fold scoring, triangular pair emission) must
    reproduce the FULL brute-force pair set BIT-EXACTLY (the fold-dot
    discipline); the 500-row gate table keeps the oracle's n^2
    affordable."""
    dot = _dot("a.embedding", "b.embedding", d)
    return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {dot} AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {dot} >= {_SEMDEDUP_T}
"""


def _build_semdedup_recall(spark, sf_dir: str):
    from ..operators.similarity import semantic_dedup_pairs

    emb = spark.table("embeddings")
    truth = semantic_dedup_pairs(
        emb, n_clusters=1, threshold=_SEMDEDUP_T
    ).count()
    found = semantic_dedup_pairs(
        emb, n_clusters=_SEMDEDUP_K, threshold=_SEMDEDUP_T,
        spill=_SEMDEDUP_SPILL,
    ).count()
    recall = found / truth if truth else 1.0
    assert recall >= 0.5, (
        f"semantic dedup recall {recall:.3f} under the 0.5 floor"
    )
    return spark.createDataFrame(
        [(truth, _SEMDEDUP_K, _SEMDEDUP_SPILL, _SEMDEDUP_T, truth > 0)],
        "n_truth BIGINT, n_clusters INT, spill INT, threshold DOUBLE,"
        " recall_ge_floor BOOLEAN",
    )


@q("embed_semantic_dedup_recall", spark=_build_semdedup_recall)
def _semdedup_recall(d: str) -> str:
    """Hash-gated recall floor for the production SemDeDup config —
    the aggregate companion to `embed_semantic_dedup`, which gates
    its own precision+recall contract (this twin keeps the
    explicit floor assert). Same shape as embed_ann_ivfpq_recall: Spark
    runs BOTH the clustered and the exact pipelines for real; the
    oracle grounds n_truth in the same data via the brute-force SQL
    and asserts the floor. The floor is 0.5: SemDeDup trades recall
    for tractability by construction (cross-cluster pairs are missed),
    and the paper's useful operating range keeps a majority of the
    similarity mass; the production spill=3 config measures 0.97 at
    the gate scale (spill=1 would sit at 0.33 — the boundary
    replication IS the recall)."""
    dot = _dot("a.embedding", "b.embedding", d)
    return f"""
SELECT CAST(n_truth AS BIGINT) AS n_truth,
  CAST({_SEMDEDUP_K} AS INT) AS n_clusters,
  CAST({_SEMDEDUP_SPILL} AS INT) AS spill,
  CAST({_SEMDEDUP_T} AS DOUBLE) AS threshold,
  n_truth > 0 AS recall_ge_floor
FROM (
  SELECT count(*) AS n_truth
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {dot} >= {_SEMDEDUP_T}) t
"""
