"""Similarity search over embedding columns: exact top-k and IVF ANN.

Beyond the reference's surface (it has no vector operators) — these are
the training-data-pipeline operators the engine adds, designed for the
100 TB contract:

- **Brute-force cosine top-k** (the correctness baseline): broadcast the
  (small) query set against the full corpus — one pass, no shuffle of
  the corpus, exact. Cost O(|corpus| * |queries| * dim): fine for
  evaluation samples, not for all-pairs at scale.
- **IVF (inverted-file) ANN** (the scale path): sample + Lloyd-refine
  coarse centroids (driver holds only `n_centroids * dim` floats — the
  classic IVF coarse quantizer, bounded regardless of corpus size),
  assign every vector to its nearest centroid (one numpy pandas-UDF pass,
  no shuffle), then probe only the `n_probe` nearest cells per query:
  the candidate join is an equi-join on `cell`, so Spark hash-partitions
  by cell instead of broadcasting the corpus. Search cost drops by
  ~n_centroids/n_probe; recall is tunable with n_probe (n_probe ==
  n_centroids degrades gracefully to exact).
- **Embedding near-dup pairs via sign-LSH**: random-hyperplane SimHash
  bits, banded buckets, exact cosine verify — same
  candidates-then-verify shape as MinHash dedup (operators/dedup.py),
  never the n^2 pair space.

All kernels are numpy over Arrow batches (pandas UDFs); dot products on
unit-normalized vectors equal cosine similarity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _as_matrix(series: pd.Series, dim: int) -> np.ndarray:
    return np.vstack(
        [np.asarray(v, dtype=np.float64) for v in series]
    ) if len(series) else np.empty((0, dim))


def _normalize(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


# The evaluation-sample guard: both top-k operators ship the query set
# into the scoring kernel's closure (the same bounded-driver-state
# pattern as IVF centroids). A query set past these bounds is not an
# evaluation sample and should be chunked by the caller. The BYTE bound
# is the one that matters at real embedding widths: 200k rows at dim 64
# is ~100 MB, but at dim 768 it would be ~1.2 GB pickled into every
# task closure — cap the matrix itself, not just the row count.
MAX_CLOSURE_QUERIES = 200_000
MAX_CLOSURE_QUERY_BYTES = 64 * 1024 * 1024


def _fold_scores(V: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(b x dim) corpus block x (nq x dim) queries -> (b x nq) dots with
    the SEQUENTIAL fold's float semantics: for every pair, acc_0 = 0.0,
    acc_{j+1} = acc_j + v_j * q_j in IEEE double, left to right — the
    exact operation order of the SQL twin's list fold, so results are
    bit-identical to it and the DuckDB oracle hashes hold. Accumulating
    one dimension at a time over the whole (b x nq) block keeps that
    order while doing b*nq FMAs per step in vectorized numpy — the
    blocked-matmul cost profile without matmul's pairwise-summation
    float drift."""
    S = np.zeros((V.shape[0], Q.shape[0]), dtype=np.float64)
    for j in range(V.shape[1]):
        S += np.outer(V[:, j], Q[:, j])
    return S


def _make_topk_kernel(
    qids: np.ndarray,
    k: int,
    make_score,
    *,
    payload: str,
    dtype,
    id_col: str,
    query_id_col: str,
    exclude_self: bool,
    cell_to_q: dict | None = None,
    score_col: str = "sim",
):
    """mapInPandas kernel of exact, IVF and IVF-PQ search: score a
    corpus partition against the closure query set and emit the
    partition-local top-k per query.

    ``make_score()`` runs once per task and returns
    ``score(X, qsel, cell)``: the (rows x queries) scores of the
    ``payload`` rows X (decoded as ``dtype``) against the queries
    ``qsel`` — the sequential fold for exact and IVF search, ADC
    lookups for IVF-PQ. Building it in the task keeps derived per-query
    tables (the ADC lookup tables, n_queries * m * n_codes doubles) out
    of the pickled closure.

    Per batch: score, per-query k-th-value cut via np.partition (ties
    at the boundary are kept and resolved exactly in the pandas
    compaction, which sorts by (score desc, id asc) — the final
    window's total order), then the bounded carry is compacted. With
    `cell_to_q`, each corpus row is scored only against the queries
    probing its cell (the IVF candidate structure) — the rows arrive
    pre-exploded by cell, so a spilled vector scores once per indexed
    cell and the compaction keeps its best (query, id) row. Output is
    at most n_queries * k rows (+ boundary ties pre-compaction) per
    partition: the global top-k window sorts thousands of rows, not
    the candidate stream (625M candidates at 250k x 2500 full probe
    previously funneled into one straggler sort task)."""

    def _cut(S: np.ndarray, ids: np.ndarray, qid_sel: np.ndarray):
        b = S.shape[0]
        if b > k:
            kth = np.partition(S, b - k, axis=0)[b - k, :]
            mask = S >= kth
        else:
            mask = np.ones_like(S, dtype=bool)
        mask &= np.isfinite(S)
        rows, cols = np.nonzero(mask)
        return pd.DataFrame(
            {
                query_id_col: qid_sel[cols],
                id_col: ids[rows],
                score_col: S[rows, cols],
            }
        )

    def run(batches):
        if len(qids) == 0:
            return  # no queries -> no candidates
        score = make_score()
        carry = None
        for pdf in batches:
            # a NULL corpus vector has no defined similarity: drop it
            # (the SQL twin's fold likewise yields NULL sims, which the
            # top-k ordering never selects)
            pdf = pdf[pdf[payload].notna()]
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            X = np.vstack([np.asarray(v, dtype=dtype) for v in pdf[payload]])
            if cell_to_q is None:
                groups = [(slice(None), slice(None), None)]
            else:
                cells = pdf["cell"].to_numpy()
                groups = [
                    (np.nonzero(cells == c)[0], cell_to_q[int(c)], int(c))
                    for c in np.unique(cells)
                    if int(c) in cell_to_q
                ]
            parts = []
            for vidx, qsel, cell in groups:
                S = score(X[vidx], qsel, cell)
                if exclude_self:
                    S[ids[vidx][:, None] == qids[qsel][None, :]] = -np.inf
                parts.append(_cut(S, ids[vidx], qids[qsel]))
            if not parts:
                continue
            combined = pd.concat(
                [c for c in ([carry] + parts) if c is not None],
                ignore_index=True,
            )
            combined = combined.sort_values(
                [score_col, id_col], ascending=[False, True], kind="mergesort"
            )
            combined = combined.drop_duplicates(
                [query_id_col, id_col], keep="first"
            )
            carry = combined.groupby(query_id_col, sort=False).head(k)
        if carry is not None and len(carry):
            yield carry

    return run


def _fold_step(Q: np.ndarray):
    """The scoring step of exact and IVF search for _make_topk_kernel."""
    return lambda: lambda V, qsel, cell: _fold_scores(V, Q[qsel])


def _probe_cells(Q: np.ndarray, C: np.ndarray, n_probe: int) -> dict:
    """Driver-side cell probe: cell -> indices of the queries whose
    n_probe nearest (normalized) centroids include it."""
    cell_to_q: dict = {}
    if Q.shape[0]:
        probes = np.argsort(-(_normalize(Q) @ C.T), axis=1)[:, :n_probe]
        for qi, row in enumerate(probes):
            for cell in row:
                cell_to_q.setdefault(int(cell), []).append(qi)
    return {c: np.asarray(ix, dtype=np.int64) for c, ix in cell_to_q.items()}


def _topk_merge(
    src: DataFrame,
    local_fn,
    k: int,
    key_types: tuple,
    *,
    id_col: str,
    query_id_col: str,
    score_col: str = "sim",
) -> DataFrame:
    """Run the partition-local step over `src` (mapInPandas,
    emitting (query id, id, score) rows typed by `key_types`), then
    keep the global top-k per query in (score desc, id asc) order."""
    schema = T.StructType(
        [
            T.StructField(query_id_col, key_types[0]),
            T.StructField(id_col, key_types[1]),
            T.StructField(score_col, T.DoubleType()),
        ]
    )
    local = src.mapInPandas(local_fn, schema=schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc(score_col), F.col(id_col)
    )
    return (
        local.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def _collect_query_matrix(
    queries: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    # the cap guard rides the collect itself (one action instead of
    # two): limit(cap+1) bounds what can ever reach the driver (never
    # collect unbounded, with cap+1 as the hard ceiling) and a full
    # batch of cap+1 rows proves the query set exceeds the cap without
    # a dedicated count job per call
    rows = queries.select(id_col, vec_col).limit(
        MAX_CLOSURE_QUERIES + 1
    ).collect()
    if len(rows) > MAX_CLOSURE_QUERIES:
        raise ValueError(
            f"top-k query set exceeds {MAX_CLOSURE_QUERIES} rows; this "
            f"operator ships the queries into the scoring kernel "
            f"(evaluation-sample contract) — chunk the query set"
        )
    if not rows:
        return np.empty(0, dtype=np.int64), np.empty((0, 1))
    bad = [r[0] for r in rows if r[1] is None]
    if bad:
        raise ValueError(
            f"top-k query set has {len(bad)} NULL {vec_col} vectors "
            f"(e.g. {id_col}={bad[0]!r}); a NULL query has no defined "
            f"similarity — filter or impute before calling"
        )
    qids = np.asarray([r[0] for r in rows])
    Q = np.vstack([np.asarray(r[1], dtype=np.float64) for r in rows])
    if qids.nbytes + Q.nbytes > MAX_CLOSURE_QUERY_BYTES:
        raise ValueError(
            f"top-k query matrix is {qids.nbytes + Q.nbytes} bytes "
            f"({Q.shape[0]} rows x dim {Q.shape[1]}); the closure ships "
            f"it into every task (evaluation-sample contract, <= "
            f"{MAX_CLOSURE_QUERY_BYTES} bytes) — chunk the query set"
        )
    return qids, Q


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: the query matrix rides in the scoring
    kernel's closure (bounded evaluation sample, like IVF centroids);
    each corpus partition block-scores its vectors against it with the
    deterministic sequential-fold float semantics and emits its local
    exact top-k — so per partition only n_queries * k rows exist, and
    the corpus is never shuffled nor materialized as per-pair rows.
    The only exchange is the final per-query top-k window (tiny).
    Matches the SQL twin in plans/similarity.py (embed_knn_bruteforce)
    bit-for-bit.

    `exclude_self` drops id == qid pairs (queries drawn from the corpus
    under one id namespace); with exclude_self=False ids colliding
    across namespaces are NOT dropped."""
    qids, Q = _collect_query_matrix(queries, id_col, vec_col)
    kernel = _make_topk_kernel(
        qids, k, _fold_step(Q), payload="__vec", dtype=np.float64,
        id_col=id_col, query_id_col=query_id_col,
        exclude_self=exclude_self,
    )
    src = corpus.select(F.col(id_col), F.col(vec_col).alias("__vec"))
    return _topk_merge(
        src, kernel, k,
        (queries.schema[id_col].dataType, corpus.schema[id_col].dataType),
        id_col=id_col, query_id_col=query_id_col,
    )


# ------------------------------------------------------------------ IVF


def train_centroids(
    corpus: DataFrame,
    n_centroids: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 2,
    seed: int = 42,
    max_train_rows: int | None = None,
) -> np.ndarray:
    """Coarse quantizer: deterministic corpus sample as seeds, then
    `iterations` distributed Lloyd steps (assignment is a numpy UDF pass;
    the mean-update is a posexplode + groupBy — one bounded shuffle of
    n_rows*dim scalars, never the vectors to the driver).

    ``max_train_rows`` bounds the LLOYD PASSES to a deterministic
    hash-ordered sample: each iteration assigns the training set
    to K centroids — n x K work, and when the caller sizes K
    proportionally to n (the SemDeDup constant-cell schedule) full-
    corpus training is QUADRATIC. Measured at 250k vectors / K=244:
    training was 170s of the 204s pipeline (e=1.23 vs scoring's 0.68,
    .scale/probe_semdedup_stages.json). Quantizer quality needs a
    representative sample, not the corpus — the standard IVF/SemDeDup
    deployment trains on a bounded sample and assigns everything once.

    NULL vectors have no defined cell: they are excluded from both the
    seed sample and the Lloyd passes (previously a NULL draw crashed
    the seed vstack — the scoring kernels already dropped NULLs)."""
    corpus = corpus.where(F.col(vec_col).isNotNull())
    if max_train_rows is not None:
        corpus = (
            corpus.select(id_col, vec_col)
            .orderBy(
                F.pmod(
                    F.xxhash64(F.col(id_col)) + seed + 1,
                    F.lit(2**31 - 1),
                )
            )
            .limit(max_train_rows)
        )
    sample = (
        corpus.select(vec_col)
        .orderBy(F.pmod(F.xxhash64(F.col(id_col)) + seed, F.lit(2**31 - 1)))
        .limit(n_centroids)
        .collect()
    )
    cents = _normalize(
        np.vstack([np.asarray(r[0], dtype=np.float64) for r in sample])
    )
    for _ in range(iterations):
        assign = make_assign_udf(cents)
        assigned = corpus.select(
            assign(F.col(vec_col)).alias("cell"),
            F.posexplode(F.col(vec_col)).alias("pos", "val"),
        )
        means = (
            assigned.groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(
                F.collect_list(F.struct("pos", "m"))
            ).alias("mm"))
            .select("cell", F.transform("mm", lambda s: s.m).alias("mean"))
            .collect()
        )
        new = cents.copy()
        for r in means:
            new[r.cell] = np.asarray(r.mean, dtype=np.float64)
        cents = _normalize(new)
    return cents


def make_assign_udf(centroids: np.ndarray):
    """vector -> nearest-centroid id (cosine), one matmul per Arrow batch."""
    C = _normalize(np.asarray(centroids, dtype=np.float64))
    dim = C.shape[1]

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="int32")
        M = _normalize(_as_matrix(vecs, dim))
        return pd.Series((M @ C.T).argmax(axis=1).astype("int32"))

    return assign


def make_multi_assign_udf(centroids: np.ndarray, spill: int):
    """vector -> its `spill` nearest cell ids (SPANN-style boundary
    replication: a vector near a Voronoi boundary is indexed in every
    close cell, so a query probing either side still finds it). Storage
    grows by the spill factor; recall at a fixed probe fraction rises
    sharply because coarse-quantization boundary loss is the dominant
    IVF error term."""
    C = _normalize(np.asarray(centroids, dtype=np.float64))
    dim = C.shape[1]
    spill = max(1, min(spill, C.shape[0]))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def multi_assign(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="object")
        M = _normalize(_as_matrix(vecs, dim))
        sims = M @ C.T
        idx = np.argsort(-sims, axis=1)[:, :spill].astype("int32")
        return pd.Series(list(idx))

    return multi_assign


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    n_centroids: int | None = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    centroids: np.ndarray | None = None,
    train_iterations: int = 2,
    seed: int = 42,
    spill: int = 1,
) -> DataFrame:
    """IVF ANN: probe n_probe cells per query, exact rerank inside them.

    At 100 TB the assigned corpus is a table partitioned/bucketed by
    `cell`; queries explode to (query, cell) and the candidate join is
    cell-co-located — no broadcast of the corpus, no all-pairs.
    `spill > 1` replicates each corpus vector into its `spill` nearest
    cells (boundary replication): index storage grows spill-fold, query
    cost per probed cell grows ~spill-fold, recall at a fixed n_probe
    rises sharply. The duplicate (query, candidate) pairs a spilled
    index produces are collapsed before the rerank window.

    ``n_centroids=None`` auto-sizes the index to ~sqrt(N) cells
    (clamped to [4, 65536]) — the classical IVF balance point where
    both the coarse-quantizer scan and the per-probe candidate list
    stay O(sqrt(N)). The fixed-count default suits the test scale;
    production callers should pass None (or a measured value).
    """
    if centroids is None:
        if n_centroids is None:
            n_centroids = ivf_n_centroids(corpus.count())
        centroids = train_centroids(
            corpus, n_centroids, vec_col=vec_col, id_col=id_col,
            iterations=train_iterations, seed=seed,
        )

    if spill > 1:
        massign = make_multi_assign_udf(centroids, spill)
        assigned = corpus.select(
            F.col(id_col), F.col(vec_col).alias("__vec"),
            F.explode(massign(F.col(vec_col))).alias("cell"),
        )
    else:
        assign = make_assign_udf(centroids)
        assigned = corpus.select(
            F.col(id_col), F.col(vec_col).alias("__vec"),
            assign(F.col(vec_col)).alias("cell"),
        )
    # The query side is the evaluation sample (cosine_topk makes the
    # same bounded contract): probe its cells DRIVER-SIDE against the
    # centroids already held there, and ship (query matrix, cell ->
    # probing-queries index) into the scoring kernel's closure. Each
    # corpus partition then scores its vectors only against the queries
    # probing their cell — the IVF candidate structure — without ever
    # materializing per-(query, candidate) rows or shuffling the corpus
    # on the n_centroids-cardinality cell key (a shuffled join there is
    # intrinsically skewed: one hot cell = one straggler task).
    qids, Q = _collect_query_matrix(queries, id_col, vec_col)
    C = _normalize(np.asarray(centroids, dtype=np.float64))
    # a spilled vector's copies stay in the same input partition (the
    # explode is narrow), so the kernel's (query, id) dedup is complete
    kernel = _make_topk_kernel(
        qids, k, _fold_step(Q), payload="__vec", dtype=np.float64,
        id_col=id_col, query_id_col=query_id_col,
        exclude_self=True, cell_to_q=_probe_cells(Q, C, n_probe),
    )
    return _topk_merge(
        assigned, kernel, k,
        (queries.schema[id_col].dataType, corpus.schema[id_col].dataType),
        id_col=id_col, query_id_col=query_id_col,
    )


# ------------------------------------------------------------- IVF-PQ


def train_pq_codebooks(
    residuals: np.ndarray,
    m_subspaces: int,
    n_codes: int,
    *,
    iterations: int = 10,
    seed: int = 7,
) -> np.ndarray:
    """Product-quantizer codebooks: split the residual space into
    `m_subspaces` contiguous sub-vectors and Lloyd-quantize each to
    `n_codes` centroids independently — the classical PQ construction
    (Jegou et al., "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011). Returns (m, n_codes, dim // m).

    Runs DRIVER-SIDE numpy over a bounded training sample (the FAISS
    discipline: codebooks are trained on a sample, never the corpus)
    and is fully deterministic: seeded initial codes, fixed iteration
    count, ties broken by argmin's first-index rule. Empty clusters
    keep their previous centroid, so the codebook shape is stable."""
    n, dim = residuals.shape
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m={m_subspaces}")
    sub = dim // m_subspaces
    n_codes = max(1, min(n_codes, n))
    rng = np.random.default_rng(seed)
    books = np.empty((m_subspaces, n_codes, sub), dtype=np.float64)
    for s in range(m_subspaces):
        X = residuals[:, s * sub : (s + 1) * sub]
        cents = X[rng.choice(n, size=n_codes, replace=False)].copy()
        for _ in range(iterations):
            # (n, n_codes) squared distances via the expansion trick
            d2 = (
                (X * X).sum(axis=1, keepdims=True)
                - 2.0 * (X @ cents.T)
                + (cents * cents).sum(axis=1)[None, :]
            )
            code = d2.argmin(axis=1)
            for c in range(n_codes):
                mask = code == c
                if mask.any():
                    cents[c] = X[mask].mean(axis=0)
        books[s] = cents
    return books


def _pq_encode_block(
    M: np.ndarray, books: np.ndarray, cells: np.ndarray, C: np.ndarray
) -> np.ndarray:
    """Residual-PQ codes for a (b, dim) block already assigned to
    `cells`: r = v_hat - C[cell], code_s = argmin_j ||r_s - B[s][j]||.
    Returns (b, m) int32."""
    R = M - C[cells]
    m, n_codes, sub = books.shape
    codes = np.empty((len(M), m), dtype=np.int32)
    for s in range(m):
        Rs = R[:, s * sub : (s + 1) * sub]
        B = books[s]
        d2 = (
            (Rs * Rs).sum(axis=1, keepdims=True)
            - 2.0 * (Rs @ B.T)
            + (B * B).sum(axis=1)[None, :]
        )
        codes[:, s] = d2.argmin(axis=1).astype(np.int32)
    return codes


def make_pq_encode_udf(
    centroids: np.ndarray, books: np.ndarray, spill: int = 1
):
    """vector -> array of (cell, codes) structs, one per assigned cell
    (spill-fold boundary replication, residual re-encoded PER CELL —
    a spilled vector's residual differs in each cell). NULL vectors
    encode to NULL, which a downstream explode() drops."""
    C = _normalize(np.asarray(centroids, dtype=np.float64))
    books = np.asarray(books, dtype=np.float64)
    dim = C.shape[1]
    spill = max(1, min(spill, C.shape[0]))
    out_type = T.ArrayType(
        T.StructType(
            [
                T.StructField("cell", T.IntegerType()),
                T.StructField("codes", T.ArrayType(T.IntegerType())),
            ]
        )
    )

    @F.pandas_udf(out_type)
    def encode(vecs: pd.Series) -> pd.Series:
        out: list = []
        keep = vecs.notna()
        if not keep.any():
            return pd.Series([None] * len(vecs), dtype="object")
        M = _normalize(_as_matrix(vecs[keep], dim))
        sims = M @ C.T
        near = np.argsort(-sims, axis=1)[:, :spill].astype(np.int32)
        rows: list = []
        for j in range(spill):
            rows.append(_pq_encode_block(M, books, near[:, j], C))
        it = iter(range(len(M)))
        for is_ok in keep:
            if not is_ok:
                out.append(None)
                continue
            i = next(it)
            out.append(
                [
                    {"cell": int(near[i, j]), "codes": rows[j][i].tolist()}
                    for j in range(spill)
                ]
            )
        return pd.Series(out, dtype="object")

    return encode


def _pq_encoded(
    vectors: DataFrame, centroids, books, spill: int, id_col: str,
    vec_col: str,
) -> DataFrame:
    """The (id, cell, codes) table of an IVF-PQ index: one row per
    assigned cell of every non-NULL vector."""
    encode = make_pq_encode_udf(centroids, books, spill=spill)
    return vectors.select(
        F.col(id_col), F.explode(encode(F.col(vec_col))).alias("e")
    ).select(
        id_col, F.col("e.cell").alias("cell"), F.col("e.codes").alias("codes")
    )


class IvfPqIndex:
    """The encode-once artifact of the IVF-PQ deployment shape: tiny
    driver-side model state (normalized coarse centroids + PQ
    codebooks) plus the (id, cell, codes) DataFrame the scoring scan
    reads — 5x smaller on disk than the vectors at dim 64, 32-128x at
    production dims (BENCH_NOTES r7, tools/scale_proof.py --io).
    Persist `encoded` as parquet at ingest and rebuild the index for
    query time with `spark.read.parquet(...)` — queries then never
    rescan the float vectors except in the bounded exact rerank."""

    def __init__(
        self,
        centroids: np.ndarray,
        codebooks: np.ndarray,
        encoded: DataFrame,
        spill: int = 1,
        id_col: str = "vec_id",
    ):
        self.centroids = centroids
        self.codebooks = codebooks
        self.encoded = encoded
        self.spill = spill
        self.id_col = id_col


def build_ivfpq_index(
    corpus: DataFrame,
    *,
    n_centroids: int | None = 16,
    m_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    train_iterations: int = 2,
    pq_train_sample: int = 16_384,
    seed: int = 42,
    spill: int = 1,
) -> IvfPqIndex:
    """Train coarse centroids + PQ codebooks and encode the corpus —
    the ingest-time half of IVF-PQ (all stages deterministic: seeded
    samples, fixed Lloyd iterations, first-index argmin ties). The
    returned index's `encoded` DataFrame is lazy; write it to parquet
    to pin the encode cost once.

    Pass prebuilt ``centroids``/``codebooks`` to encode a corpus with
    an EXISTING model (the extend_ivfpq_index law's rebuild side) —
    codebooks are otherwise trained on a corpus-dependent sample, so
    rebuilds over different corpora would not share a model."""
    if codebooks is not None and centroids is None:
        # PQ codebooks are trained on residuals against a SPECIFIC
        # centroid set; pairing them with freshly-trained centroids is
        # a silently mismatched model that degrades recall. Pass both
        # halves of the prebuilt model or neither.
        raise ValueError(
            "codebooks provided without centroids: PQ codebooks encode "
            "residuals against the centroids they were trained with — "
            "pass the matching centroids too"
        )
    if centroids is None:
        if n_centroids is None:
            n_centroids = ivf_n_centroids(corpus.count())
        centroids = train_centroids(
            corpus, n_centroids, vec_col=vec_col, id_col=id_col,
            iterations=train_iterations, seed=seed,
        )
    C = _normalize(np.asarray(centroids, dtype=np.float64))

    if codebooks is not None:
        books = np.asarray(codebooks, dtype=np.float64)
    else:
        # PQ training sample: deterministic xxhash64-ordered draw (the
        # train_centroids discipline), residualized driver-side against
        # the coarse centroids.
        sample_rows = (
            corpus.select(vec_col)
            .where(F.col(vec_col).isNotNull())
            .orderBy(F.pmod(F.xxhash64(F.col(id_col)) + seed + 1,
                            F.lit(2**31 - 1)))
            .limit(pq_train_sample)
            .collect()
        )
        S = _normalize(
            np.vstack(
                [np.asarray(r[0], dtype=np.float64) for r in sample_rows]
            )
        )
        res = S - C[(S @ C.T).argmax(axis=1)]
        books = train_pq_codebooks(res, m_subspaces, n_codes, seed=seed + 2)

    encoded = _pq_encoded(corpus, C, books, spill, id_col, vec_col)
    return IvfPqIndex(C, books, encoded, spill=spill, id_col=id_col)


def ann_ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    index: IvfPqIndex | None = None,
    n_centroids: int | None = 16,
    n_probe: int = 4,
    m_subspaces: int = 8,
    n_codes: int = 16,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    centroids: np.ndarray | None = None,
    train_iterations: int = 2,
    pq_train_sample: int = 16_384,
    seed: int = 42,
    spill: int = 1,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ ANN: the compressed-vector scale path (Jegou et al. 2011;
    the IVFADC structure FAISS ships as its at-scale default).

    Why this exists next to ann_ivf_topk: at 100 TB the dominant ANN
    cost is not compute but SCAN BANDWIDTH — reading the full float
    vectors of every probed cell. Here the scoring scan reads only
    (id, cell, codes): m_subspaces bytes-ish per vector instead of
    4*dim (64-dim float -> 8-byte codes = 32x less I/O), and the full
    vectors are touched exactly once, streaming through ONE broadcast
    hash join against the bounded rerank candidate set — the same
    narrowed-verify discipline as MinHash dedup (operators/dedup.py).

    Pipeline (all stages deterministic — seeded samples, fixed Lloyd
    iterations, first-index argmin ties):
      1. coarse centroids: `train_centroids` (driver holds
         n_centroids * dim floats);
      2. PQ codebooks: residual sample driver-side ->
         `train_pq_codebooks` (driver holds n_codes * dim floats);
      3. encode: ONE pandas-UDF pass -> (id, cell, codes), exploded
         per spill copy; the float vectors do NOT enter this table;
      4. ADC scan: mapInPandas over the encoded table; per query a
         (m x n_codes) lookup table turns asymmetric-distance scoring
         into m gathers + adds per candidate; partition-local
         top-(k*refine) per query, so the exchange carries at most
         n_queries * k * refine rows per partition;
      5. rerank: global ADC top-(k*refine) per query -> broadcast the
         (qid, id) candidate pairs into one hash join against the
         corpus -> exact sequential-fold cosine -> final top-k.

    `refine` is the accuracy knob: ADC error is bounded by quantization
    distortion, and reranking k*refine exact candidates recovers what
    the codes blurred. n_probe == n_centroids AND refine covering the
    cells makes the result exactly the brute-force top-k (pinned in
    tests); the catalog gates the production config by recall floor
    (embed_ann_ivfpq_recall).

    ``index``: a prebuilt `IvfPqIndex` (build_ivfpq_index) — the
    encode-once / query-many deployment shape: training and encoding
    are skipped, the scoring scan reads the index's (id, cell, codes)
    table (persist it as parquet to pin the 5-128x scan-bandwidth
    win), and `corpus` is touched only by the bounded exact rerank.
    When given, the training knobs (n_centroids/m_subspaces/n_codes/
    centroids/seed/spill/...) are ignored in favor of the index's.
    `id_col` is NOT an index knob — it also keys `corpus` and
    `queries` here — so it must MATCH the index's: the ADC scan reads
    the index's encoded table by this name, and a mismatch is rejected
    up front instead of failing with a KeyError
    inside the scorer."""
    if index is not None and index.id_col != id_col:
        raise ValueError(
            f"id_col mismatch: the prebuilt index was encoded with"
            f" id_col={index.id_col!r} but ann_ivfpq_topk was called"
            f" with id_col={id_col!r}; pass the same id_col used at"
            " build_ivfpq_index time (it also keys corpus/queries)"
        )
    if index is None:
        index = build_ivfpq_index(
            corpus,
            n_centroids=n_centroids,
            m_subspaces=m_subspaces,
            n_codes=n_codes,
            id_col=id_col,
            vec_col=vec_col,
            centroids=centroids,
            train_iterations=train_iterations,
            pq_train_sample=pq_train_sample,
            seed=seed,
            spill=spill,
        )
    C, books, encoded = index.centroids, index.codebooks, index.encoded

    qids, Q = _collect_query_matrix(queries, id_col, vec_col)
    kr = k * max(1, refine)
    m, nc, sub = books.shape
    qtype = queries.schema[id_col].dataType
    itype = corpus.schema[id_col].dataType

    def adc_step():
        # per-query LUTs and per-(query, cell) base terms, built once
        # per task from closure state: LUT[q, s, j] = <q_s, B[s][j]>,
        # base[q, c] = <q, C[c]> — ADC(q, v in c) = base + sum_s gather
        Qn = _normalize(Q)
        LUT = np.empty((Qn.shape[0], m, nc), dtype=np.float64)
        for s in range(m):
            LUT[:, s, :] = Qn[:, s * sub : (s + 1) * sub] @ books[s].T
        base = Qn @ C.T

        def score(codes, qsel, cell):
            Sc = np.broadcast_to(
                base[qsel, cell][None, :], (len(codes), len(qsel))
            ).copy()
            for s in range(m):
                # gather: (nqsel, b) -> accumulate transposed
                Sc += LUT[qsel][:, s, :][:, codes[:, s]].T
            return Sc

        return score

    # spilled copies of a vector score differently per cell (different
    # residual base) — the kernel's compaction keeps the best
    kernel = _make_topk_kernel(
        qids, kr, adc_step, payload="codes", dtype=np.int64,
        id_col=id_col, query_id_col=query_id_col,
        exclude_self=exclude_self, cell_to_q=_probe_cells(Q, C, n_probe),
        score_col="adc",
    )
    cand = _topk_merge(
        encoded, kernel, kr, (qtype, itype),
        id_col=id_col, query_id_col=query_id_col, score_col="adc",
    ).select(query_id_col, id_col)

    # Exact rerank: the candidate set is BOUNDED (<= n_queries * k *
    # refine pairs) — broadcast it into ONE hash join against the
    # corpus, so the full vectors are scanned once and never shuffled.
    # key by the RAW id value: query ids are any orderable type here
    # (cosine_topk / ann_ivf_topk accept string ids; an int() cast
    # raised on them in the rerank stage)
    qindex = {q: i for i, q in enumerate(qids)}

    def rerank(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            keep = pdf["__vec"].notna()
            pdf = pdf[keep]
            if not len(pdf):
                continue
            # RAW vectors + dimension-major fold: the exact scoring of
            # cosine_topk / the brute-force SQL twin, so fullprobe +
            # covering refine degrades to bit-identical exact top-k
            V = _as_matrix(pdf["__vec"], Q.shape[1])
            qi = np.asarray(
                [qindex[q] for q in pdf[query_id_col]], dtype=np.int64
            )
            Qsel = Q[qi]
            # row-wise sequential fold (dimension-major accumulation):
            # the same IEEE order as _fold_scores / the SQL twin
            acc = np.zeros(len(pdf), dtype=np.float64)
            for j in range(V.shape[1]):
                acc += V[:, j] * Qsel[:, j]
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col].to_numpy(),
                    id_col: pdf[id_col].to_numpy(),
                    "sim": acc,
                }
            )

    joined = corpus.select(
        F.col(id_col), F.col(vec_col).alias("__vec")
    ).join(F.broadcast(cand), id_col)
    return _topk_merge(
        joined.select(query_id_col, id_col, "__vec"), rerank, k,
        (qtype, itype), id_col=id_col, query_id_col=query_id_col,
    )


# ------------------------------------------------ sign-LSH near-dup pairs


def make_signbits_udf(dim: int, n_bits: int = 64, seed: int = 20260813):
    """Random-hyperplane SimHash: 64 sign bits packed into a BIGINT."""
    rng = np.random.default_rng(seed)
    H = rng.standard_normal((dim, n_bits))
    weights = (1 << np.arange(n_bits, dtype=np.uint64)).astype(np.uint64)

    @F.pandas_udf(T.LongType())
    def signbits(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="int64")
        M = _as_matrix(vecs, dim)
        bits = (M @ H) > 0
        packed = (bits.astype(np.uint64) * weights).sum(axis=1)
        return pd.Series(packed.astype(np.int64))

    return signbits


def embed_neardup_pairs_lsh(
    corpus: DataFrame,
    threshold: float = 0.99,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    dim: int = 64,
    n_bits: int = 64,
    bands: int = 8,
    seed: int = 20260813,
) -> DataFrame:
    """Candidate pairs from banded sign-bits, exact cosine verify.

    Approximate-recall scale path of `embed_cosine_neardup` (the exact
    SQL twin in plans/similarity.py is the oracle-checked baseline); at
    cos >= 0.99 a band of 8 bits all-matches with p ~ 0.69, so >= 1 of 8
    bands collides with p ~ 1 - 8.5e-5.
    """
    bits_per_band = n_bits // bands
    mask = (1 << bits_per_band) - 1
    signbits = make_signbits_udf(dim, n_bits, seed)
    blk = F.col(block_col) if block_col else F.lit(0)
    sigs = corpus.select(
        F.col(id_col), F.col(vec_col), blk.alias("blk"),
        signbits(F.col(vec_col)).alias("sig"),
    ).persist()
    bands_df = sigs.select(
        id_col, "blk",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        "sig",
    ).select(
        id_col, "blk", "band",
        F.expr(f"(sig >> (band * {bits_per_band})) & {mask}").alias("bkey"),
    )
    x, y = bands_df.alias("x"), bands_df.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.blk") == F.col("y.blk"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("vec_a"),
            F.col(f"y.{id_col}").alias("vec_b"),
        )
        .distinct()
    )
    a = sigs.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("__ea"))
    b = sigs.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("__eb"))
    dot = F.aggregate(
        F.zip_with(
            "__ea", "__eb", lambda p, r: p.cast("double") * r.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(a, "vec_a").join(b, "vec_b")
        .select("vec_a", "vec_b", dot.alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def ivf_n_centroids(n: int) -> int:
    """IVF's default cell count: ~sqrt(n), clamped to [4, 65_536] — the
    classical balance point where both the coarse-quantizer scan and
    the per-probe candidate list stay O(sqrt(n))."""
    return max(4, min(65_536, int(round(n ** 0.5))))


def default_n_clusters(n: int, target_cell_rows: int = 1_024) -> int:
    """SemDeDup's default cluster count: sqrt(n) while sqrt cells stay
    under ``target_cell_rows`` (n <= target^2), then CONSTANT CELL
    ROWS (ceil(n / target)) — the schedule that keeps within-cell pair
    scoring linear in the corpus where sqrt sizing would give n^1.5.
    Equivalent closed form: round(max(sqrt(n), n / target)), capped at
    65_536 centroids (driver-memory bound on the centroid matrix)."""
    if n <= 0:
        return 1
    return max(1, min(65_536, int(round(max(n ** 0.5, n / target_cell_rows)))))


def _semantic_centroids(
    corpus: DataFrame,
    n_clusters: int | None,
    centroids: np.ndarray | None,
    *,
    vec_col: str,
    id_col: str,
    train_iterations: int,
    seed: int,
    max_train_rows: int,
) -> np.ndarray:
    """The semantic family's quantizer, shared by semantic_dedup_pairs
    and streaming/dedup.py build_semantic_index so a self-screen finds
    exactly the batch pairs: the given ``centroids`` normalized, else
    ``n_clusters`` (default :func:`default_n_clusters`) trained on the
    n NON-NULL vectors. Past ``max_train_rows`` the Lloyd passes run on
    a sample (quadratic otherwise, see :func:`train_centroids`); below
    it, evaluation-scale runs train on the full corpus."""
    if centroids is None:
        nonnull = corpus.where(F.col(vec_col).isNotNull())
        n = nonnull.count()
        if n_clusters is None:
            n_clusters = default_n_clusters(n)
        centroids = train_centroids(
            nonnull, n_clusters, vec_col=vec_col, id_col=id_col,
            iterations=train_iterations, seed=seed,
            max_train_rows=(
                max_train_rows if n > max_train_rows else None
            ),
        )
    return _normalize(np.asarray(centroids, dtype=np.float64))


def semantic_dedup_pairs(
    corpus: DataFrame,
    *,
    n_clusters: int | None = None,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    spill: int = 1,
    max_cluster_rows: int = 8_192,
    score_block: int = 1_024,
    train_iterations: int = 2,
    seed: int = 42,
    max_train_rows: int = 65_536,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, 'SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication'): cluster the
    embedding space with k-means, then emit similar pairs WITHIN each
    cluster only — the pruning that makes semantic (sub-near-dup
    threshold) dedup tractable where LSH banding can't reach: at
    cosine ~0.4 the band-collision probability of sign-LSH is far too
    high to prune anything, while cluster locality still captures most
    of the similarity mass.

    Returns (vec_a, vec_b, sim) with vec_a < vec_b and sim >= threshold
    (raw sequential-fold dot, `_fold_scores` — bit-identical to the SQL
    twin, so the exactness anchor hash-gates). Pairs crossing a cluster
    boundary are MISSED by design (the recall trade the paper makes);
    `n_clusters=1` disables pruning and recovers exact brute force —
    the anchor configuration. The anchor scores ONE cell
    quadratically, so it is an evaluation-scale configuration: past
    ``max_cluster_rows`` it raises loudly (the oversize skip would
    silently return ZERO pairs) rather than
    attempt the n^2 the clustered path exists to avoid; raise
    ``max_cluster_rows`` deliberately to anchor a larger corpus.

    ``spill``: SPANN-style boundary replication, the same recall lever
    ann_ivf_topk uses — each vector is indexed in its `spill` nearest
    cells, so a pair is found if the two CO-OCCUR in ANY of them.
    Voronoi-boundary pairs are the dominant loss mode of
    cluster-pruned dedup (a threshold-grazing pair has no reason to
    share one cell); storage and scoring grow by ~spill, and the
    duplicate emissions (a pair sharing several cells scores
    bit-identically in each) collapse in one grouped min — measured
    at the gate corpus (K=8): recall 0.33 (spill=1) -> 0.79
    (spill=2) -> 0.97 (spill=3) -> 1.0 (spill=4).

    The oversize skip is decided on PRE-SPILL (primary-assignment)
    cell population: spill replication inflates cell
    rows ~x spill, so a post-spill bound would let RAISING spill tip a
    cell over the cap and lose its pairs — an anti-monotone recall
    knob. Primary membership is spill-invariant, so spill is now
    monotone by construction; the quantizer-collapse guard is intact
    (a collapsed quantizer concentrates PRIMARY assignments); and the
    per-cell compute bound relaxes only to (spill * max_cluster_rows)
    rows scored in a skip-surviving cell.

    Scale shape: centroids live on the driver (n_clusters x dim,
    bounded like IVF); assignment is one pandas-UDF matmul pass; the
    only shuffle is hash(cell) carrying (id, vector) once; in-cluster
    scoring is blocked (score_block rows x cluster) so task memory is
    bounded at score_block * |cluster| doubles regardless of cluster
    size.

    SIZING AT SCALE: pick n_clusters for CONSTANT CELL ROWS
    (n_clusters ~ n / target_cell_rows), not the IVF-style sqrt(n) —
    within-cell scoring costs n * cell_rows * spill, so constant
    cells keep compute linear in the corpus where sqrt sizing gives
    n^1.5 (IVF sizes by sqrt(N) because ITS scale knob is probe
    count per query; pair scoring has no probe side). This schedule
    is the DEFAULT (:func:`default_n_clusters`): sqrt sizing
    below the crossover where sqrt cells outgrow 1024 rows (n = 1M),
    constant-1024-row cells past it — i.e. K = max(sqrt(n), n/1024),
    capped at 65_536 centroids (the driver-memory bound; past n ~ 67M
    cells grow again and the right move is a second quantizer level,
    not more driver state). Measured exponents: e = 1.19 over
    25k -> 250k on adversarial unstructured random vectors (quadratic
    pair-mass tail, BENCH_NOTES r8); see BENCH_NOTES r9 for the
    planted-duplicate structured corpus. Clusters past
    max_cluster_rows are SKIPPED whole (the degenerate-centroid twin
    of MinHash's hot-bucket cap: a cluster holding a meaningful
    fraction of the corpus means the quantizer collapsed, and scoring
    it would be the n^2 the method exists to avoid); the skip is
    deterministic, so reruns hash identically."""
    C = _semantic_centroids(
        corpus, n_clusters, centroids, vec_col=vec_col, id_col=id_col,
        train_iterations=train_iterations, seed=seed,
        max_train_rows=max_train_rows,
    )
    dim = C.shape[1]

    nonnull = corpus.where(F.col(vec_col).isNotNull())
    if C.shape[0] == 1:
        # anchor configuration: ONE quadratic cell. Probe the bound
        # BEFORE doing any work — the oversize skip below would
        # swallow this case and silently return zero pairs.
        # limit(cap+1) bounds the probe itself.
        over = nonnull.limit(max_cluster_rows + 1).count()
        if over > max_cluster_rows:
            raise ValueError(
                f"n_clusters=1 (exact brute-force anchor) scores one"
                f" cell quadratically and the corpus exceeds"
                f" max_cluster_rows={max_cluster_rows} — raise"
                f" max_cluster_rows deliberately for an"
                f" evaluation-scale anchor, or use clustering"
            )
    if spill <= 1 or C.shape[0] == 1:
        assign = make_assign_udf(C)
        assigned = nonnull.select(
            F.col(id_col), F.col(vec_col),
            assign(F.col(vec_col)).alias("cell"),
            F.lit(True).alias("prim"),
        )
    else:
        # posexplode: the multi-assign array is nearest-first, so
        # position 0 IS the primary (pre-spill) assignment — the
        # population the oversize skip is decided on
        multi = make_multi_assign_udf(C, spill)
        assigned = nonnull.select(
            F.col(id_col), F.col(vec_col),
            F.posexplode(multi(F.col(vec_col))).alias("sp", "cell"),
        ).select(
            id_col, vec_col, "cell", (F.col("sp") == 0).alias("prim")
        )

    itype = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("vec_a", itype),
            T.StructField("vec_b", itype),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def score_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        # oversize skip on PRE-SPILL membership: primary count is
        # spill-invariant, so raising spill can only ADD pairs
        n_primary = int(pdf["prim"].sum())
        if n < 2 or n_primary > max_cluster_rows:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "sim": []}
            ).astype({"sim": "float64"})
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        X = _as_matrix(pdf[vec_col], dim)
        outs = []
        for s in range(0, n, score_block):
            e = min(s + score_block, n)
            S = _fold_scores(X[s:e], X)  # (block x n), fold semantics
            rows, cols = np.nonzero(S >= threshold)
            keep = (s + rows) < cols  # strict upper triangle: a < b
            rows, cols = rows[keep], cols[keep]
            if len(rows):
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_a": ids[s + rows],
                            "vec_b": ids[cols],
                            "sim": S[rows, cols],
                        }
                    )
                )
        if not outs:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "sim": []}
            ).astype({"sim": "float64"})
        return pd.concat(outs, ignore_index=True)

    pairs = assigned.groupBy("cell").applyInPandas(
        score_cluster, schema=out_schema
    )
    if spill <= 1 or C.shape[0] == 1:
        return pairs
    # a pair sharing several spilled cells scores BIT-IDENTICALLY in
    # each (same fold over the same vectors) — min() == the value
    return pairs.groupBy("vec_a", "vec_b").agg(
        F.min("sim").alias("sim")
    )


# ------------------------------------------------------ index persistence


def extend_ivfpq_index(
    index: IvfPqIndex,
    new_vectors: DataFrame,
    *,
    vec_col: str = "embedding",
) -> IvfPqIndex:
    """Append newly ingested vectors to an IVF-PQ index with the model
    FIXED — FAISS's ``add()`` semantics: quantizers are trained once
    at build (on a bounded sample) and later arrivals are only
    ENCODED, one pandas-UDF pass over the new vectors. Exactness law
    (test-pinned): ``extend(build(A), B).encoded`` row-equals
    ``build(A|B, centroids=ix.centroids, codebooks=ix.codebooks)
    .encoded``, and ANN queries against the two indexes return
    identical rows — encoding is per-vector (cell assignment + code
    argmins depend on the vector and the frozen model alone), so
    union IS the rebuild. No cap state exists here (oversized cells
    degrade recall via n_probe, they are not dropped), which is why
    this extension needs no capped record, unlike the screen
    families (streaming/dedup.py)."""
    new_encoded = _pq_encoded(
        new_vectors, index.centroids, index.codebooks, index.spill,
        index.id_col, vec_col,
    )
    return IvfPqIndex(
        index.centroids, index.codebooks,
        index.encoded.unionByName(new_encoded),
        spill=index.spill, id_col=index.id_col,
    )


def save_ivfpq_index(index: IvfPqIndex, path: str) -> None:
    """Persist the encode-once artifact across SESSIONS: the (id,
    cell, codes) table as parquet at <path>/encoded, the tiny model
    state (coarse centroids, PQ codebooks, spill, id_col) as JSON at
    <path>/meta.json. Ingest writes this once; every later query
    session loads it and never re-encodes (or rescans the float
    vectors outside the bounded exact rerank)."""
    from .storage import _save_index_dir

    _save_index_dir(
        path, "ivfpq-v1",
        {"encoded": index.encoded},
        {
            "centroids": np.asarray(index.centroids, np.float64).tolist(),
            "codebooks": np.asarray(index.codebooks, np.float64).tolist(),
            "spill": int(index.spill),
            "id_col": index.id_col,
        },
    )


def load_ivfpq_index(spark, path: str) -> IvfPqIndex:
    """Rebuild a saved IVF-PQ index; queries against the loaded index
    are bit-identical to the in-memory one (the codebooks round-trip
    as exact float64 JSON repr, tests/test_similarity.py)."""
    from .storage import _load_index_dir

    meta, table = _load_index_dir(
        spark, path, "ivfpq-v1", "an ivfpq-v1 index dir"
    )
    return IvfPqIndex(
        centroids=np.asarray(meta["centroids"], np.float64),
        codebooks=np.asarray(meta["codebooks"], np.float64),
        encoded=table("encoded"),
        spill=int(meta["spill"]),
        id_col=meta["id_col"],
    )
