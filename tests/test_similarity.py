"""Similarity-search operator tests: exact top-k, IVF ANN, sign-LSH."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dazzleduck_sql_duckdb_spark.operators.similarity import (
    ann_ivf_topk,
    cosine_topk,
    embed_neardup_pairs_lsh,
    make_signbits_udf,
    train_centroids,
)

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def _unit(v):
    a = np.asarray(v, dtype=np.float64)
    return (a / np.linalg.norm(a)).astype(np.float32).tolist()


@pytest.fixture(scope="module")
def emb(spark, tables):
    return spark.table("embeddings")


def _topk_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r.qid, []).append((r.vec_id, round(r.sim, 9)))
    return {k: sorted(v, key=lambda t: (-t[1], t[0])) for k, v in out.items()}


def test_cosine_topk_matches_sql_twin(spark, emb):
    queries = emb.where("vec_id % 100 = 0")
    got = cosine_topk(emb, queries, k=5).collect()
    from dazzleduck_sql_duckdb_spark.plans import queries as Q

    want = spark.sql(Q.spark_sql_for("embed_knn_bruteforce")).collect()
    assert _topk_sets(got) == _topk_sets(want)


def test_cosine_topk_exclude_self_flag(spark, emb):
    """exclude_self=False must keep the self-match (sim ~= 1 for a unit
    vector), and must not drop cross-namespace id collisions."""
    queries = emb.where("vec_id % 100 = 0")
    with_self = cosine_topk(emb, queries, k=1, exclude_self=False).collect()
    # every query's top-1 is itself
    assert all(r.qid == r.vec_id for r in with_self)
    without = cosine_topk(emb, queries, k=1, exclude_self=True).collect()
    assert all(r.qid != r.vec_id for r in without)


def test_ivf_fullprobe_equals_exact(spark, emb):
    queries = emb.where("vec_id % 100 = 0")
    exact = cosine_topk(emb, queries, k=5).collect()
    ivf = ann_ivf_topk(
        emb, queries, k=5, n_centroids=8, n_probe=8
    ).collect()
    assert _topk_sets(ivf) == _topk_sets(exact)


def test_ivf_probed_recall(spark, emb):
    """n_probe=4 of 8 cells must recover most true neighbors."""
    queries = emb.where("vec_id % 50 = 0")
    exact = _topk_sets(cosine_topk(emb, queries, k=5).collect())
    approx = _topk_sets(
        ann_ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=4).collect()
    )
    hits = total = 0
    for qid, pairs in exact.items():
        want = {v for v, _ in pairs}
        got = {v for v, _ in approx.get(qid, [])}
        hits += len(want & got)
        total += len(want)
    assert total > 0
    assert hits / total >= 0.6, f"recall {hits}/{total}"


def test_ivf_spill_no_duplicates_and_recall_dominates(spark, emb):
    """spill=2 must (a) never emit a (qid, vec_id) candidate twice in
    the top-k output, (b) recover at least as many true neighbors as
    spill=1 at the same n_probe — boundary replication only ever adds
    candidates."""
    queries = emb.where("vec_id % 50 = 0")
    exact = _topk_sets(cosine_topk(emb, queries, k=5).collect())

    def recall(res):
        hits = total = 0
        for qid, pairs in exact.items():
            want = {v for v, _ in pairs}
            got = {v for v, _ in res.get(qid, [])}
            hits += len(want & got)
            total += len(want)
        return hits / total

    plain_rows = ann_ivf_topk(
        emb, queries, k=5, n_centroids=8, n_probe=4
    ).collect()
    spill_rows = ann_ivf_topk(
        emb, queries, k=5, n_centroids=8, n_probe=4, spill=2
    ).collect()
    keys = [(r.qid, r.vec_id) for r in spill_rows]
    assert len(keys) == len(set(keys)), "spilled index leaked duplicates"
    assert recall(_topk_sets(spill_rows)) >= recall(_topk_sets(plain_rows))
    assert recall(_topk_sets(spill_rows)) >= 0.85


def test_train_centroids_shape_and_determinism(spark, emb):
    c1 = train_centroids(emb, 8, iterations=1)
    c2 = train_centroids(emb, 8, iterations=1)
    assert c1.shape == (8, 64)
    assert np.allclose(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_signbits_deterministic_and_locality(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal(64)
    near = base + rng.standard_normal(64) * 0.01
    far = rng.standard_normal(64)
    df = spark.createDataFrame(
        [(1, _unit(base), 0), (2, _unit(near), 0), (3, _unit(far), 0)],
        schema=SCHEMA,
    )
    sb = make_signbits_udf(64)
    sigs = {r.vec_id: r.s for r in df.select("vec_id", sb("embedding").alias("s")).collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[3])
    again = {r.vec_id: r.s for r in df.select("vec_id", sb("embedding").alias("s")).collect()}
    assert sigs == again


def test_neardup_lsh_finds_planted_pair(spark):
    rng = np.random.default_rng(11)
    rows = []
    for i in range(50):
        rows.append((i, _unit(rng.standard_normal(64)), 0))
    base = rng.standard_normal(64)
    rows.append((100, _unit(base), 0))
    rows.append((101, _unit(base + rng.standard_normal(64) * 0.005), 0))
    df = spark.createDataFrame(rows, schema=SCHEMA)
    pairs = embed_neardup_pairs_lsh(df, threshold=0.99).collect()
    assert {(p.vec_a, p.vec_b) for p in pairs} == {(100, 101)}
    assert pairs[0].sim >= 0.99


def test_ivf_auto_sizes_to_sqrt_n(spark, emb):
    """n_centroids=None sizes the index to ~sqrt(N) cells; with
    n_probe >= that cell count the probe clamps to fullprobe and the
    result must equal exact search — verifying the auto path end to
    end, not just the arithmetic."""
    n = emb.count()
    want_cells = max(4, min(65_536, int(round(n ** 0.5))))
    queries = emb.where("vec_id % 100 = 0")
    got = ann_ivf_topk(
        emb, queries, k=5, n_centroids=None, n_probe=want_cells,
    ).collect()
    exact = cosine_topk(emb, queries, k=5).collect()
    assert _topk_sets(got) == _topk_sets(exact)


def test_topk_null_query_vector_raises(spark, emb):
    """A NULL query embedding has no defined similarity: clear error,
    not a kernel crash."""
    queries = emb.where("vec_id % 100 = 0").withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    with pytest.raises(ValueError, match="NULL embedding"):
        cosine_topk(emb, queries, k=3)


def test_topk_null_corpus_vector_dropped(spark, emb):
    """NULL corpus vectors are dropped (the SQL twin's fold yields NULL
    sims, never selected by top-k) — results over the non-null corpus
    are unchanged."""
    corpus = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 3, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    queries = emb.where("vec_id % 100 = 0")
    got = _topk_sets(cosine_topk(corpus, queries, k=3).collect())
    want = _topk_sets(
        cosine_topk(
            emb.where("vec_id % 7 != 3"), queries, k=3
        ).collect()
    )
    assert got == want


def test_topk_query_matrix_byte_cap(spark):
    """dim-768 queries: the BYTE bound trips long before the row bound —
    a multi-hundred-MB closure must be refused with a clear error."""
    from dazzleduck_sql_duckdb_spark.operators import similarity as S

    n_rows = S.MAX_CLOSURE_QUERY_BYTES // (768 * 8) + 2
    assert n_rows < S.MAX_CLOSURE_QUERIES  # byte cap is the binding one
    queries = spark.range(0, n_rows).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(F.lit(0.5), 768).alias("embedding"),
    )
    corpus = spark.range(0, 10).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(F.lit(0.5), 768).alias("embedding"),
    )
    with pytest.raises(ValueError, match="bytes"):
        cosine_topk(corpus, queries, k=1)


# ------------------------------------------------------------- IVF-PQ


def test_ivfpq_fullprobe_covering_refine_equals_exact(spark, emb):
    """The degradation law: probing EVERY cell with a refine window
    covering the cells makes IVF-PQ exactly the brute-force top-k —
    the ADC stage then only reorders scanning, and the exact rerank
    (raw vectors, dimension-major fold) decides everything. Verifies
    the whole encode -> ADC -> rerank pipeline end-to-end."""
    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        ann_ivfpq_topk,
    )

    queries = emb.where("vec_id % 100 = 0")
    exact = cosine_topk(emb, queries, k=5).collect()
    pq = ann_ivfpq_topk(
        emb, queries, k=5, n_centroids=8, n_probe=8,
        m_subspaces=8, n_codes=16, refine=1000,
    ).collect()
    assert _topk_sets(pq) == _topk_sets(exact)


def test_ivfpq_production_config_recall(spark, emb):
    """The catalog's production knobs (m=32, n_codes=64, refine=8,
    n_probe=4 of 8, spill=2) must clear the gate floor."""
    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        ann_ivfpq_topk,
    )
    from dazzleduck_sql_duckdb_spark.plans.similarity import (
        ANN_RECALL_FLOOR as IVFPQ_RECALL_FLOOR,
    )

    queries = emb.where("vec_id % 100 = 0")
    exact = {
        (r.qid, r.vec_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    got = {
        (r.qid, r.vec_id)
        for r in ann_ivfpq_topk(
            emb, queries, k=5, n_centroids=8, n_probe=4,
            m_subspaces=32, n_codes=64, refine=8, spill=2,
        ).collect()
    }
    assert len(exact) > 0
    assert len(got & exact) / len(exact) >= IVFPQ_RECALL_FLOOR


def test_ivfpq_deterministic(spark, emb):
    """Seeded samples + fixed Lloyd iterations + first-index argmin:
    two runs over the same data return identical rows (the property
    the driver's value-hash gate depends on)."""
    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        ann_ivfpq_topk,
    )

    queries = emb.where("vec_id % 100 = 0")

    def run():
        return sorted(
            (r.qid, r.vec_id, round(r.sim, 12))
            for r in ann_ivfpq_topk(
                emb, queries, k=5, n_centroids=8, n_probe=4,
                m_subspaces=16, n_codes=16, refine=4, spill=2,
            ).collect()
        )

    assert run() == run()


def test_pq_codebooks_shape_and_codes_in_range(spark):
    """train_pq_codebooks returns (m, n_codes, dim/m); the encode UDF
    emits exactly `spill` (cell, codes) structs per non-null vector
    with every code in [0, n_codes); NULL vectors encode to NULL (so
    a downstream explode drops them)."""
    import numpy as np

    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        make_pq_encode_udf,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(3)
    res = rng.standard_normal((200, 16))
    books = train_pq_codebooks(res, 4, 8, seed=1)
    assert books.shape == (4, 8, 4)
    books2 = train_pq_codebooks(res, 4, 8, seed=1)
    assert np.array_equal(books, books2)

    C = rng.standard_normal((4, 16))
    encode = make_pq_encode_udf(C, books, spill=2)
    rows = [(i, _unit(rng.standard_normal(16))) for i in range(20)]
    rows.append((99, None))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).select("vec_id", encode(F.col("embedding")).alias("e"))
    got = {r.vec_id: r.e for r in df.collect()}
    assert got[99] is None
    for vid, e in got.items():
        if vid == 99:
            continue
        assert len(e) == 2
        cells = {s.cell for s in e}
        assert len(cells) == 2  # spill targets distinct cells
        for s in e:
            assert 0 <= s.cell < 4
            assert len(s.codes) == 4
            assert all(0 <= c < 8 for c in s.codes)


def test_ivfpq_null_corpus_vector_dropped(spark, emb):
    """NULL corpus vectors vanish at the encode stage (NULL -> explode
    drops the row); results match running over the non-null corpus."""
    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        ann_ivfpq_topk,
    )

    corpus = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 3, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    queries = emb.where("vec_id % 100 = 0")
    kw = dict(
        k=3, n_centroids=8, n_probe=8, m_subspaces=8, n_codes=16,
        refine=1000,
    )
    got = _topk_sets(ann_ivfpq_topk(corpus, queries, **kw).collect())
    want = _topk_sets(
        ann_ivfpq_topk(emb.where("vec_id % 7 != 3"), queries, **kw).collect()
    )
    assert got == want


def test_pq_encode_argmin_and_adc_identity():
    """Two numpy-level laws, no Spark: (a) _pq_encode_block picks, per
    subspace, the codebook entry minimizing residual distance (brute
    force comparison); (b) the ADC decomposition — base(q, cell) +
    sum_s LUT[s][code_s] — equals dot(q, C[cell] + decode(codes)) up
    to float re-association, which is what makes the LUT scan a
    faithful stand-in for scoring reconstructed vectors."""
    import numpy as np

    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        _normalize,
        _pq_encode_block,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(11)
    dim, m, nc = 24, 6, 8
    C = _normalize(rng.standard_normal((5, dim)))
    M = _normalize(rng.standard_normal((40, dim)))
    cells = (M @ C.T).argmax(axis=1)
    books = train_pq_codebooks(M - C[cells], m, nc, seed=2)
    codes = _pq_encode_block(M, books, cells, C)
    sub = dim // m
    R = M - C[cells]
    for i in range(len(M)):
        for s in range(m):
            d = ((books[s] - R[i, s * sub : (s + 1) * sub]) ** 2).sum(
                axis=1
            )
            assert d[codes[i, s]] == d.min()

    q = _normalize(rng.standard_normal((1, dim)))[0]
    LUT = np.stack(
        [q[s * sub : (s + 1) * sub] @ books[s].T for s in range(m)]
    )
    for i in range(len(M)):
        adc = q @ C[cells[i]] + sum(
            LUT[s, codes[i, s]] for s in range(m)
        )
        recon = C[cells[i]] + np.concatenate(
            [books[s][codes[i, s]] for s in range(m)]
        )
        assert np.isclose(adc, q @ recon, rtol=0, atol=1e-12)


def test_ivfpq_string_query_ids(spark, emb):
    """Query ids of ANY type survive the rerank stage: cosine_topk and
    ann_ivf_topk were always id-type-generic, but ann_ivfpq_topk's
    rerank keyed its query index by int(q) and raised on string ids
    (advisor finding r6). String-id results must equal the int-id run
    under the identity qid -> 'q<qid>'."""
    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        ann_ivfpq_topk,
    )

    q_int = emb.where("vec_id % 200 = 0")
    q_str = q_int.withColumn(
        "vec_id", F.concat(F.lit("q"), F.col("vec_id"))
    )
    kw = dict(
        k=3, n_centroids=8, n_probe=8, m_subspaces=8, n_codes=16,
        refine=16, exclude_self=False,
    )
    want = _topk_sets(ann_ivfpq_topk(emb, q_int, **kw).collect())
    got = _topk_sets(ann_ivfpq_topk(emb, q_str, **kw).collect())
    assert got == {f"q{k}": v for k, v in want.items()}


def test_ivfpq_prebuilt_index_matches_inline(spark, emb, tmp_path):
    """The encode-once deployment shape: build_ivfpq_index once, query
    many — results must equal the inline (train-per-call) path with
    the same seeds/knobs, including after the encoded table round-trips
    through parquet (the stored-codes scan the --io proof measures)."""
    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        IvfPqIndex, ann_ivfpq_topk, build_ivfpq_index,
    )

    queries = emb.where("vec_id % 100 = 0")
    knobs = dict(n_centroids=8, m_subspaces=8, n_codes=16)
    kw = dict(k=5, n_probe=4, refine=8)

    inline = _topk_sets(ann_ivfpq_topk(emb, queries, **knobs, **kw).collect())

    idx = build_ivfpq_index(emb, **knobs)
    via_index = _topk_sets(
        ann_ivfpq_topk(emb, queries, index=idx, **kw).collect()
    )
    assert via_index == inline

    # parquet round-trip of the stored-codes table
    p = str(tmp_path / "codes.parquet")
    idx.encoded.write.parquet(p)
    stored = IvfPqIndex(
        idx.centroids, idx.codebooks, spark.read.parquet(p),
        spill=idx.spill, id_col=idx.id_col,
    )
    via_stored = _topk_sets(
        ann_ivfpq_topk(emb, queries, index=stored, **kw).collect()
    )
    assert via_stored == inline

    # query-many: a second query set against the same index
    q2 = emb.where("vec_id % 150 = 0")
    a = _topk_sets(ann_ivfpq_topk(emb, q2, index=stored, **kw).collect())
    b = _topk_sets(ann_ivfpq_topk(emb, q2, **knobs, **kw).collect())
    assert a == b


def test_ivfpq_index_id_col_mismatch_rejected(spark, emb):
    """A prebuilt index encodes under its own id_col; calling
    ann_ivfpq_topk with a different id_col must fail UP FRONT with the
    contract error, not a KeyError inside the ADC scorer (advisor
    finding r7). The matching-name path (non-default on both sides)
    must work."""
    import pytest as _pt

    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        ann_ivfpq_topk, build_ivfpq_index,
    )

    renamed = emb.withColumnRenamed("vec_id", "doc_key")
    idx = build_ivfpq_index(
        renamed, n_centroids=8, m_subspaces=8, n_codes=16,
        id_col="doc_key",
    )
    queries = renamed.where("doc_key % 100 = 0")
    with _pt.raises(ValueError, match="id_col mismatch"):
        ann_ivfpq_topk(renamed, queries, index=idx)  # default vec_id
    out = ann_ivfpq_topk(
        renamed, queries, index=idx, id_col="doc_key", k=5, n_probe=4,
    )
    assert out.count() > 0
    assert set(out.columns) == {"qid", "doc_key", "sim"}


def test_semantic_dedup_anchor_equals_bruteforce(spark, emb):
    """n_clusters=1 must reproduce the exact brute-force pair set with
    bit-identical fold sims; any spill value collapses to the same
    single-cell pipeline."""
    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    def pairset(df):
        return {(r.vec_a, r.vec_b, r.sim) for r in df.collect()}

    exact = pairset(semantic_dedup_pairs(emb, n_clusters=1, threshold=0.4))
    assert len(exact) > 0
    assert pairset(
        semantic_dedup_pairs(emb, n_clusters=1, threshold=0.4, spill=4)
    ) == exact


def test_semantic_dedup_spill_monotone_and_sound(spark, emb):
    """Boundary replication can only ADD recall (every spilled find is
    a true pair): found sets are nested by spill, always a subset of
    exact, and every emitted sim clears the threshold."""
    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    def pairset(df):
        return {(r.vec_a, r.vec_b): r.sim for r in df.collect()}

    exact = pairset(semantic_dedup_pairs(emb, n_clusters=1, threshold=0.4))
    prev = set()
    for sp in (1, 2, 3):
        got = pairset(
            semantic_dedup_pairs(emb, n_clusters=8, threshold=0.4, spill=sp)
        )
        assert set(got) <= set(exact)
        assert prev <= set(got), f"spill={sp} lost pairs vs spill-1"
        assert all(v >= 0.4 for v in got.values())
        # found pairs carry the exact fold sim, bit-identical
        assert all(exact[k] == v for k, v in got.items())
        prev = set(got)


def test_semantic_dedup_oversize_cluster_skipped_nulls_dropped(spark, emb):
    """Clusters past max_cluster_rows are skipped whole (deterministic
    degenerate-centroid cap); the n_clusters=1 anchor RAISES past the
    cap instead of silently returning zero pairs (r9 advisor fix);
    NULL vectors never reach the scorer."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    # the anchor configuration over the cap must be LOUD, not empty
    with _pt.raises(ValueError, match="brute-force anchor"):
        semantic_dedup_pairs(
            emb, n_clusters=1, threshold=0.4, max_cluster_rows=100
        ).count()
    # clustered path: cap 1 skips every >=2-primary cell -> no pairs
    assert semantic_dedup_pairs(
        emb, n_clusters=8, threshold=0.4, max_cluster_rows=1
    ).count() == 0
    withnull = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    out = semantic_dedup_pairs(withnull, n_clusters=8, threshold=0.4)
    bad = out.where("vec_a % 7 = 0 OR vec_b % 7 = 0").count()
    assert bad == 0


def test_semantic_dedup_spill_monotone_under_binding_cap(spark, emb):
    """r9 advisor fix: the oversize skip is decided on PRE-SPILL
    (primary) cell population. With the cap set EXACTLY at the largest
    primary cell — binding, so post-spill accounting (~x spill rows
    per cell) would trip it and LOSE pairs — spill must stay monotone
    and spill=1 must equal the uncapped spill=1 run (no cell is
    over-cap pre-spill, so nothing may be skipped)."""
    import numpy as np
    from pyspark.sql import functions as F

    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        make_assign_udf,
        semantic_dedup_pairs,
        train_centroids,
        _normalize,
    )

    cents = train_centroids(emb, 8, vec_col="embedding", id_col="vec_id",
                            iterations=2, seed=42)
    assign = make_assign_udf(_normalize(np.asarray(cents)))
    prim = (
        emb.where(F.col("embedding").isNotNull())
        .select(assign("embedding").alias("cell"))
        .groupBy("cell").count().collect()
    )
    cap = max(r["count"] for r in prim)

    def pairset(df):
        return {(r.vec_a, r.vec_b) for r in df.collect()}

    base = pairset(semantic_dedup_pairs(
        emb, threshold=0.4, centroids=cents, spill=1
    ))
    capped1 = pairset(semantic_dedup_pairs(
        emb, threshold=0.4, centroids=cents, spill=1,
        max_cluster_rows=cap,
    ))
    assert capped1 == base, "binding cap skipped an under-cap cell"
    prev = capped1
    for sp in (2, 3):
        got = pairset(semantic_dedup_pairs(
            emb, threshold=0.4, centroids=cents, spill=sp,
            max_cluster_rows=cap,
        ))
        assert prev <= got, f"raising spill to {sp} LOST pairs"
        prev = got
    assert len(prev) > len(base) or prev == base


def test_default_n_clusters_schedule():
    """sqrt below the 1024-row crossover (n = 1M), constant cell rows
    above it, 65_536 centroid cap."""
    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        default_n_clusters,
    )

    assert default_n_clusters(0) == 1
    assert default_n_clusters(1) == 1
    assert default_n_clusters(10_000) == 100          # sqrt regime
    assert default_n_clusters(1_000_000) == 1_000     # crossover
    assert default_n_clusters(4_000_000) == 3_906     # n/1024 > sqrt
    assert default_n_clusters(4_000_000) > int(4_000_000 ** 0.5)
    assert default_n_clusters(10 ** 9) == 65_536      # cap


def test_collect_query_matrix_guards_before_collect(spark, emb, monkeypatch):
    """r9 advisor fix: the closure-size cap must fire from a bounded
    limit(cap+1) probe BEFORE .collect() materializes the query set."""
    import pytest as _pt

    from dazzleduck_sql_duckdb_spark.operators import similarity as S

    monkeypatch.setattr(S, "MAX_CLOSURE_QUERIES", 10)
    with _pt.raises(ValueError, match="chunk the query set"):
        S._collect_query_matrix(emb.limit(50), "vec_id", "embedding")
    # under the cap the path is unchanged
    qids, Q = S._collect_query_matrix(emb.limit(5), "vec_id", "embedding")
    assert len(qids) == 5 and Q.shape[0] == 5


def test_ivfpq_index_save_load_roundtrip(spark, emb, tmp_path):
    """The deployed encode-once/query-many shape across SESSIONS:
    queries against a saved+loaded index are identical to the
    in-memory index (centroids/codebooks round-trip exact via JSON
    float64 repr; the encoded table via parquet)."""
    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        ann_ivfpq_topk,
        build_ivfpq_index,
        load_ivfpq_index,
        save_ivfpq_index,
    )

    idx = build_ivfpq_index(
        emb, n_centroids=8, m_subspaces=8, n_codes=16,
    )
    save_ivfpq_index(idx, str(tmp_path / "ivfpq"))
    idx2 = load_ivfpq_index(spark, str(tmp_path / "ivfpq"))
    assert np.array_equal(idx.centroids, idx2.centroids)
    assert np.array_equal(idx.codebooks, idx2.codebooks)
    queries = emb.where("vec_id % 100 = 0")
    a = ann_ivfpq_topk(emb, queries, index=idx, k=5, n_probe=4).collect()
    b = ann_ivfpq_topk(emb, queries, index=idx2, k=5, n_probe=4).collect()
    assert _topk_sets(a) == _topk_sets(b)
    import pytest as _pt

    with _pt.raises(ValueError, match="ivfpq-v1"):
        (tmp_path / "bad").mkdir()
        (tmp_path / "bad" / "meta.json").write_text('{"format": "x"}')
        load_ivfpq_index(spark, str(tmp_path / "bad"))


def test_ivfpq_refuses_codebooks_without_centroids(spark):
    """PQ codebooks encode residuals against the centroids they were
    trained with; pairing them with fresh centroids is a silently
    mismatched model. The builder must refuse half a model."""
    import numpy as np
    import pytest

    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        build_ivfpq_index,
    )

    emb = spark.createDataFrame(
        [(0, _unit([1.0] * 32), 0)], schema=SCHEMA
    )
    with pytest.raises(ValueError, match="centroids"):
        build_ivfpq_index(
            emb, codebooks=np.zeros((8, 16, 4)), centroids=None
        )


def test_per_query_differential_trips_on_broken_probe(spark, tables):
    """r13 restructure teeth: the per-query differential that gates
    embed_ann_ivf_probed / embed_ann_ivfpq must actually FLIP when the
    probed path breaks. Healthy production config: every per-query row
    reads recall_floor_met=true and n_found==k. Simulated collapse
    (the probed ranking replaced by corpus-random ids — the shape of a
    broken assign/probe/rerank stage): every row flips false, so the
    driver hash breaks loudly instead of the entry sitting rows-only."""
    from pyspark.sql import functions as F

    from dazzleduck_sql_duckdb_spark.plans.similarity import (
        _build_ann_ivf_probed_diff,
        _build_ann_per_query_diff,
    )

    sf = "/root/testdata/sf0.001"
    healthy = _build_ann_ivf_probed_diff(spark, sf).collect()
    assert healthy and all(r.recall_floor_met for r in healthy)
    assert all(r.n_found == 5 and r.n_exact == 5 for r in healthy)

    from dazzleduck_sql_duckdb_spark.plans.queries import spark_sql_for

    exact = spark.sql(spark_sql_for("embed_knn_bruteforce")).select(
        "qid", "vec_id"
    )
    # corpus-random "probed" ranking: shift every hit off by one id —
    # no overlap with the exact top-k is NOT guaranteed per row, but
    # hits collapse far below the 0.6 floor
    broken = exact.select("qid", (F.col("vec_id") + 1).alias("vec_id"))
    rows = _build_ann_per_query_diff(broken, exact, 5, 4).collect()
    assert rows and not any(r.recall_floor_met for r in rows)
