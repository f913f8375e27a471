"""Dedup entries: exact, MinHash+LSH, the streaming screens, components,
the canonical corpus and SimHash, with the seeded MinHash constants.
"""

from __future__ import annotations

import random

from . import dialect as D
from .dialect import DUCK, SPARK
from .queries import q


# ---------------------------------------------------------------- constants

P31 = 2_147_483_647  # Mersenne prime 2^31-1: minhash universe
MINHASH_K = 128
BANDS = 32
SHINGLE_N = 6
JACCARD_PCT = 85  # threshold as integer percent (exact int math)
# 60 bits: hash60 is a 60-bit hash, and staying under bit 62 keeps every
# partial sum inside signed-64 range in both engines (no ANSI overflow).
SIMHASH_BITS = 60
SIMHASH_CHUNK_BITS = 15
SIMHASH_CHUNKS = 4  # 15-bit chunks; hamming<=3 recall is exact by pigeonhole
# dedup_simhash mega-bucket guard:
# buckets up to this size expand pairs via collect_list (one in-memory
# buffer of <= CAP structs); larger buckets take the spill-safe
# sort-merge self-join branch instead, so a template-spam bucket where
# millions of docs share one 15-bit chunk value can never pin a whole
# bucket in a single aggregation buffer. Identical output either way —
# the branches partition buckets by size, and corpora with n_docs <=
# CAP provably have no oversized bucket at all (bucket size <= corpus
# size) so they keep the branch-free single-aggregation plan. 65536
# structs x 16 bytes = 1 MB ceiling per aggregation buffer.
SIMHASH_BUCKET_CAP = 65536
HAMMING_MAX = 3

_rng = random.Random(20260813)
MINHASH_A = [_rng.randrange(1, P31) for _ in range(MINHASH_K)]
MINHASH_B = [_rng.randrange(0, P31) for _ in range(MINHASH_K)]
# Wider seed pool for the RECALL-HELD schedule (K = r *
# bands_for_recall(r) grows past 128 as r grows with corpus size; 512
# covers r=12/b=31=372 with headroom). Drawn AFTER the K=128 lists, so
# widening the pool leaves their values — and every hash-gated entry
# and persisted index built on them — unchanged.
MINHASH_KMAX = 512
MINHASH_A_WIDE = [_rng.randrange(1, P31) for _ in range(MINHASH_KMAX)]
MINHASH_B_WIDE = [_rng.randrange(0, P31) for _ in range(MINHASH_KMAX)]


# ======================================================= dedup operators


@q("dedup_exact")
def _dedup_exact(d: str) -> str:
    # Exact dedup by content hash. Scale: one shuffle on a 128-bit hash —
    # the canonical 100 TB exact-dedup plan (hash, not raw text, as key).
    return """
SELECT md5(text) AS content_hash, CAST(count(*) AS BIGINT) AS n_copies,
  CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
FROM documents GROUP BY 1
"""


def _build_minhash_df(spark, sf_dir: str):
    """DataFrame-API path: MinHash + LSH (operators/dedup.py).

    Shingling, the 62-bit double-polynomial shingle hash, the signature
    and the band keys run in one JVM kernel (scala/DdKernels.scala). The
    oracle never sees the hashes — only the final exact-verified Jaccard
    values, which match the string-set Jaccard up to a ~2^-62
    collision."""
    from ..operators.dedup import minhash_neardup_pairs

    return minhash_neardup_pairs(
        spark.table("documents"),
        shingle_n=SHINGLE_N,
        a=MINHASH_A,
        b=MINHASH_B,
        bands=BANDS,
        threshold_pct=JACCARD_PCT,
    )


@q("dedup_minhash_lsh", spark=_build_minhash_df)
def _minhash_lsh(d: str) -> str:
    """Near-dup pairs at shingle-Jaccard >= 0.85 within language.

    Spark path = MinHash(128) -> 32 LSH bands -> bucket join -> exact
    verify (never n^2; the 100 TB design). Oracle = brute-force pairs.
    Miss probability per true pair at j=0.85 is (1-0.85^4)^32 ~ 5e-11,
    and verification is exact, so the two row sets coincide.
    """
    # NB: the entry's builder runs the Spark side (operators/dedup.py
    # fused kernel); this SQL text is the brute-force formulation used
    # as the DuckDB oracle.
    return _brute_jaccard_pairs(
        d, "doc_id, lang", "\n  ON a.lang = b.lang AND a.doc_id < b.doc_id"
    )


def _brute_jaccard_pairs(d: str, cols: str, on: str) -> str:
    """All (doc_a < doc_b) pairs at shingle-Jaccard >= JACCARD_PCT,
    brute force: the oracle of the MinHash entries and screens. `on`
    is the join condition, which decides language blocking."""
    sh = D.shingles("text", SHINGLE_N, d)
    inter = D.lsize(D.lintersect("a.sh", "b.sh", d), d)
    la, lb = D.lsize("a.sh", d), D.lsize("b.sh", d)
    jac = (
        f"CAST({inter} AS DOUBLE) / CAST({la} + {lb} - {inter} AS DOUBLE)"
    )
    verify = (
        f"100 * {inter} >= {JACCARD_PCT} * ({la} + {lb} - {inter})"
        f" AND 100 * least({la}, {lb}) >= {JACCARD_PCT} * greatest({la}, {lb})"
    )
    return f"""
WITH docs AS (SELECT {cols}, {sh} AS sh FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {jac} AS jaccard
FROM docs a JOIN docs b{on}
WHERE {verify}
"""


def _build_stream_screen(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..streaming.dedup import (
        build_minhash_index, neardup_screen_stream,
    )

    docs = spark.table("documents")
    index = build_minhash_index(
        docs, shingle_n=SHINGLE_N, a=MINHASH_A, b=MINHASH_B,
        bands=32, max_bucket_docs=None,
    )
    out = neardup_screen_stream(
        docs, index, threshold_pct=JACCARD_PCT
    )
    return out.where(F.col("doc_id") < F.col("corpus_id")).select(
        F.col("doc_id").alias("doc_a"),
        F.col("corpus_id").alias("doc_b"),
        "jaccard",
    )


@q("dedup_stream_screen", spark=_build_stream_screen)
def _dedup_stream_screen(d: str) -> str:
    """The streaming near-dup SCREEN's values under the hash gate
    (streaming/dedup.py neardup_screen_stream): incoming docs are
    screened against a static MinHash index — the
    dedupe-new-data-against-the-existing-training-set ingest shape.
    STATELESS by construction (stream-static joins + the
    first-shared-band pair dedup predicate), so it runs append-mode
    with no state store; the stream lifecycle (stream==batch,
    multi-batch arrival independence) is pinned in
    tests/test_streaming_neardup.py, and this entry pins the VALUES:
    self-screening the corpus (kept at in_id < corpus_id) must equal
    the brute-force pair set. Unlike dedup_minhash_lsh the screen has
    NO language blocking — an ingest screen must catch cross-lang
    copies (this corpus has 20 such pairs at sf0.001) — so the oracle
    is the unblocked brute force."""
    return _brute_jaccard_pairs(d, "doc_id", " ON a.doc_id < b.doc_id")


def _build_substring_screen(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..streaming.dedup import (
        build_substring_index, substring_screen_stream,
    )

    docs = spark.table("documents")
    index = build_substring_index(docs)
    out = substring_screen_stream(docs, index)
    return out.where(F.col("doc_id") < F.col("corpus_id")).select(
        F.col("doc_id").alias("doc_a"),
        F.col("corpus_id").alias("doc_b"),
        "shared_windows",
    )


@q("dedup_substring_screen", spark=_build_substring_screen)
def _dedup_substring_screen(d: str) -> str:
    """The streaming exact-substring SCREEN's values under the hash
    gate (streaming/dedup.py substring_screen_stream): incoming docs
    screened against a static window index — the passage-dedup twin
    of dedup_stream_screen (does this new doc share a >=12-token
    passage with the training set?). STATELESS: the incoming doc's
    distinct window-hash array is a per-row expression, candidates
    are stream-static equi-joins on the 8-byte window hash, and the
    first-shared-window anchor (wh == array_min(array_intersect(
    in_whs, whs)) — a pure per-row predicate) emits each pair exactly
    once with the FULL intersection size as its count. Self-screening
    the corpus (kept at in_id < corpus_id) must equal the batch
    dedup_exact_substring pipeline exactly — pairs, counts, and the
    64-doc boilerplate-cap semantics — so the oracle IS that entry's
    DuckDB formulation. Stream lifecycle (stream==batch, arrival
    independence, min_shared) pinned in
    tests/test_streaming_substring.py."""
    from .text import _exact_substring

    return _exact_substring(d)


def _build_semantic_screen(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..streaming.dedup import (
        build_semantic_index, semantic_screen_stream,
    )
    from .similarity import _SEMDEDUP_T

    emb = spark.table("embeddings")
    index = build_semantic_index(emb, n_clusters=1, spill=1)
    out = semantic_screen_stream(emb, index, threshold=_SEMDEDUP_T)
    return out.where(F.col("vec_id") < F.col("corpus_id")).select(
        F.col("vec_id").alias("vec_a"),
        F.col("corpus_id").alias("vec_b"),
        "sim",
    )


@q("embed_semantic_screen", spark=_build_semantic_screen)
def _embed_semantic_screen(d: str) -> str:
    """The streaming SEMANTIC screen's values under the hash gate
    (streaming/dedup.py semantic_screen_stream): incoming embeddings
    screened against a static SemDeDup-style cell index — the third
    member of the screen family (MinHash near-dup, exact-substring
    passage, semantic redundancy), all sharing the stateless
    first-shared-anchor construction. This entry gates the EXACTNESS
    anchor (single-cell index == brute force, the
    embed_semantic_dedup_exact discipline) through the screen's
    join-based per-row fold scoring — a genuinely different physical
    path from the batch applyInPandas blocked scorer, against the
    same brute-force oracle. Production configs (clustered, spilled,
    capped) are pinned bit-exact vs semantic_dedup_pairs in
    tests/test_streaming_semantic.py."""
    from .similarity import _semdedup_exact

    return _semdedup_exact(d)


def _build_minhash_auto_df(spark, sf_dir: str):
    """Production-default MinHash path: banding derived from the corpus
    size via auto_bands(n) and the max_bucket_docs hot-bucket guard ON
    (the knobs the 500k-doc scale proof runs with), facing the same
    DuckDB brute-force oracle as dedup_minhash_lsh. The cap (256) is
    far above any bucket the gate corpora produce, so no pair is
    dropped at gate sf; at production scale the same cap is what
    bounds boilerplate mega-clusters."""
    from ..operators.dedup import auto_bands, minhash_neardup_pairs

    docs = spark.table("documents")
    n = docs.count()
    return minhash_neardup_pairs(
        docs,
        shingle_n=SHINGLE_N,
        a=MINHASH_A,
        b=MINHASH_B,
        bands=auto_bands(n, k=MINHASH_K),
        threshold_pct=JACCARD_PCT,
        max_bucket_docs=256,
    )


@q("dedup_minhash_auto", spark=_build_minhash_auto_df)
def _minhash_auto(d: str) -> str:
    """dedup_minhash_lsh's contract under the PRODUCTION knobs: the
    Spark side (_build_minhash_auto_df) runs bands = auto_bands(n_docs) and a
    non-None max_bucket_docs hot-bucket cap — the exact defaults
    tools/scale_proof.py measures at 500k docs — against the same
    brute-force DuckDB oracle.

    Gate determinism: MinHash signatures are fixed functions of
    (text, MINHASH_A/B), so the result set is deterministic, not a
    recall sample — it either equals the oracle at a given sf or it
    never does. At the gate sizes (sf0.001/sf0.01 -> r=5..7 per
    auto_bands) the per-pair miss probability at the J=0.85 boundary
    is <=1e-3 and the corpus' planted dups sit near J~1 (miss ~1e-11),
    and the equality IS verified exactly by this entry. At 500k+ docs
    (r>=10) the schedule's at-threshold recall drops to 92.8% — the
    explicit contract documented at auto_bands/minhash_pair_recall."""
    return _minhash_lsh(d)


def _build_minhash_recall_held_df(spark, sf_dir: str):
    """Recall-held schedule: r from auto-banding, b = bands_for_recall
    (r) so per-pair recall at J=0.85 stays >=99%, K = r*b seeds from
    the wide pool. See _minhash_recall_held docstring."""
    import math

    from ..operators.dedup import bands_for_recall, minhash_neardup_pairs

    docs = spark.table("documents")
    n = docs.count()
    r = min(12, max(4, math.ceil(math.log2(max(n, 2)) / 2)))
    b = bands_for_recall(r, threshold=JACCARD_PCT / 100, min_recall=0.99)
    k = r * b
    assert k <= MINHASH_KMAX, (r, b, k)
    return minhash_neardup_pairs(
        docs,
        shingle_n=SHINGLE_N,
        a=MINHASH_A_WIDE[:k],
        b=MINHASH_B_WIDE[:k],
        bands=b,
        threshold_pct=JACCARD_PCT,
        max_bucket_docs=256,
    )


@q("dedup_minhash_recall_held", spark=_build_minhash_recall_held_df)
def _minhash_recall_held(d: str) -> str:
    """The RECALL-HELD production schedule under the oracle gate: r
    still grows with log2(n) (auto-banding keeps the false-candidate
    term ~linear), but instead of holding K=128 and letting at-
    threshold recall decay (92.8% at r=10, 78.4% at r=12 — the
    explicit contract in auto_bands), the signature WIDENS with r:
    b = bands_for_recall(r) so 1-(1-0.85^r)^b >= 99%, K = r*b (up to
    372 at the r=12 cap; signature cost is linear in K, one pass of
    the JVM kernel in scala/DdKernels.scala per document). Same
    brute-force DuckDB oracle as dedup_minhash_lsh — at gate sizes
    BOTH schedules must equal it exactly; at 500k+ docs this one
    keeps >=99% of threshold-grade pairs where the fixed-K schedule
    trades them for speed."""
    return _minhash_lsh(d)


def _build_dedup_components(spark, sf_dir: str):
    from ..operators.components import connected_components

    pairs = _build_minhash_df(spark, sf_dir)
    # minhash pairs are distinct with doc_a < doc_b by construction ->
    # skip the defensive symmetrize-distinct exchange
    return connected_components(
        pairs, "doc_a", "doc_b", edges_distinct=True
    )


@q("dedup_components", spark=_build_dedup_components)
def _dedup_components(d: str) -> str:
    """Near-dup clusters: connected components over the minhash pair
    graph (component = min reachable doc_id). Spark runs iterative
    min-label propagation (operators/components.py); the oracle walks
    the same graph with a recursive CTE over the brute-force pairs."""
    return f"""
{_reach_cte()}SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY node
"""


def _reach_cte() -> str:
    """WITH clause whose `reach(node, r)` walks the brute-force MinHash
    pair graph: every node with each node reachable from it."""
    pairs = _minhash_lsh(DUCK)
    return f"""WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION
  SELECT doc_b AS s, doc_a AS t FROM pairs),
reach(node, r) AS (
  SELECT s AS node, s AS r FROM edges
  UNION
  SELECT e.t AS node, reach.r FROM reach JOIN edges e ON e.s = reach.node)
"""


# shared tail: given a (doc_id, component) relation `{comp}` covering the
# clustered docs, label every document (unclustered docs are their own
# component) and keep ONE representative per component — longest text,
# doc_id tie-break. Identical SQL in both dialects.
_CANON_TAIL = """
WITH lab AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, d.n_chars
  FROM documents d LEFT JOIN {comp} c ON c.doc_id = d.doc_id),
ranked AS (
  SELECT lab.*,
    row_number() OVER (PARTITION BY component
                       ORDER BY n_chars DESC, doc_id) AS rk,
    count(*) OVER (PARTITION BY component) AS n_docs
  FROM lab)
SELECT CAST(component AS BIGINT) AS component,
  CAST(doc_id AS BIGINT) AS kept_doc,
  CAST(n_chars AS BIGINT) AS kept_chars,
  CAST(n_docs AS BIGINT) AS n_docs
FROM ranked WHERE rk = 1
"""


def _build_dedup_canonical(spark, sf_dir: str):
    """Spark path: aggregation-based representative selection instead of
    the oracle's window. row_number() OVER (PARTITION BY component ...)
    sorts each component inside ONE partition — a pathological
    mega-cluster (template spam) becomes a single hot sort at 100 TB.

    Selection is ONE partial-aggregatable pass:
    max(struct(n_chars, -doc_id)) picks the longest text with the
    LOWEST doc_id on ties (struct ordering is lexicographic, so
    negating doc_id turns the min tie-break into the max). A two-pass
    form (max(n_chars) + min(doc_id among maxima) over a persisted
    `lab` + join-back) picks the same row at the cost of a cache write,
    a second aggregation and a join; map-side combine makes the single
    max/count skew-immune at 100 TB.

    NULL n_chars (no such rows exist in any test corpus): a join-back
    on n_chars == kept_chars would DROP a component whose rows all had
    NULL n_chars; the struct max emits it with NULL kept_chars and the
    min doc_id, which matches the DuckDB oracle's window formulation
    (row_number orders NULLs like any value; the component keeps a row
    either way)."""
    from pyspark.sql import functions as F

    comps = _build_dedup_components(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "n_chars")
    lab = docs.join(comps, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component"),
        "n_chars",
    )
    best = lab.groupBy("component").agg(
        F.max(
            F.struct(
                F.col("n_chars"), (-F.col("doc_id")).alias("neg_doc")
            )
        ).alias("best"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return best.select(
        F.col("component").cast("long"),
        (-F.col("best.neg_doc")).cast("long").alias("kept_doc"),
        F.col("best.n_chars").cast("long").alias("kept_chars"),
        F.col("n_docs").cast("long"),
    )


@q("dedup_canonical_corpus", spark=_build_dedup_canonical)
def _dedup_canonical(d: str) -> str:
    """The dedup pipeline's end product: the deduplicated corpus. Every
    near-dup cluster (connected components over the MinHash pair graph)
    keeps one canonical representative — longest text, lowest doc_id on
    ties — and unclustered documents keep themselves.

    Scale: components via iterative min-label propagation (bounded
    rounds, no driver graph state); the labeling join is |docs| x
    |clustered docs| hash join; representative selection is one window
    over component. The oracle walks the same graph with a recursive
    CTE over the brute-force pairs and applies the identical selection
    SQL."""
    comp = f"""(
{_reach_cte()}SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node
)"""
    return _CANON_TAIL.format(comp=comp)


def _simhash_from_hashes(hs_col: str, d: str) -> str:
    """60-bit SimHash from a column holding the per-token hash array."""
    hs = hs_col
    if d == SPARK:
        bitsum = (
            "aggregate(transform(__HS__, v -> CASE WHEN ((v >> b) & 1) = 1"
            " THEN 1 ELSE -1 END), 0, (a, x) -> a + x)"
        )
        expr = (
            f"aggregate(sequence(0, {SIMHASH_BITS - 1}), 0L, (acc, b) ->"
            f" acc + (CASE WHEN {bitsum} > 0 THEN shiftleft(1L, b) ELSE 0L END))"
        )
    else:
        bitsum = (
            "list_reduce(list_prepend(0, list_transform(__HS__, v -> CASE WHEN"
            " ((v >> b) & 1) = 1 THEN 1 ELSE -1 END)), (a, x) -> a + x)"
        )
        expr = (
            f"list_reduce(list_prepend(0::BIGINT, list_transform("
            f"range(0, {SIMHASH_BITS}), b -> CASE WHEN {bitsum} > 0"
            f" THEN (1::BIGINT << b) ELSE 0::BIGINT END)), (acc, x) -> acc + x)"
        )
    return expr.replace("__HS__", hs)


def _simhash64(d: str) -> str:
    """60-bit SimHash over whitespace tokens via the portable hash
    (inline form — used by the DuckDB oracle; the Spark path stages
    token hashes first, see _stage_simhash_values)."""
    tk = D.tokens("text", d)
    h = D.hash60("t", d)
    hs = D.ltransform(tk, f"t -> {h}", d)
    return _simhash_from_hashes(hs, d)


# ======================================================= staged Spark plans
#
# Expression-level sharing: Spark's optimizer inlines CTEs/projections,
# so an expensive per-row array (md5 shingle hashes) referenced inside a
# higher-order-function lambda would be recomputed per lambda iteration
# (128 permutations x 32 bands = 4096x). The scale-correct plan stages
# the heavy projection and persists it, cutting the lineage — on a real
# cluster this is a cached/checkpointed intermediate dataset. The DuckDB
# oracles keep their single-statement brute-force form.


def _stage(spark, view: str, df):
    """Persist `df` and register it as temp view `view`.

    Deliberately re-built on every call: `df` reads session temp views
    (documents etc.) that load_tables re-points at a different sf_dir
    between gate runs, so reusing an earlier staging could serve stale
    data. The view's previous plan is uncached first, because
    createOrReplaceTempView alone leaves it in the cache manager."""
    if spark.catalog.tableExists(view):
        spark.catalog.uncacheTable(view)
    df = df.persist()
    df.createOrReplaceTempView(view)
    return df


def _stage_simhash_values(spark) -> None:
    # Tokenization stays codegen'd SQL (split/filter — exactly the
    # oracle's token set); the per-token md5 + 60-bit majority fold is
    # one JVM kernel (operators/dedup.py simhash_column). The SQL twin
    # evaluates md5 inside an interpreted HOF lambda (~250k evals at
    # sf0.1); the kernel is bit-identical: hash60(t) ==
    # int(md5(utf8(t)).hexdigest()[:15], 16).
    from pyspark.sql import functions as F

    from ..operators.dedup import simhash_column

    # widen the single-row-group scan before the CPU-heavy kernel (no-op
    # on real multi-partition inputs)
    n_parts = spark.sparkContext.defaultParallelism
    tk = D.tokens("text", SPARK)
    df = spark.sql(
        f"SELECT /*+ REPARTITION({n_parts}) */ doc_id, lang, {tk} AS tok"
        " FROM documents"
    ).select(
        "doc_id", "lang",
        simhash_column(F.col("tok"), SIMHASH_BITS).alias("simhash"),
    )
    _stage(spark, "__sh_vals", df)


def _build_simhash_values(spark, sf_dir: str):
    _stage_simhash_values(spark)
    return spark.sql("SELECT doc_id, simhash FROM __sh_vals")


def _build_dedup_simhash(spark, sf_dir: str):
    # the corpus size picks the plan form (one metadata-cheap count(*)
    # job over the parquet view; the bucket-size bound it proves is
    # what keeps small corpora on the single-aggregation plan)
    n_docs = spark.table("documents").count()
    _stage_simhash_values(spark)
    return spark.sql(_simhash_pairs(SPARK, n_docs=n_docs))


@q("simhash_values", spark=_build_simhash_values)
def _simhash_vals(d: str) -> str:
    return f"SELECT doc_id, {_simhash64(d)} AS simhash FROM documents"


@q("dedup_simhash", spark=_build_dedup_simhash)
def _simhash_pairs(d: str, n_docs: int | None = None) -> str:
    """SimHash near-dup pairs (hamming <= 3) within language.

    Spark path blocks on {SIMHASH_CHUNKS} 16-bit chunks: 3 flipped bits
    can dirty at most 3 chunks, so one chunk always matches — recall is
    EXACTLY 100% (pigeonhole), which makes LSH == brute-force oracle.

    One bucket aggregation on (lang, chunk, ck) replaces a chunk
    self-join (2 exchanges + SMJ sort) + DISTINCT exchange + two
    broadcast join-backs. Simhashes ride the bucket structs, so
    hamming is computed in-bucket; the DISTINCT is replaced by an
    equivalent emit-at-first-matching-chunk predicate (a pair's
    matching chunks are exactly the zero 15-bit chunks of ha^hb, so
    "chunk == first zero chunk" keeps exactly one copy). NB
    shiftright(): after a LATERAL VIEW the Spark 4.1 lexer stops
    accepting the '>>' operator (probed — parse error), so the
    post-explode arms use the function form.

    Bounding the mega-bucket: an uncapped collect_list lands one
    template-spam bucket (every doc sharing a 15-bit chunk value in
    one lang) in a single unspillable aggregation buffer — an executor
    OOM at 100 TB. The plan choice is therefore SCALE-GATED on a
    provable bound: a bucket can never hold more members than the
    corpus has docs, so when n_docs <= SIMHASH_BUCKET_CAP the
    single-aggregation plan is already buffer-bounded and is kept
    verbatim; only larger corpora (or an unknown n_docs) pay the
    spill-safe routing plan, where a window count over the bucket key
    sends <=CAP buckets through the collect_list expansion (buffer
    <= CAP structs = 1 MB) and oversized buckets through a sort-merge
    self-join (spill-safe, and only for the rows that need it;
    WindowExec buffers spill via ExternalAppendOnlyUnsafeRowArray, SMJ
    sorts spill). The two forms
    emit IDENTICAL pairs for any corpus — the branches partition
    buckets by size (pinned on a synthetic mega-bucket corpus by
    tests/test_dedup.py::test_simhash_mega_bucket_form_identical).
    Measured at sf0.1 (interleaved A/B, median of 9): the routing
    form costs 2.4x the single-agg form (three window exchanges — AQE
    stage reuse over the textually identical subtrees does not fire,
    see the in-SQL notes — plus the window sort), which is exactly
    why it is gated to the corpora that need it; the n_docs count the
    gate needs is one metadata-cheap job in the entry's builder.
    """
    ham = "bit_count(a.simhash ^ b.simhash)" if d == SPARK else (
        "bit_count(xor(a.simhash, b.simhash))"
    )
    if d == SPARK:
        mask = (1 << SIMHASH_CHUNK_BITS) - 1
        first_chunk = "CASE " + " ".join(
            f"WHEN ({'(ha ^ hb)' if c == 0 else f'shiftright(ha ^ hb, {c * SIMHASH_CHUNK_BITS})'}"
            f" & {mask}) = 0 THEN {c}"
            for c in range(SIMHASH_CHUNKS - 1)
        ) + f" ELSE {SIMHASH_CHUNKS - 1} END"
        tail = f"""
SELECT da AS doc_a, db AS doc_b, CAST(bit_count(ha ^ hb) AS INT) AS hamming
FROM pairs
WHERE bit_count(ha ^ hb) <= {HAMMING_MAX}
  AND chunk = {first_chunk}
"""
        if n_docs is not None and n_docs <= SIMHASH_BUCKET_CAP:
            # n_docs <= CAP proves every (lang, chunk, ck) bucket is
            # <= CAP members: the single-aggregation plan is
            # buffer-bounded as-is
            return f"""
WITH s AS (SELECT doc_id, lang, simhash FROM __sh_vals),
chunks AS (
  SELECT lang, chunk,
    (simhash >> (chunk * {SIMHASH_CHUNK_BITS})) & {mask} AS ck,
    struct(doc_id, simhash) AS m
  FROM s LATERAL VIEW explode(sequence(0, {SIMHASH_CHUNKS - 1})) t AS chunk
  WHERE lang IS NOT NULL AND simhash IS NOT NULL AND doc_id IS NOT NULL),
buckets AS (
  SELECT chunk, collect_list(m) AS ms
  FROM chunks GROUP BY lang, chunk, ck
  HAVING size(collect_list(m)) >= 2),
pairs AS (
  SELECT chunk, a.doc_id AS da, a.simhash AS ha,
         b.doc_id AS db, b.simhash AS hb
  FROM buckets
  LATERAL VIEW explode(ms) ta AS a
  LATERAL VIEW explode(ms) tb AS b
  WHERE a.doc_id < b.doc_id)
{tail}"""
        # spill-safe routing form for corpora where a bucket COULD
        # exceed the cap. In-SQL plan notes:
        # - the notnull predicates in `chunks` are no-ops on this data
        #   and align the NULL-lang case with the oracle's plain
        #   equi-join; stated in the shared subtree (with ck's in `w`)
        #   so the pairs_big join's inferred isnotnull constraints add
        #   nothing new below the window, keeping the three window
        #   consumers textually identical;
        # - chunk comes from a 4-row range() cross join, NOT
        #   explode(sequence(0,3)): the folded array literal
        #   canonicalizes by object identity (probed: two textually
        #   identical Generate subtrees never stage-reuse);
        # - even so, AQE materialized three separate (identical)
        #   exchanges of the chunk table in the probe runs — the
        #   remaining canonicalization mismatch is undiagnosed, so the
        #   subtree-identity work above is best-effort, not load-
        #   bearing; the plan is correct and spill-safe either way.
        return f"""
WITH s AS (SELECT doc_id, lang, simhash FROM __sh_vals),
chunks AS (
  SELECT lang, chunk,
    (simhash >> (chunk * {SIMHASH_CHUNK_BITS})) & {mask} AS ck,
    struct(doc_id, simhash) AS m
  FROM s CROSS JOIN (
    SELECT CAST(id AS INT) AS chunk FROM range({SIMHASH_CHUNKS})) t
  WHERE lang IS NOT NULL AND simhash IS NOT NULL AND doc_id IS NOT NULL),
w AS (
  SELECT lang, chunk, ck, m,
    count(*) OVER (PARTITION BY lang, chunk, ck) AS n
  FROM chunks WHERE ck IS NOT NULL),
buckets AS (
  SELECT chunk, collect_list(m) AS ms
  FROM w WHERE n BETWEEN 2 AND {SIMHASH_BUCKET_CAP}
  GROUP BY lang, chunk, ck),
pairs_small AS (
  SELECT chunk, a.doc_id AS da, a.simhash AS ha,
         b.doc_id AS db, b.simhash AS hb
  FROM buckets
  LATERAL VIEW explode(ms) ta AS a
  LATERAL VIEW explode(ms) tb AS b
  WHERE a.doc_id < b.doc_id),
pairs_big AS (
  -- MERGE pins the spill-safe sort-merge plan (a broadcast build of
  -- the oversized-bucket side is exactly the blow-up this branch
  -- exists to avoid); the window's sort already satisfies the SMJ's
  -- ordering, so this branch adds no exchange of its own.
  SELECT /*+ MERGE(x) */
         x.chunk, x.m.doc_id AS da, x.m.simhash AS ha,
         y.m.doc_id AS db, y.m.simhash AS hb
  FROM w x JOIN w y
    ON x.lang = y.lang AND x.chunk = y.chunk AND x.ck = y.ck
    AND x.m.doc_id < y.m.doc_id
  WHERE x.n > {SIMHASH_BUCKET_CAP} AND y.n > {SIMHASH_BUCKET_CAP}),
pairs AS (
  SELECT * FROM pairs_small UNION ALL SELECT * FROM pairs_big)
{tail}"""
    return f"""
WITH s AS (SELECT doc_id, lang, {_simhash64(d)} AS simhash FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST({ham} AS INT) AS hamming
FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE {ham} <= {HAMMING_MAX}
"""


@q("ngram_jaccard_sampled")
def _ngram_jaccard(d: str) -> str:
    # exact n-gram Jaccard for a FIXED-SIZE probe panel (doc_id % 10 =
    # 0 AND doc_id < 1000 — at most 100 probe docs regardless of
    # corpus size) against the whole corpus: the explicit brute-force
    # baseline, both engines running the same plan shape. The absolute
    # probe bound is the scale story — audit cost is O(panel * corpus)
    # with a CONSTANT panel, never O(corpus^2/10) (measured: the
    # unbounded 10% probe cost 65s at sf0.1; the panel 13s, and gate-
    # scale results are identical since every gate-corpus doc_id <
    # 1000). Threshold J >= 1/5 uses exact integer arithmetic (no
    # float boundary) and the panel is sized so the gated result is
    # NON-EMPTY at every gate scale: sf0.001 -> 3 pairs, sf0.01 -> 8
    # pairs (a 2%-sample/J>=1/3 form returns 0 rows on both sides,
    # which proves nothing).
    sh = D.shingles("text", SHINGLE_N, d)
    inter = D.lsize(D.lintersect("a.sh", "b.sh", d), d)
    la, lb = D.lsize("a.sh", d), D.lsize("b.sh", d)
    jac = f"CAST({inter} AS DOUBLE) / CAST({la} + {lb} - {inter} AS DOUBLE)"
    return f"""
WITH docs AS (SELECT doc_id, lang, {sh} AS sh FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {jac} AS jaccard
FROM docs a JOIN docs b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE a.doc_id % 10 = 0 AND a.doc_id < 1000
  AND 5 * {inter} >= ({la} + {lb} - {inter})
"""
