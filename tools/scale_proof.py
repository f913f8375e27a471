"""Empirical scale-proof for the dedup/ANN pipelines.

    python tools/scale_proof.py [--small N] [--big N]

Generates two synthetic documents/embeddings sets that mimic the driver
testdata's structure (10-100-token docs over a Zipf vocabulary — see
VOCAB_SIZE for why a LARGE vocab is load-bearing — lang/source mix,
planted exact+near duplicate clusters at the observed ~0.5% density;
unit-norm 64-d embeddings, 10 labels) at two sizes
(default 5k and 50k docs — the sf0.1 and sf1 equivalents), runs each
pipeline at both sizes on the same local session, and prints the
per-pipeline scaling exponent  e = log(t_big/t_small) / log(N_big/
N_small).  LSH/candidates-then-verify pipelines should land near e ~ 1
(linear); e ~ 2 would expose a hidden all-pairs or hot key before a
real cluster does.

Output parquet lives under .scale/ (gitignored); results are printed
as a markdown table to paste into BENCH_NOTES.md.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# Zipf-distributed synthetic vocabulary. Round 3 used the driver
# testdata's 31-token vocabulary; at 500k docs that made the corpus
# pathologically SELF-SIMILAR — baseline pairwise shingle-Jaccard ~0.4,
# so essentially every pair became an LSH band-bucket candidate and the
# verify join went quadratic (>80 GB SMJ spill, local disk full). That
# measures the data's degeneracy, not the pipeline's scaling: the
# proof's control variable is per-doc duplicate density (planted, held
# constant), which requires the BASELINE Jaccard of unrelated docs to
# stay low, as it is in any real corpus. A 20k-token Zipf(1.1) vocab
# gives realistic token sharing with low baseline shingle overlap.
VOCAB_SIZE = 20_000


def gen_documents(n: int, out: str, seed: int = 42) -> None:
    rng = np.random.default_rng(seed)
    vocab = np.array([f"tok{i}" for i in range(VOCAB_SIZE)])
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 1.1
    p /= p.sum()
    langs = list(rng.choice(LANGS, size=n, p=LANG_P))
    sources = [f"src{int(i)}" for i in rng.integers(0, 20, size=n)]
    lens = rng.integers(10, 101, size=n)
    draws = rng.choice(VOCAB_SIZE, size=int(lens.sum()), p=p)
    texts: list[str] = []
    off = 0
    for ln in lens:
        texts.append(" ".join(vocab[draws[off : off + int(ln)]]))
        off += int(ln)
    # plant duplicate structure at the driver-testdata density:
    # ~0.2% exact-dup pairs, ~0.4% near-dup pairs (1-2 token edits)
    n_exact, n_near = max(1, n // 500), max(1, n // 250)
    for _ in range(n_exact):
        a, b = rng.integers(0, n, size=2)
        texts[b] = texts[a]
        langs[b] = langs[a]
    for _ in range(n_near):
        a, b = rng.integers(0, n, size=2)
        toks = texts[a].split()
        for _ in range(int(rng.integers(1, 3))):
            toks[int(rng.integers(0, len(toks)))] = str(
                vocab[int(rng.integers(0, VOCAB_SIZE))]
            )
        texts[b] = " ".join(toks)
        langs[b] = langs[a]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, out)


def gen_embeddings_structured(
    n: int, out: str, dim: int = 64, seed: int = 7,
    n_concepts: int = 256, alpha: float = 0.5,
) -> None:
    """Embeddings with REAL-CORPUS structure (the unstructured random corpus makes threshold pair mass itself
    quadratic — the adversarial case; this generator is the
    bounded-duplicate-density case the semdedup docstring claims is
    assignment-bound). Discipline mirrors gen_documents: vectors live
    on a concept manifold (alpha * concept + sqrt(1-alpha^2) * noise;
    same-concept baseline cosine ~ alpha^2 = 0.25, far below any
    dedup threshold), with planted duplicate structure at the
    driver-testdata density — ~0.2% exact-dup pairs and ~0.4%
    near-dup pairs (small perturbation, cosine ~0.97). Pair mass at a
    SemDeDup-regime threshold (0.9 — the paper screens at cosine
    ~0.95+) is therefore LINEAR in n by construction."""
    rng = np.random.default_rng(seed)
    C = rng.standard_normal((n_concepts, dim))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    cid = rng.integers(0, n_concepts, size=n)
    noise = rng.standard_normal((n, dim))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    V = alpha * C[cid] + math.sqrt(1.0 - alpha * alpha) * noise
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    n_exact, n_near = max(1, n // 500), max(1, n // 250)
    for _ in range(n_exact):
        a, b = rng.integers(0, n, size=2)
        V[b] = V[a]
    for _ in range(n_near):
        a, b = rng.integers(0, n, size=2)
        w = V[a] + 0.15 * rng.standard_normal(dim) / math.sqrt(dim)
        V[b] = w / np.linalg.norm(w)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32) for v in V],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(
                rng.integers(0, 10, size=n).astype(np.int32), pa.int32()
            ),
        }
    )
    pq.write_table(tbl, out)


def gen_embeddings(n: int, out: str, dim: int = 64, seed: int = 7) -> None:
    rng = np.random.default_rng(seed)
    V = rng.standard_normal((n, dim))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32) for v in V],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(
                rng.integers(0, 10, size=n).astype(np.int32), pa.int32()
            ),
        }
    )
    pq.write_table(tbl, out)


# The dedup trio runs at each size's PRODUCTION banding
# (operators/dedup.py auto_bands: r = clamp(ceil(log2 n / 2), 4, 12)),
# not the catalog's bands=32 (r=4): rows-per-band is LSH's scale knob,
# exactly as n_centroids ~ sqrt(N) is IVF's. r=4 is the right setting
# for the sf<=0.1 oracle gate (per-pair miss probability 5e-11 at
# J=0.85) but its false-candidate rate makes the candidate set
# quadratic in corpus size on any corpus with nonzero baseline
# similarity — measured on THIS generator's data: 6.0M candidate pairs
# at 50k docs, 596M at 500k (the 100x quadratic signature; >80 GB of
# verify-join spill, ENOSPC), vs 229k at 500k with r=8. The exponent
# measured here is the SYSTEM's scaling law — operator plus its
# documented auto-tuning — the same way the IVF rows scale the index
# with sqrt(N). Round 4 measured a FIXED r=8 at both sizes: e=1.13-1.34
# (the residual candidate term grows past linear at fixed r, by
# construction); with auto_bands this run tests the rule's claim that
# growing r with log n holds e <= ~1.2.
#
# Recall caveat (explicit contract, see auto_bands docstring +
# minhash_pair_recall): at fixed K=128 the schedule's at-threshold
# per-pair recall is 99.4% at r=8 but 92.8% at r=10 (500k docs) and
# 78.4% at the r=12 cap — these timing runs therefore exercise a
# candidate volume ~7-20% SMALLER at the J=0.85 boundary than a
# recall-held schedule (K = r * bands_for_recall(r)) would; pairs well
# above threshold (the dup mass this generator plants at J~1) are
# detected near-certainly at every r, so the measured exponents stand.
DEDUP_PIPELINES = [
    "dedup_minhash_lsh",
    "dedup_components",
    "dedup_canonical_corpus",
]
PIPELINES = [
    "embed_ann_ivf_fullprobe",
    "embed_ann_ivf_probed",
    "embed_ann_ivfpq",
    # the two text operators with only a design argument for scaling:
    # text_perplexity: broadcast vocab join, expect ~linear.
    # dedup_exact_substring: bounded 2..64-doc window buckets; the
    # synthetic corpus plants exact/near dups at fixed density over a
    # 20k Zipf vocab, so shared windows track the planted pairs and
    # bucket sizes stay bounded — expect ~linear, NOT quadratic.
    "text_perplexity",
    "dedup_exact_substring",
    # the brute-force Jaccard baseline is
    # bounded to a FIXED 100-doc probe panel (doc_id % 10 = 0 AND
    # doc_id < 1000), so cost is O(panel x corpus) — expect e ~ 1
    # (the unbounded 10% probe measured 65s at sf0.1; the panel 18s).
    "ngram_jaccard_sampled",
    # the >62-source chunked-mask contamination
    # path. The synthetic corpus's derived fine source (source +
    # doc_id % 100) yields up to 1000 labels -> ~17 mask chunks; the
    # gm self-join on gh is bounded per gram by chunk-pair count, so
    # expect ~linear in docs, NOT quadratic.
    "cross_source_contamination_chunked",
]

# semantic dedup runs OUTSIDE the catalog config: the catalog pins
# K=8 for the sf-scale gate, but at proof sizes the scale knob is
# CONSTANT CELL SIZE (K = n/1024), not sqrt(n) cells — within-cell
# scoring is n * cell_rows * spill, so constant cells give linear
# compute where sqrt sizing would give n^1.5 (the sizing note in the
# semantic_dedup_pairs docstring; exactly why IVF sizes by sqrt(N)
# [probe count] and SemDeDup must not).
SEMDEDUP_PIPELINE = "embed_semantic_dedup"
SEMDEDUP_STRUCTURED = "embed_semantic_dedup (structured)"


def _proof_semdedup_structured(spark, sf_dir: str):
    """The structured-corpus twin: constant-cell
    K = n/1024, spill=3, threshold at the SemDeDup screening regime
    (0.9) over the concept-manifold corpus with planted duplicate
    density — the linear-pair-mass case the semdedup docstring argues
    real corpora present."""
    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings_structured.parquet")
    )
    n = emb.count()
    k = max(4, n // 1024)
    print(
        f"# {SEMDEDUP_STRUCTURED}: n={n} -> n_clusters={k}"
        " (spill=3, threshold=0.9)",
        file=sys.stderr,
    )
    return semantic_dedup_pairs(
        emb, n_clusters=k, threshold=0.9, spill=3
    )


def _proof_semdedup(spark, sf_dir: str):
    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    k = max(4, n // 1024)
    print(f"# {SEMDEDUP_PIPELINE}: n={n} -> n_clusters={k} (spill=3)",
          file=sys.stderr)
    return semantic_dedup_pairs(
        emb, n_clusters=k, threshold=0.4, spill=3
    )


def _proof_dedup(name: str):
    """Operator-level twin of the catalog dedup entries with the
    banding at each size's production default (the catalog pins
    bands=32 for its oracle)."""

    def build(spark, sf_dir: str):
        from dazzleduck_sql_duckdb_spark.operators.components import (
            connected_components,
        )
        from dazzleduck_sql_duckdb_spark.operators.dedup import (
            auto_bands,
            minhash_neardup_pairs,
        )
        from dazzleduck_sql_duckdb_spark.plans import dedup as Q

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        n_docs = docs.count()
        bands = auto_bands(n_docs, k=Q.MINHASH_K)
        print(
            f"# {name}: n={n_docs} -> bands={bands} "
            f"(r={Q.MINHASH_K // bands})",
            file=sys.stderr,
        )
        pairs = minhash_neardup_pairs(
            docs,
            shingle_n=Q.SHINGLE_N,
            a=Q.MINHASH_A,
            b=Q.MINHASH_B,
            bands=bands,
            threshold_pct=Q.JACCARD_PCT,
        )
        if name == "dedup_minhash_lsh":
            return pairs
        comp = connected_components(pairs, "doc_a", "doc_b")
        if name == "dedup_components":
            return comp
        docs.createOrReplaceTempView("documents")
        comp.createOrReplaceTempView("__proof_comp")
        return spark.sql(Q._CANON_TAIL.format(comp="__proof_comp"))

    return build

# --relational mode: the heaviest multi-join / window / aggregation
# entries, run at sf0.1 and at a 10x key-shifted replication of it
RELATIONAL = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_volume",
    "q18_large_volume",
    "orders_running_totals",
    "window_topk_per_group",
    "events_sessionize",
    "events_funnel",
    "events_orders_asof_join",
    "events_activity_range_join",
]


def build_relational_big(src_dir: str, out_dir: str, copies: int = 10) -> None:
    """10x the fact tables by key-shifted replication: copy i adds
    i*OFFSET to every orderkey/custkey, so join fan-outs, group
    cardinalities, and key distributions scale with the data instead of
    piling duplicates onto the same keys (which would measure skew, not
    scale). Dimension tables are symlinked unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    li = pq.read_table(os.path.join(src_dir, "lineitem.parquet"))
    od = pq.read_table(os.path.join(src_dir, "orders.parquet"))
    cu = pq.read_table(os.path.join(src_dir, "customer.parquet"))
    ev = pq.read_table(os.path.join(src_dir, "events.parquet"))
    okey_off = int(pa.compute.max(li["l_orderkey"]).as_py()) + 1
    ckey_off = int(pa.compute.max(cu["c_custkey"]).as_py()) + 1
    # events.user_id joins o_custkey (as-of join): same shift keeps the
    # replicas join-consistent; timestamps stay put — copy i is "10x the
    # users over the same period", which also densifies range-join bins
    ekey_off = int(pa.compute.max(ev["event_id"]).as_py()) + 1

    def shifted(tbl: pa.Table, shifts: dict[str, int], i: int) -> pa.Table:
        cols = {}
        for name in tbl.column_names:
            col = tbl[name]
            if name in shifts and i:
                col = pa.compute.add(col, shifts[name] * i)
            cols[name] = col
        return pa.table(cols)

    for fname, tbl, shifts in [
        ("lineitem.parquet", li, {"l_orderkey": okey_off}),
        ("orders.parquet", od, {"o_orderkey": okey_off,
                                "o_custkey": ckey_off}),
        ("customer.parquet", cu, {"c_custkey": ckey_off}),
        ("events.parquet", ev, {"event_id": ekey_off,
                                "user_id": ckey_off}),
    ]:
        out = os.path.join(out_dir, fname)
        if os.path.exists(out):
            continue
        print(f"# replicating {fname} x{copies}", file=sys.stderr)
        # stream one shifted copy at a time (a 100x replication held
        # fully in memory via concat_tables would be tens of GB)
        writer = pq.ParquetWriter(out, tbl.schema)
        try:
            for i in range(copies):
                writer.write_table(
                    shifted(tbl, shifts, i),
                    row_group_size=max(len(tbl), 1),
                )
        finally:
            writer.close()
    for t in ["region", "nation", "supplier", "part",
              "documents", "embeddings"]:
        src = os.path.join(src_dir, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)


def run_at(spark, sf_dir: str, names: list[str] | None = None,
           runners: dict | None = None) -> dict[str, float]:
    if runners is None:
        import __spark_entry__ as E

        queries = E.queries()
        runners = {n: queries[n] for n in (names or PIPELINES)}
    out: dict[str, float] = {}
    for name, fn in runners.items():
        # warm run first: the first pandas-UDF pipeline of a session
        # pays ~10s of Python-worker fork + numpy import across 32
        # workers, which would otherwise be charged entirely to the
        # small size and flatten the measured exponent toward 0
        for is_warm in (True, False):
            # the pipelines persist() intermediate stages and Spark's
            # CacheManager dedups by logical plan — drop the warm run's
            # cache so the timed run recomputes (workers stay warm)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            if not is_warm:
                out[name] = round(time.perf_counter() - t0, 3)
        # localCheckpoint RDD blocks (the iterative pipelines) are only
        # released by ContextCleaner after JVM GC of their references;
        # without this nudge a multi-size session ACCUMULATES tens of GB
        # of blockmgr spill across runs and can fill local disk at the
        # big size (observed at 500k docs) — same hygiene as bench.py
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        print(f"# {name} @ {sf_dir}: {out[name]}s", file=sys.stderr)
    return out


def main_relational(c_small: int = 1, c_big: int = 10) -> int:
    """Key-shifted relational scale-proof over the heaviest
    join/window/aggregation entries, comparing a c_small-x vs c_big-x
    replication of the base sf dir (c=1 means the base itself).
    --rel-small 10 --rel-big 100 measures the sf1 -> sf10 decade,
    where fixed per-query overhead stops masking the data terms."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def rel_dir(copies: int) -> str:
        if copies <= 1:
            return src
        d = os.path.join(root, ".scale", f"rel{copies}")
        build_relational_big(src, d, copies=copies)
        return d

    small_dir, big_dir = rel_dir(c_small), rel_dir(c_big)

    from dazzleduck_sql_duckdb_spark.session import get_spark

    spark = get_spark(app_name="scale_proof_rel")
    t_small = run_at(spark, small_dir, RELATIONAL)
    t_big = run_at(spark, big_dir, RELATIONAL)
    ratio = c_big / c_small
    print(f"\n| query | t({c_small}x) s | t({c_big}x) s | exponent |")
    print("|---|---|---|---|")
    for name in RELATIONAL:
        a, b = t_small[name], t_big[name]
        e = math.log(b / a) / math.log(ratio) if a > 0 else float("nan")
        print(f"| {name} | {a:.2f} | {b:.2f} | {e:.2f} |")
    print(
        f"\n({ratio:.0f}x key-shifted replication of lineitem/orders/"
        "customer/events; exponent 1.0 = linear. Sub-linear = fixed"
        " per-query overhead still dominates at the small size.)"
    )
    return 0


def _stage_totals(sc) -> dict:
    """(stageId, attempt) -> (inputBytes, shuffleWriteBytes) from the
    live AppStatusStore (works with the UI disabled)."""
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        out[(s.stageId(), s.attemptId())] = (
            s.inputBytes(), s.shuffleWriteBytes()
        )
    return out


def _measure_io(spark, action) -> tuple[int, int]:
    """Run `action` and return (inputBytes, shuffleWriteBytes) summed
    over the stages it created."""
    before = _stage_totals(spark.sparkContext)
    action()
    after = _stage_totals(spark.sparkContext)
    new = [v for k, v in after.items() if k not in before]
    return sum(v[0] for v in new), sum(v[1] for v in new)


def main_io(n: int = 250_000, dim: int = 64) -> int:
    """--io: measure the IVF-PQ bandwidth claim with Spark's own
    bytes-read / shuffle-write metrics. The claim is a
    STORAGE claim: in the deployed shape, vectors are encoded once at
    ingest and the per-query scoring scan reads (id, cell, codes)
    instead of (id, cell, vector). Wall-clock at local page-cached
    scale cannot show it (BENCH_NOTES documents ADC costing ~2x the
    uncompressed probe there), but bytes CAN be measured:

    1. build both stored scoring tables from the same corpus with the
       production knobs (auto centroids, m=32 subspaces, n_codes=64,
       spill=2) and compare on-disk parquet size — a full-column
       parquet scan reads ~file bytes, so this ratio IS the scoring
       scan's I/O ratio in the pre-encoded deployment;
    2. per-row payload widths (the page-cache / memory-bandwidth view
       of the same claim, and its dim sensitivity);
    3. run both FULL pipelines (ann_ivf_topk vs ann_ivfpq_topk, same
       centroids, 100-query sample) and record shuffleWriteBytes from
       the AppStatusStore. (Stage inputBytes is NOT reported: Hadoop
       local-fs read statistics are not populated in this environment
       — measured footer-sized values against multi-MB scans — while
       shuffle metrics are tracked internally and are reliable.)"""
    import shutil

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    d = os.path.join(root, ".scale", f"io{n}")
    os.makedirs(d, exist_ok=True)
    embs = os.path.join(d, "embeddings.parquet")
    if not os.path.exists(embs):
        print(f"# generating {n} x {dim}d embeddings", file=sys.stderr)
        gen_embeddings(n, embs, dim=dim)

    from pyspark.sql import functions as F

    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        _normalize,
        ann_ivf_topk,
        ann_ivfpq_topk,
        make_multi_assign_udf,
        make_pq_encode_udf,
        train_centroids,
        train_pq_codebooks,
    )
    from dazzleduck_sql_duckdb_spark.session import get_spark

    spark = get_spark(app_name="scale_proof_io")
    corpus = spark.read.parquet(embs)
    n_centroids = max(4, min(65_536, int(round(n ** 0.5))))
    m, n_codes, spill = 32, 64, 2
    print(f"# training {n_centroids} centroids", file=sys.stderr)
    C = _normalize(
        np.asarray(
            train_centroids(corpus, n_centroids, iterations=2), np.float64
        )
    )
    sample = corpus.select("embedding").limit(16_384).collect()
    S = _normalize(np.vstack([np.asarray(r[0], np.float64) for r in sample]))
    books = train_pq_codebooks(S - C[(S @ C.T).argmax(axis=1)], m, n_codes)

    codes_pq = os.path.join(d, "scoring_codes.parquet")
    vecs_pq = os.path.join(d, "scoring_vectors.parquet")
    for path, df in [
        (
            codes_pq,
            corpus.select(
                "vec_id",
                F.explode(
                    make_pq_encode_udf(C, books, spill=spill)("embedding")
                ).alias("e"),
            ).select(
                "vec_id",
                F.col("e.cell").alias("cell"),
                F.col("e.codes").alias("codes"),
            ),
        ),
        (
            vecs_pq,
            corpus.select(
                "vec_id",
                F.explode(
                    make_multi_assign_udf(C, spill)("embedding")
                ).alias("cell"),
                "embedding",
            ),
        ),
    ]:
        shutil.rmtree(path, ignore_errors=True)
        df.write.parquet(path)

    def du(p: str) -> int:
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(p)
            for f in fs
        )

    # (3) end-to-end pipelines, same centroids, 100-query sample
    step = max(n // 100, 1)
    queries = corpus.where(F.col("vec_id") % step == 0)
    kw = dict(k=5, centroids=C, n_probe=4, query_id_col="qid", spill=spill)
    _, ivf_sw = _measure_io(
        spark,
        lambda: ann_ivf_topk(corpus, queries, **kw)
        .write.format("noop").mode("overwrite").save(),
    )
    _, pq_sw = _measure_io(
        spark,
        lambda: ann_ivfpq_topk(
            corpus, queries, m_subspaces=m, n_codes=n_codes, refine=8, **kw
        ).write.format("noop").mode("overwrite").save(),
    )

    mb = 1024 * 1024
    rows = n * spill
    print(f"\nIVF-PQ I/O proof @ n={n}, dim={dim}, n_centroids="
          f"{n_centroids}, m={m}, n_codes={n_codes}, spill={spill}\n")
    print("| metric | IVF (vectors) | IVF-PQ (codes) | ratio |")
    print("|---|---|---|---|")
    print(
        f"| stored scoring table on disk | {du(vecs_pq)/mb:.1f} MiB "
        f"| {du(codes_pq)/mb:.1f} MiB | {du(vecs_pq)/du(codes_pq):.1f}x |"
    )
    print(
        f"| on-disk bytes per stored row | {du(vecs_pq)/rows:.0f} B "
        f"| {du(codes_pq)/rows:.0f} B | {du(vecs_pq)/du(codes_pq):.1f}x |"
    )
    print(
        f"| uncompressed scoring payload/row | {4 * dim} B (fp32) "
        f"| {m} B (1B/code) | {4 * dim / m:.0f}x |"
    )
    print(
        f"| end-to-end query shuffle write | {ivf_sw/mb:.2f} MiB "
        f"| {pq_sw/mb:.2f} MiB | {ivf_sw/max(pq_sw,1):.2f}x |"
    )
    print(
        "\n(Scan I/O of the pre-encoded deployment ~ file bytes: the"
        " disk ratio is the scan-bandwidth ratio. The payload row is"
        " the claim's dim sensitivity: at dim-64 the floor is"
        f" {4 * dim // m}x; production 256-1024-dim embeddings give"
        f" {4 * 256 // m}-{4 * 1024 // m}x. The shipped query-time"
        " pipeline encodes in-flight (reads raw vectors once), so its"
        " scan I/O is not the deployment number; shuffle write is"
        " measured from the AppStatusStore.)"
    )
    return 0


def main() -> int:
    small = 5_000
    big = 50_000
    args = sys.argv[1:]
    if "--io" in args:
        n = (
            int(args[args.index("--io-n") + 1])
            if "--io-n" in args else 250_000
        )
        return main_io(n)
    if "--relational" in args:
        cs = (
            int(args[args.index("--rel-small") + 1])
            if "--rel-small" in args else 1
        )
        cb = (
            int(args[args.index("--rel-big") + 1])
            if "--rel-big" in args else 10
        )
        return main_relational(cs, cb)
    if "--small" in args:
        small = int(args[args.index("--small") + 1])
    if "--big" in args:
        big = int(args[args.index("--big") + 1])

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(root, ".scale")
    dirs = {}
    for label, n in [("small", small), ("big", big)]:
        d = os.path.join(base, f"docs{n}")  # size-keyed: no stale reuse
        os.makedirs(d, exist_ok=True)
        docs, embs = os.path.join(d, "documents.parquet"), os.path.join(
            d, "embeddings.parquet"
        )
        if not os.path.exists(docs):
            print(f"# generating {label}: {n} docs", file=sys.stderr)
            gen_documents(n, docs)
        if not os.path.exists(embs):
            gen_embeddings(max(n // 2, 100), embs)
        embs_s = os.path.join(d, "embeddings_structured.parquet")
        if not os.path.exists(embs_s):
            gen_embeddings_structured(max(n // 2, 100), embs_s)
        dirs[label] = d

    from dazzleduck_sql_duckdb_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark(app_name="scale_proof")
    queries = E.queries()
    runners = {n: _proof_dedup(n) for n in DEDUP_PIPELINES}
    runners.update({n: queries[n] for n in PIPELINES})
    runners[SEMDEDUP_PIPELINE] = _proof_semdedup
    runners[SEMDEDUP_STRUCTURED] = _proof_semdedup_structured
    t_small = run_at(spark, dirs["small"], runners=runners)
    t_big = run_at(spark, dirs["big"], runners=runners)

    ratio_n = big / small
    # the ANN catalog entries take every 100th vector as a query, so
    # the query set grows with the corpus: raw wall-time scales as
    # (queries x per-query cost). Normalize those rows per query so the
    # exponent measures per-query cost vs corpus size — the number a
    # cluster operator actually provisions for.
    n_queries = {
        "small": max(max(small // 2, 100) // 100, 1),
        "big": max(max(big // 2, 100) // 100, 1),
    }
    print(f"\n| pipeline | t({small}) s | t({big}) s | exponent |")
    print("|---|---|---|---|")
    for name in [
        *DEDUP_PIPELINES, *PIPELINES, SEMDEDUP_PIPELINE,
        SEMDEDUP_STRUCTURED,
    ]:
        a, b = t_small[name], t_big[name]
        if name.startswith("embed_ann"):
            a, b = a / n_queries["small"], b / n_queries["big"]
            label = f"{name} (per query)"
        elif name in DEDUP_PIPELINES:
            label = f"{name} (auto_bands)"
        else:
            label = name
        e = math.log(b / a) / math.log(ratio_n) if a > 0 else float("nan")
        print(f"| {label} | {a:.3f} | {b:.3f} | {e:.2f} |")
    print(
        "\n(exponent = log-time ratio / log-size ratio; 1.0 = linear,"
        " 2.0 = all-pairs. Sub-linear values mean fixed overhead still"
        " dominates at the small size. ANN rows are per-query: the"
        " catalog entries grow the query set with the corpus, so raw"
        " wall-time there conflates two linear axes. Dedup rows run"
        " each size at its auto_bands production banding — the"
        " exponent is the system's scaling law, see the note above"
        " DEDUP_PIPELINES.)"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
