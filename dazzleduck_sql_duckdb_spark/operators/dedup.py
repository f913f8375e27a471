"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for scale (the 100 TB contract):

- **Exact dedup** shuffles a 128-bit content hash, never raw text.
- **MinHash+LSH** never forms the n^2 pair space: shingle -> hash ->
  K-permutation signature -> band buckets -> bucket-equi-join ->
  exact verify on the (tiny) candidate set. Shingling, signatures and
  band keys run as ONE fused JVM kernel (scala/DdKernels.scala, a typed
  Scala UDF) — interpreted SQL higher-order functions are orders of
  magnitude slower at K=128, and a Python UDF pays a worker round trip.
- **SimHash** blocks on 15-bit chunks: hamming<=3 over 60 bits across
  4 chunks always shares a chunk (pigeonhole), so recall is exactly
  100% — LSH output == brute-force output, at O(n·chunks) shuffle.
- Signature/shingle stages are persisted (on a cluster: checkpointed
  tables) so expensive per-row arrays are computed exactly once.

The DuckDB oracle (plans/dedup.py) brute-forces the same pair
predicate over string shingle sets; hash-set Jaccard equals string-set
Jaccard up to the documented ~2^-62 per-pair collision bound, and
verification is exact, so the row sets coincide.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..jvm import kernels


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Group identical content by md5; keep the minimum id per group."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min(id_col).cast("long").alias("keeper_doc_id"),
        )
    )


def make_shingle_sig_udf(a: list[int], b: list[int], n: int, bands: int = 0):
    """Fused kernel: text -> (distinct shingle-hash set, minhash sig
    [, per-band bucket keys]), as a function from a text Column to a
    ``struct<sh, sig[, bkeys]>`` Column.

    The kernel runs in the JVM (`DdKernels.minhash` in
    scala/DdKernels.scala), a typed Scala UDF named ``dd_minhash`` that
    holds the seeds and ``(n, bands)`` in its closure, so no Python
    worker starts and no Arrow batch crosses. Shingles are CHARACTER
    n-grams of Python's ``text.strip(" ").lower()`` (SQL ``trim()``
    strips only spaces, as the DuckDB oracle does); each window hashes
    to a 62-bit double polynomial, so a cross-pair collision needs both
    31-bit polynomials to collide (~2^-62). sig[k] = min over h of
    (a[k]*(h mod P31) + b[k]) mod P31; a null text gives an empty set
    and an all-P31 signature.

    With ``bands`` > 0 the kernel also emits ``bkeys``: one int64 bucket
    key per band — a polynomial hash of that band's signature rows plus
    the band index. Emitting keys here (once, persisted) beats building
    them after the band explode, where the slice+cast+concat expression
    re-evaluates per exploded row. A cross-band or cross-bucket hash
    collision only ADDS a candidate pair, which exact verification then
    rejects — never a miss. When ``bands`` does not divide K, the
    trailing K - bands*(K // bands) signature rows are unused.

    Outputs are bit-identical to the numpy reference the tests keep
    (tests/minhash_reference.py); persisted streaming indexes store
    ``sh`` and ``bkeys``, so they must stay that way.
    """
    seeds_a, seeds_b = [int(x) for x in a], [int(x) for x in b]

    def kernel(text: Column) -> Column:
        jk = kernels(SparkSession.active())
        return Column(jk.minhash(text._jc, seeds_a, seeds_b, n, bands))

    return kernel


def simhash_column(tokens: Column, bits: int) -> Column:
    """Majority fold of the tokens' 60-bit md5 prefixes
    (``int(md5(utf8(t)).hexdigest()[:15], 16)``) over ``bits`` bit
    positions, as a bigint Column; 0 for a null or empty token array.
    Runs in the JVM (`DdKernels.simhash`, a Scala UDF named
    ``dd_simhash``)."""
    jk = kernels(SparkSession.active())
    return Column(jk.simhash(tokens._jc, bits))


def minhash_pair_recall(rows_per_band: int, bands: int, jaccard: float) -> float:
    """Per-pair detection probability of banded MinHash-LSH.

    A pair at Jaccard j shares a given band of r rows with probability
    j^r and is detected if ANY of the b bands matches:

        P(detect) = 1 - (1 - j^r)^b

    This is the explicit recall contract for auto_bands: compute it at
    the verify threshold before trusting a (r, b) schedule."""
    return 1.0 - (1.0 - jaccard**rows_per_band) ** bands


def bands_for_recall(
    rows_per_band: int, threshold: float = 0.85, min_recall: float = 0.99
) -> int:
    """Minimum band count b such that minhash_pair_recall(r, b,
    threshold) >= min_recall: b = ceil(ln(1-R) / ln(1-t^r)). The
    signature width must then be K = r * b (caller supplies K hash
    seeds). Examples at t=0.85, R=0.99: r=8 -> b=15 (K=120),
    r=10 -> b=22 (K=220), r=12 -> b=31 (K=372)."""
    import math

    miss = 1.0 - threshold**rows_per_band
    return max(1, math.ceil(math.log(1.0 - min_recall) / math.log(miss)))


def auto_bands(n_docs: int, k: int = 128) -> int:
    """Production banding rule: rows-per-band r grows with log2(n).

    LSH's false-candidate count per band bucket scales as
    b * s0^r * n^2 (s0 = the corpus's baseline pairwise Jaccard), so a
    FIXED r goes quadratic as n grows — measured: r=4 produced 6.0M
    candidates at 50k docs and 596M at 500k (the 100x quadratic
    signature), while r=8 held 500k to 229k. Growing r by one for every
    two doublings of n keeps the false-candidate term ~linear:

        r = clamp(ceil(log2(n) / 2), 4, 12),  b = k // r

    RECALL CONTRACT (per-pair, at the J=0.85 verify threshold, via
    minhash_pair_recall(r, k//r, 0.85) with K=128):

        r=4/b=32  ~100%      r=7/b=18  99.90%     r=8/b=16  99.38%
        r=10/b=12 92.80%     r=12/b=10 78.44% (capped tail)

    i.e. at FIXED K=128 the schedule trades at-threshold recall for
    candidate-count control as n grows; pairs well above threshold are
    still near-certain (J=0.90: r=10/b=12 -> 99.6%, r=12/b=10 -> 97%).
    If the pipeline's contract is >=99% recall AT the threshold, grow
    the signature with r instead of holding K=128: K = r *
    bands_for_recall(r) (r=10 -> K=220, r=12 -> K=372; signature cost
    is linear in K), or OR together multiple independent K=128 band
    sets. Returns the BANDS count to pass to minhash_neardup_pairs
    (which derives r = k // bands).
    Examples: 5k docs -> r=7/b=18, 50k -> r=8/b=16, 500k -> r=10/b=12,
    50M -> r=12/b=10 (capped; past that, the max_bucket_docs guard
    bounds residual hot buckets)."""
    import math

    r = min(12, max(4, math.ceil(math.log2(max(n_docs, 2)) / 2)))
    return max(1, k // r)


def minhash_neardup_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    shingle_n: int = 6,
    a: list[int],
    b: list[int],
    bands: int,
    threshold_pct: int = 85,
    max_bucket_docs: int | None = None,
    broadcast_verify_max: int = 5_000_000,
    broadcast_verify_docs: int = 100_000,
    materialize: str = "auto",
) -> DataFrame:
    """Near-duplicate pairs at shingle-Jaccard >= threshold within block.

    Pipeline (no n^2 stage anywhere):
      distinct shingle-hash int64 arrays (ONE persisted stage, reused by
      both the signature and the verify paths) -> JVM minhash
      signatures -> explode bands -> self-join on (band, key, block)
      -> distinct candidates -> exact set-Jaccard verify on int arrays.

    ``max_bucket_docs`` is the 100 TB hot-bucket guard: a band bucket
    holding B docs emits B^2/2 candidate pairs, so one boilerplate
    cluster (cookie banners, licence headers, templated pages — or a
    corpus whose BASELINE pairwise Jaccard is high) turns the verify
    join quadratic regardless of banding. Measured: a 500k-doc corpus
    drawn from a 31-token vocabulary (baseline J ~ 0.4) spilled >80 GB
    in the verify SMJ and filled local disk. With a cap, buckets larger
    than ``max_bucket_docs`` are dropped BEFORE the self-join (one
    map-side-combinable count + broadcast anti-join), bounding
    candidates at bands * n * cap / 2. Semantics: a pair is missed only
    if EVERY band bucket it shares is oversized — for genuine near-dups
    (J >= 0.85 matches ~10 of 16 bands in expectation) that means the
    pair sits inside a mega-cluster, exactly the case handled by the
    dedicated boilerplate path (cluster the oversized buckets' members
    directly). Default None = exact contract, no pair ever missed.

    ``broadcast_verify_max`` / ``broadcast_verify_docs``: candidate
    pairs (resp. the 2*pairs bound on candidate-member shingle rows)
    below these counts take the narrowed zero-shuffle verify path —
    see the plan comment at the verify join.

    ``materialize`` — how the verified-pairs result is pinned:

    - ``"auto"`` (default): EAGER — the whole pipeline (kernel, band
      self-join, verify) runs at call time and the returned DataFrame
      is the MATERIALIZED result, so iterative consumers (connected
      components' label propagation) re-read cheap ~24-byte pair rows
      instead of re-running the verify join per pass. Uses a RELIABLE
      ``checkpoint()`` when the SparkContext has a checkpoint dir
      configured, else ``localCheckpoint()``. FAILURE MODE of the
      localCheckpoint fallback: its blocks are executor-local and
      unreplicated and the lineage is truncated, so on a real cluster
      losing any executor after this call permanently loses pair
      blocks with NO recompute path — production deployments must
      ``sc.setCheckpointDir(...)`` (or pass ``"reliable"``).
    - ``"reliable"``: force ``checkpoint(eager=True)`` (requires a
      checkpoint dir; survives executor loss). NOTE: reliable
      checkpoint files are not auto-deleted when the DataFrame goes
      out of scope — long-lived sessions calling this repeatedly
      should set spark.cleaner.referenceTracking.cleanCheckpoints=true
      or use a per-job checkpoint dir (see _materialize_pairs).
    - ``"local"``: force the eager ``localCheckpoint`` (single-node /
      ephemeral sessions where the trade is understood).
    - ``"none"``: fully LAZY — no persists, no plan-picking counts, no
      checkpoint; the caller owns caching and every action re-executes
      the pipeline. The declarative opt-out.

    Intermediates are persist()ed columnar caches for the multiple
    reads WITHIN this call — signatures feed both the band join and
    the verify — and are explicitly unpersisted before returning, so
    no cache handles leak into the caller's session.
    """
    if materialize not in ("auto", "reliable", "local", "none"):
        raise ValueError(f"materialize: {materialize!r}")
    # Widen narrow inputs before the per-row shingle/signature compute:
    # a small parquet file scans as few tasks (one per row group), which
    # under-fills the cores for the whole CPU-heavy stage AND pins the
    # persisted signature stage (and everything narrow downstream) at
    # that width — measured at 500k docs: a 20-row-group scan left 12
    # of 32 cores idle with a (19+1)-task straggler through every
    # later stage. Widen whenever the scan is narrower than the
    # session's parallelism; at real scale inputs already have >>
    # defaultParallelism partitions and this is a no-op.
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism, id_col)
    kernel = make_shingle_sig_udf(a, b, shingle_n, bands=bands)
    # one fused JVM kernel pass: text -> (shingle set, signature, band keys);
    # persist()ed — columnar cache, the fast format for the multiple
    # scans this call performs (band self-join reads bkeys twice,
    # verify reads sh twice; a serialized-row localCheckpoint here
    # measured ~1.7x slower end-to-end, every re-read paying row
    # deserialization of the big int64 arrays). The handle is LOCAL:
    # the finally block below unpersists it before returning, so
    # nothing leaks into the caller's session (the failure mode that
    # motivated the checkpoint experiment). The band index is folded
    # into each bkey in the kernel, so the bucket join below is a
    # single-long-key equi-join (8-byte exchange rows, no
    # per-exploded-row string building).
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.col(block_col) if block_col else F.lit("all")).alias("blk"),
        kernel(F.col(text_col)).alias("k"),
    ).select(
        "doc_id", "blk",
        F.col("k.sh").alias("sh"), F.col("k.bkeys").alias("bkeys"),
    )
    if materialize == "none":
        return _minhash_verify(
            staged, bands=bands, threshold_pct=threshold_pct,
            max_bucket_docs=max_bucket_docs,
            broadcast_verify_max=broadcast_verify_max,
            broadcast_verify_docs=broadcast_verify_docs,
            materialize="none",
        )
    # The doc count the verify path needs for its plan-picking rides
    # the first materializing action (cand.count) as an observed
    # metric instead of a dedicated staged.count() job — one fewer
    # job per call: the count job re-scanned the cache for a number
    # the cand job already knows.
    from pyspark.sql import Observation

    n_docs_obs = Observation()
    staged = staged.observe(
        n_docs_obs, F.count(F.lit(1)).alias("n")
    ).persist()
    try:
        return _minhash_verify(
            staged, bands=bands, threshold_pct=threshold_pct,
            max_bucket_docs=max_bucket_docs,
            broadcast_verify_max=broadcast_verify_max,
            broadcast_verify_docs=broadcast_verify_docs,
            materialize=materialize,
            n_docs_obs=n_docs_obs,
        )
    finally:
        staged.unpersist()


def _materialize_pairs(verified: DataFrame, materialize: str) -> DataFrame:
    """Pin the bounded verified-pairs result (~24 bytes/row) so (a) the
    caller's unpersists leave nothing lazy over the call-scoped caches
    and (b) iterative/multi-pass consumers re-read cheap blocks instead
    of re-running the verify join. "reliable" = checkpoint() to the
    context's checkpoint dir — replicated, survives executor loss, the
    100 TB default whenever a dir is configured. The localCheckpoint
    fallback is executor-local and lineage-truncated: executor loss
    after the call loses blocks unrecoverably (see the
    minhash_neardup_pairs docstring).

    Cleanup contract: unlike localCheckpoint blocks, which the
    ContextCleaner frees when the DataFrame is GC'd, reliable
    checkpoint FILES are NOT deleted on release by
    default — repeated calls in a long-lived session accumulate
    unbounded data under the checkpoint dir. Long-lived sessions
    using "reliable"/"auto"-with-a-dir should either set
    spark.cleaner.referenceTracking.cleanCheckpoints=true (files of
    out-of-scope checkpoints are then GC-swept) or manage the
    checkpoint dir's lifetime themselves (per-job dir, deleted after
    the pipeline lands its output)."""
    sc = verified.sparkSession.sparkContext
    if materialize == "reliable" or (
        materialize == "auto" and sc.getCheckpointDir() is not None
    ):
        return verified.checkpoint(eager=True)
    return verified.localCheckpoint(eager=True)


def _minhash_verify(
    staged: DataFrame,
    *,
    bands: int,
    threshold_pct: int,
    max_bucket_docs: int | None,
    broadcast_verify_max: int,
    broadcast_verify_docs: int,
    materialize: str = "auto",
    n_docs_obs=None,
) -> DataFrame:
    sh = staged.select("doc_id", "blk", "sh")

    # carry the shingle-set SIZE (one int per doc) through the band
    # explode so the self-join can drop size-incompatible pairs before
    # they ever reach the distinct exchange or the array verify: J(A,B)
    # = |A∩B|/|A∪B| <= min/max, so 100*min(|A|,|B|) <
    # threshold*max(|A|,|B|) proves the pair fails verification without
    # touching either array. Pure pre-filter of the existing conjunctive
    # predicate — never drops a verifiable pair, at any banding.
    # Measured at sf0.1 (5k docs, bands=32): 24,948 candidates -> 8,292
    # entering the verify join (3x less array_intersect work).
    bands_df = staged.select(
        "doc_id", "blk", F.size("sh").alias("nsh"),
        F.explode("bkeys").alias("bkey"),
    )
    # Pair generation via ONE bucket aggregation instead of a bkey
    # self-join: the self-join exchanged the exploded band table
    # TWICE and — because it is the pipeline's first job, planned
    # before any cache statistics exist — Catalyst sort-merge-joined
    # it; grouping by (blk, bkey) exchanges the 160k-row band table
    # ONCE and expands pairs inside each bucket. The hot-bucket cap
    # also folds into the same aggregation as a size() bound, so the
    # capped path sheds its dedicated bucket-count + broadcast
    # anti-join jobs. Measured at sf0.1 (5k docs, bands=32): the
    # kernel+candidates job 2.31s -> 1.38s median, identical 8,292
    # candidates. Buffer note: a bucket's members transiently sit in
    # one collect_list buffer (<= cap structs when capped; for the
    # uncapped exact contract a boilerplate mega-bucket holds B
    # 16-byte structs — same documented transient as
    # dedup_exact_substring's collect_set, and the capped path is the
    # production default).
    buckets = (
        bands_df.groupBy("blk", "bkey")
        .agg(F.collect_list(F.struct("doc_id", "nsh")).alias("ms"))
        .where(
            F.size("ms").between(2, max_bucket_docs)
            if max_bucket_docs is not None
            else F.size("ms") >= 2
        )
    )
    cand = (
        buckets.select("ms", F.explode("ms").alias("a"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.nsh").alias("la"),
            F.explode("ms").alias("b"),
        )
        .where(
            (F.col("doc_a") < F.col("b.doc_id"))
            & (
                100 * F.least(F.col("la"), F.col("b.nsh"))
                >= threshold_pct
                * F.greatest(F.col("la"), F.col("b.nsh"))
            )
        )
        .select("doc_a", F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Verify-join strategy: Spark statically sizes `cand` as big (it
    # sits behind a self-join + distinct), so it plans BOTH verify
    # joins as sort-merge — shuffling AND sorting the full shingle
    # table (the heaviest dataset in the pipeline: n rows of int64
    # arrays) twice. AQE can't undo it: by the time real sizes are
    # known the shingle shuffle is already written. But the candidate
    # set is BOUNDED by construction (banding rule + hot-bucket guard
    # keep it ~linear with a small constant), so materialize it
    # (a persist scoped to this call, unpersisted in the finally
    # below) and let its TRUE size pick the plan. In the designed case, FIRST narrow the
    # shingle table to candidate members with a broadcast semi-join
    # (the id list is two longs per pair): the full shingle table then
    # streams through ONE broadcast join and is never shuffled or
    # sorted. NB a broadcast() hint on `cand` alone is not enough —
    # the hint does not survive into the second verify join (whose
    # probe side is cand JOIN sh), which still sort-merged the shingle
    # table. Measured at 500k docs (r=10, 3.7k candidates): verify
    # 55s -> ~2s. Past `broadcast_verify_max` pairs (~16 bytes each)
    # the shuffle join over the full table is the right plan.
    def _verify_join(cand_df, pa, pb):
        inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
        la, lb = F.size(F.col("a.sh")), F.size(F.col("b.sh"))
        uni = la + lb - inter
        return (
            cand_df.join(pa, F.col("doc_a") == F.col("a.doc_id"))
            .join(pb, F.col("doc_b") == F.col("b.doc_id"))
            .where(
                (100 * inter >= threshold_pct * uni)
                & (100 * F.least(la, lb)
                   >= threshold_pct * F.greatest(la, lb))
            )
            .select(
                "doc_a",
                "doc_b",
                (inter.cast("double") / uni.cast("double"))
                .alias("jaccard"),
            )
        )

    if materialize == "none":
        # declarative opt-out: no persists, no plan-picking counts, no
        # hints — Catalyst/AQE own the strategy, the caller owns reuse
        return _verify_join(cand, sh.alias("a"), sh.alias("b"))
    # NOTE a "skip the plan-picking counts below a row threshold" fast
    # path was built and MEASURED SLOWER at sf0.1/5k docs (A/B medians:
    # 3.5-3.8s vs 2.5-2.9s for the counted path): the counts double as
    # free statistics collection — cand.count() populates the cand and
    # kernel caches in a dedicated wide job, so the checkpoint job's
    # broadcast subplans and AQE plan over KNOWN sizes; skipping them
    # left the caches cold at planning time and cost more in extra
    # stage overhead than the two jobs it saved (BENCH_NOTES r7).
    # this count is the first eager job: it materializes cand AND
    # (through the cache) the staged kernel in one pass
    cand = cand.persist()
    handles = [cand]
    try:
        n_cand = cand.count()
        narrowed = False
        if n_cand <= broadcast_verify_max:
            # n_docs: observed metric delivered by the cand.count()
            # materialization above (zero extra jobs); the
            # staged.count() fallback covers direct _minhash_verify
            # callers that did not attach an Observation
            n_docs = (
                n_docs_obs.get["n"] if n_docs_obs is not None
                else staged.count()
            )
            ids = (
                cand.select(F.col("doc_a").alias("doc_id"))
                .union(cand.select(F.col("doc_b").alias("doc_id")))
                .distinct()
            )
            if (2 * n_cand <= broadcast_verify_docs
                    and 4 * n_cand <= n_docs):
                # the designed at-scale case, decided from the 2*n_cand
                # membership BOUND alone (no extra job): candidates are
                # SPARSE (members << corpus — banding rule + hot-bucket
                # guard keep it so), so the narrowed arrays are small
                # enough to ship and the whole verify is two
                # broadcast-hash joins with ZERO shuffle of the
                # shingle table.
                narrowed = True
            elif 2 * n_cand >= n_docs:
                # dense candidate graph (pairs ~ corpus): most docs are
                # members, narrowing cannot shrink the shingle table
                # meaningfully — skip straight to the direct verify
                # without paying a member count
                narrowed = False
            else:
                # the bound is inconclusive (sparse pairs but past the
                # broadcast cap) — measure the true member count (a
                # distinct over the bounded candidate set)
                ids = ids.persist()
                handles.append(ids)
                n_members = ids.count()
                narrowed = (n_members <= broadcast_verify_docs
                            and 2 * n_members <= n_docs)
        if narrowed:
            sh_use = F.broadcast(
                sh.join(F.broadcast(ids), "doc_id", "left_semi")
            )
            pa, pb = sh_use.alias("a"), sh_use.alias("b")
        else:
            # members ~ corpus (small/dense corpus) or candidates past
            # the broadcast cap: narrowing buys nothing — verify
            # directly against the cached shingle table, broadcasting
            # the 16-byte/row candidate pairs when they fit (shipping
            # the shingle arrays through the driver would cost more
            # than it saves at this density).
            if n_cand <= broadcast_verify_max:
                cand = F.broadcast(cand)
            pa, pb = sh.alias("a"), sh.alias("b")
        verified = _verify_join(cand, pa, pb)
        return _materialize_pairs(verified, materialize)
    finally:
        for h in handles:
            h.unpersist()
