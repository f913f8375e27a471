"""Streaming deduplication: native watermarked dedup + a custom
stateful operator built on applyInPandasWithState.

Two implementations of "keep the first occurrence across micro-batches":

- :func:`dedup_stream` — Spark's native stateful ``dropDuplicates``
  (state bounded by the watermark). The production path.
- :func:`first_seen_dedup` — the same semantics hand-built with
  ``applyInPandasWithState``: group by the dedup key, keep one boolean
  of state per key, emit only on first sight. This is the template for
  custom stateful operators Spark has no built-in for (the brief's
  "novel stateful operator" slot); at scale, state lives in the
  executor state store (RocksDB-backed on clusters), never the driver.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def dedup_stream(
    events: DataFrame, key_cols: list[str], *, watermark_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Native stateful dedup; with a watermark the seen-set is evicted
    past it (bounded state), without one it grows with distinct keys.

    The watermarked path dedups on the keys ALONE
    (``dropDuplicatesWithinWatermark``): a key reappearing at a different
    event time within the watermark horizon is still dropped — "keep the
    first occurrence" — while state stays bounded by the watermark.
    """
    df = events
    if watermark_col:
        from pyspark.sql import functions as F

        # watermarks require TIMESTAMP; parquet micros arrive as
        # TIMESTAMP_NTZ and the cast is identity under the UTC session
        df = df.withColumn(
            watermark_col, F.col(watermark_col).cast("timestamp")
        )
        df = df.withWatermark(watermark_col, watermark)
        return df.dropDuplicatesWithinWatermark(key_cols)
    return df.dropDuplicates(key_cols)


def first_seen_dedup(events: DataFrame, key_col: str) -> DataFrame:
    """Custom stateful first-seen filter: emits each key exactly once,
    on its first appearance across all micro-batches."""
    out_schema = T.StructType([T.StructField(key_col, T.LongType())])
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        # drain the iterator regardless (contract of the API)
        any_rows = False
        for pdf in pdfs:
            if len(pdf):
                any_rows = True
        if not any_rows:
            return
        if not state.exists:
            state.update((True,))
            yield pd.DataFrame({key_col: [key[0]]})

    return (
        events.select(key_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ------------------------------------------ near-dup screen vs a static index


class MinHashIndex:
    """Static MinHash index of a REFERENCE corpus for screening an
    incoming document stream (the "is this new doc a near-dup of the
    existing training set?" ingest question).

    Two static tables, built once at index time:

    - ``buckets`` (corpus_id, bkey): one 8-byte bucket key per (doc,
      band) — the stream-static equi-join side. Rows in buckets larger
      than ``max_bucket_docs`` are dropped WHOLE at build (boilerplate
      clusters; the batch pipeline's hot-bucket cap, deterministic).
    - ``detail`` (corpus_id, sh, bkeys): the doc's distinct
      shingle-hash set (exact verify) and its band-key array with
      CAPPED bands nulled out (first-shared-band dedup, below), ONE
      row per corpus doc. Nulling matters: the first-shared-band
      predicate must be computed over SURVIVING bands only — a pair
      whose first shared band was dropped by ``max_bucket_docs`` has
      no candidate row at that band, so anchoring on the raw array
      would silently drop the pair even though a later shared band
      survives (the batch pipeline loses a pair only if EVERY shared
      band is oversized, operators/dedup.py:251 — same law here).

    Persist both as parquet for the deployed shape; keep the kernel
    params — a screen MUST hash with the index's seeds/bands (asserted
    in :func:`neardup_screen_stream`).

    ``capped`` (bkey) records WHICH buckets the cap dropped — required
    by :func:`extend_minhash_index`: a capped bucket's membership is
    gone from ``buckets``, so without the record an extension would
    see only the new arrivals in that bucket, resurrect it under the
    cap, and emit new-new pairs the full rebuild would have dropped.
    ``max_bucket_docs`` is an index property (not a per-call knob) for
    the same reason: every extension must re-apply the same policy."""

    def __init__(self, buckets: DataFrame, detail: DataFrame,
                 a: list[int], b: list[int], shingle_n: int, bands: int,
                 max_bucket_docs: int | None = None,
                 capped: DataFrame | None = None,
                 query_only: bool = False):
        self.buckets = buckets
        self.detail = detail
        self.a = list(a)
        self.b = list(b)
        self.shingle_n = shingle_n
        self.bands = bands
        self.max_bucket_docs = max_bucket_docs
        self.capped = capped
        # legacy persisted indexes (pre-cap-record meta.json) load in
        # a QUERY-ONLY state: screening against them
        # is safe — the resurrect-dropped-buckets hazard exists only
        # on the extend path — but extend/save refuse, because the
        # cap policy they were built under is unknowable.
        self.query_only = query_only


def build_minhash_index(
    corpus: DataFrame,
    *,
    shingle_n: int,
    a: list[int],
    b: list[int],
    bands: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_docs: int | None = 1024,
) -> MinHashIndex:
    """Index a reference corpus with the SAME fused kernel the batch
    pipeline uses (operators/dedup.py make_shingle_sig_udf), so a
    screen against the index finds exactly the pairs the batch
    pipeline would."""
    from pyspark.sql import functions as F

    from ..operators.dedup import make_shingle_sig_udf

    kernel = make_shingle_sig_udf(a, b, shingle_n, bands=bands)
    staged = corpus.select(
        F.col(id_col).alias("corpus_id"),
        kernel(F.col(text_col)).alias("k"),
    ).select(
        "corpus_id",
        F.col("k.sh").alias("sh"),
        F.col("k.bkeys").alias("bkeys"),
    )
    detail = staged
    buckets = staged.select(
        "corpus_id", F.explode("bkeys").alias("bkey")
    )
    capped = None
    if max_bucket_docs is not None:
        oversized = (
            buckets.groupBy("bkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > max_bucket_docs)
            .select("bkey")
        )
        buckets = buckets.join(
            F.broadcast(oversized), ["bkey"], "left_anti"
        )
        # null the capped bands in detail.bkeys so the screen's
        # first-shared-band anchor ranges over surviving bands only
        # (same cap decision as the buckets side, computed once) —
        # shared reassembly with extend_minhash_index
        detail = _renull_capped_bands(staged, oversized)
        capped = oversized.distinct()
    return MinHashIndex(buckets, detail, a, b, shingle_n, bands,
                        max_bucket_docs=max_bucket_docs, capped=capped)


def _renull_capped_bands(detail: DataFrame, capped: DataFrame) -> DataFrame:
    """Null every band entry of ``detail.bkeys`` whose bucket is in
    ``capped`` — the same ordered posexplode/regroup reassembly
    build_minhash_index uses. Already-null entries pass through (a
    null bkey equi-joins nothing)."""
    from pyspark.sql import functions as F

    kept = (
        detail.select(
            "corpus_id", F.posexplode_outer("bkeys").alias("band_i", "bkey")
        )
        .join(
            F.broadcast(capped.withColumn("capped", F.lit(True))),
            ["bkey"],
            "left",
        )
        .groupBy("corpus_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("band_i"),
                            F.when(
                                F.col("capped").isNull(), F.col("bkey")
                            ).alias("kbk"),
                        )
                    )
                ),
                lambda s: s["kbk"],
            ).alias("bkeys")
        )
    )
    return detail.drop("bkeys").join(kept, "corpus_id")


def extend_minhash_index(
    index: MinHashIndex,
    new_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> MinHashIndex:
    """Append newly admitted documents to an existing screening index
    WITHOUT re-hashing the reference corpus — the ingest loop's third
    step (screen -> admit -> index), closing the cycle the static
    screens leave open.

    Exactness law (pinned by tests/test_index_extend.py):
    ``extend(build(A), B) == build(A | B)`` — identical buckets,
    detail arrays, and screen results. The law holds because the
    hot-bucket cap is MONOTONE in corpus growth: a bucket the old
    index capped (count > cap over A) can only be larger over A|B, so
    staying capped is exactly the rebuild's decision; and every
    not-yet-capped bucket still has its full membership in
    ``buckets``, so the recount over (old buckets + new arrivals)
    equals the rebuild's count. The ``capped`` record is what keeps
    dropped buckets from resurfacing with partial membership (see
    MinHashIndex). Cost: the minhash KERNEL (the dominant term — text
    shingling + signatures) runs over the new docs only; the cap
    recount and the detail band re-null are int64 array/shuffle work
    over bucket keys.

    Extensions are APPEND-ONLY by design: removal cannot be exact,
    because a capped bucket's membership is discarded — deleting a
    doc could take a bucket back under the cap, and its dropped
    members are unrecoverable. Deletions mean a rebuild (same as
    every LSH index that drops hot buckets).
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import make_shingle_sig_udf

    if index.query_only:
        raise ValueError(
            "query-only index (legacy meta.json without a cap "
            "record): its cap policy is unknowable, so extending "
            "could resurrect dropped buckets — rebuild it with this "
            "version's build_minhash_index before extending"
        )
    if index.max_bucket_docs is not None and index.capped is None:
        raise ValueError(
            "index has a bucket cap but no capped-bucket record "
            "(legacy persisted index?) — rebuild it with this version's "
            "build_minhash_index before extending"
        )
    kernel = make_shingle_sig_udf(
        index.a, index.b, index.shingle_n, bands=index.bands
    )
    staged_new = new_docs.select(
        F.col(id_col).alias("corpus_id"),
        kernel(F.col(text_col)).alias("k"),
    ).select(
        "corpus_id",
        F.col("k.sh").alias("sh"),
        F.col("k.bkeys").alias("bkeys"),
    )
    new_buckets = staged_new.select(
        "corpus_id", F.explode("bkeys").alias("bkey")
    )
    cap = index.max_bucket_docs
    if cap is None:
        return MinHashIndex(
            index.buckets.unionByName(new_buckets),
            index.detail.unionByName(staged_new),
            index.a, index.b, index.shingle_n, index.bands,
        )
    old_capped = index.capped.select("bkey")
    # once capped, always capped (counts only grow): new arrivals in an
    # already-capped bucket are dropped like the old members were
    new_buckets = new_buckets.join(
        F.broadcast(old_capped), ["bkey"], "left_anti"
    )
    all_buckets = index.buckets.unionByName(new_buckets)
    newly_oversized = (
        all_buckets.groupBy("bkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > cap)
        .select("bkey")
    )
    buckets = all_buckets.join(
        F.broadcast(newly_oversized), ["bkey"], "left_anti"
    )
    capped = old_capped.unionByName(newly_oversized).distinct()
    # old detail rows already have old-capped bands nulled (no-op under
    # the full set); newly-capped bands get nulled in old AND new rows
    detail = _renull_capped_bands(
        index.detail.unionByName(staged_new), capped
    )
    return MinHashIndex(
        buckets, detail, index.a, index.b, index.shingle_n, index.bands,
        max_bucket_docs=cap, capped=capped,
    )


def neardup_screen_stream(
    incoming: DataFrame,
    index: MinHashIndex,
    *,
    threshold_pct: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Screen a document stream against the static index: emit
    (doc_id, corpus_id, jaccard) for every incoming document whose
    character-shingle Jaccard with a corpus document clears
    ``threshold_pct`` — STATELESS, so it runs append-mode with no
    watermark and no state store. Works identically on a batch
    DataFrame (the stream==batch test discipline).

    Why stateless is nontrivial here: a near-dup pair collides in
    MULTIPLE bands, and the batch pipeline dedupes candidates with a
    DISTINCT — unbounded state on a stream. Instead each candidate row
    keeps BOTH band-key arrays and survives only if its band is the
    pair's FIRST shared band (`array_position(zip_with(=), true)`)
    — a pure per-row predicate, so each verified pair is emitted
    exactly once per micro-batch with no cross-row coordination. The
    index's detail array has CAPPED bands nulled, so the anchor is the
    first shared SURVIVING band — candidate rows only exist for
    surviving buckets, and anchoring on a capped band would silently
    drop pairs that also share a later surviving band (under a cap
    the screen loses a pair only if EVERY shared band is capped,
    exactly the batch pipeline's law).
    (A pair is per-(incoming doc) — re-arrivals of the same doc_id in
    later micro-batches re-emit, exactly like every stateless filter.)

    Scale shape: the stream side is one kernel pass per micro-batch;
    the bucket join is stream-static equi on the 8-byte bkey (Spark
    broadcasts or shuffles the STATIC side once, planner's choice);
    the detail join brings (sh, bkeys) only for candidate rows; verify
    is the batch pipeline's exact integer-threshold Jaccard."""
    from pyspark.sql import functions as F

    from ..operators.dedup import make_shingle_sig_udf

    kernel = make_shingle_sig_udf(
        index.a, index.b, index.shingle_n, bands=index.bands
    )
    staged = incoming.select(
        F.col(id_col).alias("in_id"),
        kernel(F.col(text_col)).alias("k"),
    ).select(
        "in_id",
        F.col("k.sh").alias("in_sh"),
        F.col("k.bkeys").alias("in_bkeys"),
    )
    cand = (
        staged.select(
            "in_id", "in_sh", "in_bkeys",
            F.posexplode("in_bkeys").alias("band_i", "bkey"),
        )
        .join(index.buckets, "bkey")
        .join(index.detail, "corpus_id")
    )
    first_shared = (
        F.array_position(
            F.zip_with(
                "in_bkeys", "bkeys", lambda p, q: p == q
            ),
            F.lit(True),
        )
        - 1
    )
    inter = F.size(F.array_intersect("in_sh", "sh"))
    la, lb = F.size("in_sh"), F.size("sh")
    uni = la + lb - inter
    return (
        cand.where(F.col("band_i") == first_shared)
        .where(
            (100 * inter >= threshold_pct * uni)
            & (100 * F.least(la, lb) >= threshold_pct * F.greatest(la, lb))
        )
        .select(
            F.col("in_id").alias(id_col),
            "corpus_id",
            (inter.cast("double") / uni.cast("double")).alias("jaccard"),
        )
    )


def neardup_screen_stream_once(
    incoming: DataFrame,
    index: MinHashIndex,
    *,
    threshold_pct: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    watermark_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """First-arrival-only composition of :func:`neardup_screen_stream`:
    the stateless screen re-emits a doc's matches every time its
    doc_id re-arrives (correct for a filter, documented there) — real
    ingest pipelines usually want each doc screened ONCE. This is the
    screen composed with the native stateful dedup in front: with
    ``watermark_col`` the seen-set is watermark-bounded
    (``dropDuplicatesWithinWatermark`` — a re-arrival inside the
    horizon is dropped, exactly-once per doc_id within it); without
    one it is exact forever at the cost of state growing with
    distinct doc_ids. State carries only the dedup KEY column —
    screening work and the candidate joins run on first arrivals
    only, so a re-delivery storm costs one state lookup per row, not
    a kernel pass."""
    deduped = dedup_stream(
        incoming, [id_col], watermark_col=watermark_col,
        watermark=watermark,
    )
    return neardup_screen_stream(
        deduped, index, threshold_pct=threshold_pct,
        id_col=id_col, text_col=text_col,
    )


def save_minhash_index(index: MinHashIndex, path: str) -> None:
    """Persist the screening index across sessions: buckets + detail
    as parquet, the kernel params (seeds, shingle width, band count —
    a screen MUST hash with the index's own params) as meta.json."""
    from ..operators.storage import _save_index_dir

    _save_index_dir(
        path, "minhash-index-v1",
        {"buckets": index.buckets, "detail": index.detail,
         "capped": index.capped},
        {
            "a": list(index.a),
            "b": list(index.b),
            "shingle_n": index.shingle_n,
            "bands": index.bands,
            "max_bucket_docs": index.max_bucket_docs,
            "has_capped": index.capped is not None,
        },
        query_only=index.query_only,
    )


def load_minhash_index(spark, path: str) -> MinHashIndex:
    from ..operators.storage import _load_index_dir

    meta, table = _load_index_dir(
        spark, path, "minhash-index-v1", "a minhash-index-v1 dir"
    )
    # Pre-capped-record indexes lack the max_bucket_docs key; the
    # build default back then was a cap of 1024, so treating the
    # missing key as "uncapped" would silently extend a capped index
    # and resurrect dropped buckets with partial membership. QUERY-
    # ONLY load: screening against the index is safe — the hazard
    # exists only on the extend path — so read-only consumers keep
    # working; extend_minhash_index and save_minhash_index refuse on
    # the query_only flag.
    legacy = "max_bucket_docs" not in meta
    return MinHashIndex(
        buckets=table("buckets"),
        detail=table("detail"),
        a=meta["a"],
        b=meta["b"],
        shingle_n=meta["shingle_n"],
        bands=meta["bands"],
        max_bucket_docs=meta.get("max_bucket_docs"),
        capped=table("capped") if meta.get("has_capped") else None,
        query_only=legacy,
    )


def save_substring_index(index: "SubstringIndex", path: str) -> None:
    """Persist the passage-screening index across sessions — the same
    layout discipline as save_minhash_index (tables as parquet, kernel
    params + cap policy as meta.json, the capped record included so a
    loaded index stays extendable)."""
    from ..operators.storage import _save_index_dir

    _save_index_dir(
        path, "substring-index-v1",
        {"buckets": index.buckets, "detail": index.detail,
         "capped": index.capped},
        {
            "window_tokens": index.window_tokens,
            "max_bucket_docs": index.max_bucket_docs,
            "has_capped": index.capped is not None,
        },
        query_only=index.query_only,
    )


def load_substring_index(spark, path: str) -> "SubstringIndex":
    from ..operators.storage import _load_index_dir

    meta, table = _load_index_dir(
        spark, path, "substring-index-v1", "a substring-index-v1 dir"
    )
    # Same legacy-meta hazard as load_minhash_index: a missing cap
    # key means the cap policy is unknowable, not "uncapped" — load
    # query-only (screens work, extend/save refuse).
    legacy = "max_bucket_docs" not in meta
    return SubstringIndex(
        buckets=table("buckets"),
        detail=table("detail"),
        window_tokens=meta["window_tokens"],
        max_bucket_docs=meta.get("max_bucket_docs"),
        capped=table("capped") if meta.get("has_capped") else None,
        query_only=legacy,
    )


def save_semantic_index(index: "SemanticIndex", path: str) -> None:
    """Persist the semantic screening index: members as parquet, the
    tiny model state (normalized centroids, spill, cap policy,
    pre-spill primary counts — required to extend a loaded index) as
    JSON. Centroids round-trip as exact float64 JSON repr, the
    save_ivfpq_index discipline, so screens against the loaded index
    are bit-identical."""
    import numpy as np

    from ..operators.storage import _save_index_dir

    _save_index_dir(
        path, "semantic-index-v1",
        {"members": index.members},
        {
            "centroids": np.asarray(index.centroids, np.float64).tolist(),
            "spill": int(index.spill),
            "vec_col": index.vec_col,
            "max_cell_rows": index.max_cell_rows,
            "primary_counts": (
                {str(k): v for k, v in index.primary_counts.items()}
                if index.primary_counts is not None
                else None
            ),
            "capped_cells": list(index.capped_cells),
        },
    )


def load_semantic_index(spark, path: str) -> "SemanticIndex":
    import numpy as np

    from ..operators.storage import _load_index_dir

    meta, table = _load_index_dir(
        spark, path, "semantic-index-v1", "a semantic-index-v1 dir"
    )
    counts = meta.get("primary_counts")
    return SemanticIndex(
        centroids=np.asarray(meta["centroids"], np.float64),
        members=table("members"),
        spill=int(meta["spill"]),
        vec_col=meta["vec_col"],
        max_cell_rows=meta.get("max_cell_rows"),
        primary_counts=(
            {int(k): int(v) for k, v in counts.items()}
            if counts is not None
            else None
        ),
        capped_cells=[int(c) for c in meta.get("capped_cells", [])],
    )


# -------------------------------------- exact-substring screen vs an index


class SubstringIndex:
    """Static exact-substring (Lee et al. 2021 passage-dedup) index of
    a reference corpus, for screening an incoming document stream:
    "does this new doc share a >=12-token passage with the training
    set, and how many windows?"

    - ``buckets`` (corpus_id, wh): one row per (corpus doc, KEPT
      window) — kept = the window's corpus bucket holds at most
      ``max_bucket_docs`` docs (the batch pipeline's boilerplate cap;
      singleton buckets stay, because a bucket of one corpus doc plus
      one incoming doc IS a pair).
    - ``detail`` (corpus_id, whs): each doc's kept distinct window
      hashes as ONE array row — the per-row exact verify and the
      first-shared-window anchor below.

    ``capped``/``max_bucket_docs``: the dropped-bucket record and the
    cap policy, carried for :func:`extend_substring_index` (same
    rationale as MinHashIndex — without the record an extension would
    resurrect a capped bucket with only its new members)."""

    def __init__(self, buckets: DataFrame, detail: DataFrame,
                 window_tokens: int,
                 max_bucket_docs: int | None = None,
                 capped: DataFrame | None = None,
                 query_only: bool = False):
        self.buckets = buckets
        self.detail = detail
        self.window_tokens = window_tokens
        self.max_bucket_docs = max_bucket_docs
        self.capped = capped
        self.query_only = query_only  # see MinHashIndex.__init__


def build_substring_index(
    corpus: DataFrame,
    *,
    window_tokens: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_docs: int = 64,
) -> SubstringIndex:
    """Index with the SAME window hashing as the batch
    `dedup_exact_substring` entry (multi-arg xxhash64 over the
    window's tokens — equality-based bucketing, plans/text.py), so
    a SELF-screen of the corpus finds exactly the batch pipeline's
    pairs (pinned in tests/test_streaming_neardup.py)."""
    from pyspark.sql import functions as F

    staged = _doc_windows(corpus, id_col, text_col, window_tokens)
    sizes = staged.groupBy("wh").agg(F.count(F.lit(1)).alias("n"))
    oversized = sizes.where(
        F.col("n") > max_bucket_docs
    ).select("wh")
    buckets = staged.join(F.broadcast(oversized), ["wh"], "left_anti")
    detail = buckets.groupBy("corpus_id").agg(
        F.sort_array(F.collect_set("wh")).alias("whs")
    )
    return SubstringIndex(buckets, detail, window_tokens,
                          max_bucket_docs=max_bucket_docs,
                          capped=oversized.distinct())


def extend_substring_index(
    index: SubstringIndex,
    new_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> SubstringIndex:
    """Append newly admitted documents to a substring screening index
    without re-hashing the reference corpus — the passage-dedup twin
    of :func:`extend_minhash_index`, exact by the same cap-
    monotonicity law (test-pinned: extend(build(A), B) == build(A|B)).
    The window-hash kernel runs over the new docs only; `detail` is
    re-derived from the merged buckets (pure int64 aggregation — it
    is a projection of buckets by construction, so equality of
    buckets implies equality of detail)."""
    from pyspark.sql import functions as F

    if index.query_only:
        raise ValueError(
            "query-only index (legacy meta.json without a cap "
            "record): its cap policy is unknowable, so extending "
            "could resurrect dropped buckets — rebuild it with this "
            "version's build_substring_index before extending"
        )
    if index.capped is None:
        raise ValueError(
            "index has no capped-bucket record (legacy persisted "
            "index?) — rebuild it with this version's "
            "build_substring_index before extending"
        )
    staged_new = _doc_windows(
        new_docs, id_col, text_col, index.window_tokens
    )
    old_capped = index.capped.select("wh")
    # once capped, always capped: bucket counts only grow
    staged_new = staged_new.join(
        F.broadcast(old_capped), ["wh"], "left_anti"
    )
    all_buckets = index.buckets.unionByName(staged_new)
    newly_oversized = (
        all_buckets.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > index.max_bucket_docs)
        .select("wh")
    )
    buckets = all_buckets.join(
        F.broadcast(newly_oversized), ["wh"], "left_anti"
    )
    detail = buckets.groupBy("corpus_id").agg(
        F.sort_array(F.collect_set("wh")).alias("whs")
    )
    return SubstringIndex(
        buckets, detail, index.window_tokens,
        max_bucket_docs=index.max_bucket_docs,
        capped=old_capped.unionByName(newly_oversized).distinct(),
    )


def _doc_windows(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(corpus_id, wh): DISTINCT hashed n-token windows per doc — the
    batch entry's window production as a DataFrame helper."""
    from pyspark.sql import functions as F

    elems = ", ".join(f"tks[pos + {k}]" for k in range(n))
    tks = F.array_remove(
        F.split(F.lower(F.col(text_col)), r"\s+"), ""
    )
    return (
        docs.select(F.col(id_col).alias("corpus_id"), tks.alias("tks"))
        .select(
            "corpus_id",
            F.posexplode("tks").alias("pos", "tok"),
            F.col("tks"),
        )
        .where(F.col("pos") + n <= F.size("tks"))
        .select("corpus_id", F.expr(f"xxhash64({elems})").alias("wh"))
        .distinct()
    )


def substring_screen_stream(
    incoming: DataFrame,
    index: SubstringIndex,
    *,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Screen a document stream against the static substring index:
    emit (doc_id, corpus_id, shared_windows) for every incoming doc
    sharing >= min_shared exact windows with a corpus doc — STATELESS
    (append mode, no watermark, no state store), the passage-dedup
    twin of :func:`neardup_screen_stream`.

    Exactly-once pair emission without state: a pair sharing W
    windows produces W candidate rows from the bucket join; each row
    carries BOTH window sets, and only the row whose window equals
    ``array_min(array_intersect(in_whs, whs))`` — the pair's FIRST
    shared kept window, a pure per-row predicate — survives.
    ``shared_windows`` is the same intersection's size, so the count
    covers all shared windows even though one row emits. The index
    arrays hold KEPT windows only, so capped (boilerplate) buckets
    can neither anchor nor count — a self-screen equals the batch
    pipeline's pairs exactly, including its cap semantics.

    The incoming doc's window-hash array is a PER-ROW expression
    (transform over window start positions — a doc's windows derive
    from its own text alone), not a streaming aggregation: append
    mode stays legal with zero state, the same discipline as the
    MinHash screen's per-row kernel."""
    from pyspark.sql import functions as F

    n = index.window_tokens
    elems = ", ".join(f"tks[i + {k}]" for k in range(n))
    in_whs = F.expr(
        f"CASE WHEN size(tks) >= {n} THEN array_distinct("
        f"transform(sequence(0, size(tks) - {n}),"
        f" i -> xxhash64({elems}))) ELSE array() END"
    )
    staged = incoming.select(
        F.col(id_col).alias("in_id"),
        F.array_remove(
            F.split(F.lower(F.col(text_col)), r"\s+"), ""
        ).alias("tks"),
    ).select("in_id", in_whs.alias("in_whs"))
    cand = (
        staged.select("in_id", "in_whs", F.explode("in_whs").alias("wh"))
        .join(index.buckets, "wh")
        .join(index.detail, "corpus_id")
    )
    inter = F.array_intersect("in_whs", "whs")
    return (
        cand.where(F.col("wh") == F.array_min(inter))
        .where(F.size(inter) >= min_shared)
        .select(
            F.col("in_id").alias(id_col),
            "corpus_id",
            F.size(inter).cast("long").alias("shared_windows"),
        )
    )


# ------------------------------------ semantic screen vs a static cell index


class SemanticIndex:
    """Static SemDeDup-style cell index of a reference EMBEDDING
    corpus, for screening an incoming embedding stream ("is this new
    item semantically redundant against the training set?"). Holds
    the tiny quantizer (centroids, driver-side) and the
    spill-replicated ``members`` table: one row per (cell, corpus_id)
    with the corpus vector and the doc's kept-cells array.

    ``primary_counts``/``capped_cells``/``max_cell_rows`` record the
    cap state for :func:`extend_semantic_index`: the oversize skip is
    decided on PRE-SPILL primary populations, which are no longer
    derivable from ``members`` once a cell is dropped (its rows are
    gone and the survivors' ccells arrays were rewritten) — K-bounded
    driver-side ints, the same size class as the centroids."""

    def __init__(self, centroids, members: DataFrame, spill: int,
                 vec_col: str,
                 max_cell_rows: int | None = None,
                 primary_counts: dict[int, int] | None = None,
                 capped_cells: list[int] | None = None):
        self.centroids = centroids
        self.members = members
        self.spill = spill
        self.vec_col = vec_col
        self.max_cell_rows = max_cell_rows
        self.primary_counts = primary_counts
        self.capped_cells = list(capped_cells or [])


def _staged_cells(df: DataFrame, centroids, spill: int, id_col: str,
                  vec_col: str,
                  names=("corpus_id", "cvec", "ccells")) -> DataFrame:
    """(id, vector, cells) of df's non-NULL vectors, the cells being
    each vector's `spill` nearest, nearest (the primary) first."""
    from pyspark.sql import functions as F

    from ..operators.similarity import make_multi_assign_udf

    multi = make_multi_assign_udf(centroids, spill)
    i, v, c = names
    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias(i),
        F.col(vec_col).alias(v),
        multi(F.col(vec_col)).alias(c),
    )


def _primary_counts(staged: DataFrame) -> dict[int, int]:
    """cell -> staged rows whose PRIMARY (pre-spill) cell it is."""
    from pyspark.sql import functions as F

    return {
        int(r["cell"]): int(r["n"])
        for r in staged.select(
            F.element_at("ccells", 1).alias("cell")
        ).groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def _drop_cells(df: DataFrame, col: str, cells: list[int]) -> DataFrame:
    """Remove the capped `cells` from every `col` cells array."""
    from pyspark.sql import functions as F

    if not cells:
        return df
    return df.withColumn(
        col, F.array_except(col, F.array(*[F.lit(c) for c in cells]))
    )


def _members(staged: DataFrame) -> DataFrame:
    """One members row per (kept cell, corpus vector)."""
    from pyspark.sql import functions as F

    return staged.select(
        "corpus_id", "cvec", "ccells", F.explode("ccells").alias("cell")
    )


def build_semantic_index(
    corpus: DataFrame,
    *,
    n_clusters: int | None = None,
    centroids=None,
    spill: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iterations: int = 2,
    seed: int = 42,
    max_train_rows: int = 65_536,
    max_cell_rows: int | None = None,
) -> SemanticIndex:
    """Index with the SAME quantizer discipline as
    operators/similarity.py semantic_dedup_pairs (sample-bounded
    Lloyd training, nearest-first multi-assign spill), so a
    SELF-screen of the corpus finds exactly the batch pipeline's
    pairs. ``max_cell_rows`` mirrors the batch oversize skip: cells
    whose PRE-SPILL (primary) population exceeds it are dropped WHOLE
    at build — and their ids nulled from every kept-cells array, so
    the screen's first-shared-cell anchor ranges over surviving cells
    only (the same law as the MinHash screen)."""
    from ..operators.similarity import _semantic_centroids

    C = _semantic_centroids(
        corpus, n_clusters, centroids, vec_col=vec_col, id_col=id_col,
        train_iterations=train_iterations, seed=seed,
        max_train_rows=max_train_rows,
    )
    staged = _staged_cells(corpus, C, spill, id_col, vec_col)
    capped: list[int] = []
    primary_counts: dict[int, int] | None = None
    if max_cell_rows is not None:
        primary_counts = _primary_counts(staged)
        capped = sorted(
            c for c, n in primary_counts.items() if n > max_cell_rows
        )
    return SemanticIndex(C, _members(_drop_cells(staged, "ccells", capped)),
                         spill, vec_col,
                         max_cell_rows=max_cell_rows,
                         primary_counts=primary_counts,
                         capped_cells=capped)


def extend_semantic_index(
    index: SemanticIndex,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str | None = None,
) -> SemanticIndex:
    """Append newly admitted embeddings to a semantic screening index
    with the quantizer FIXED — the standard IVF deployment shape
    (centroids are trained once on a bounded sample; assignment of
    new vectors does not retrain them), so exactness is against a
    rebuild WITH THE SAME CENTROIDS:
    ``extend(build(A, centroids=C), B) == build(A|B, centroids=C)``
    (test-pinned). The oversize skip stays exact through the
    persisted pre-spill primary counts: counts only grow, so an
    old-capped cell stays capped, and a cell pushed over the cap by
    the new arrivals is dropped whole — its member rows removed and
    its id rewritten out of every kept-cells array, old and new."""
    from pyspark.sql import functions as F

    vec_col = vec_col or index.vec_col
    if index.max_cell_rows is not None and index.primary_counts is None:
        raise ValueError(
            "index has a cell cap but no primary-count record — "
            "rebuild it with this version's build_semantic_index "
            "before extending"
        )
    staged_new = _staged_cells(
        new_vectors, index.centroids, index.spill, id_col, vec_col
    )
    if index.max_cell_rows is None:
        members = index.members.unionByName(_members(staged_new))
        return SemanticIndex(index.centroids, members, index.spill,
                             index.vec_col)
    counts = dict(index.primary_counts)
    for c, n in _primary_counts(staged_new).items():
        counts[c] = counts.get(c, 0) + n
    capped = sorted(
        c for c, n in counts.items() if n > index.max_cell_rows
    )
    newly = [c for c in capped if c not in set(index.capped_cells)]
    old_members = index.members
    if newly:
        old_members = _drop_cells(
            old_members.where(~F.col("cell").isin(newly)), "ccells", newly
        )
    members = old_members.unionByName(
        _members(_drop_cells(staged_new, "ccells", capped))
    )
    return SemanticIndex(index.centroids, members, index.spill,
                         index.vec_col,
                         max_cell_rows=index.max_cell_rows,
                         primary_counts=counts,
                         capped_cells=capped)


def semantic_screen_stream(
    incoming: DataFrame,
    index: SemanticIndex,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str | None = None,
) -> DataFrame:
    """Screen an embedding stream against the static cell index: emit
    (vec_id, corpus_id, sim) for every incoming vector whose fold-dot
    cosine with a corpus vector clears ``threshold`` and that
    CO-OCCURS with it in at least one surviving cell — STATELESS
    (append mode, no state store), the embedding twin of
    :func:`neardup_screen_stream` / :func:`substring_screen_stream`.

    Exactly-once pair emission without state: the incoming vector's
    cells come from one per-row multi-assign kernel pass; candidates
    are stream-static equi-joins on the cell id; a pair sharing
    several spill cells keeps only the row whose cell equals
    ``array_min(array_intersect(in_cells, ccells))`` — the first
    shared surviving cell. Sims use the SAME sequential-fold double
    semantics as the batch scorer and the SQL oracle (`zip_with` +
    left fold), so a self-screen is BIT-IDENTICAL to
    semantic_dedup_pairs (pinned in tests)."""
    from pyspark.sql import functions as F

    vec_col = vec_col or index.vec_col
    staged = _drop_cells(
        _staged_cells(incoming, index.centroids, index.spill, id_col,
                      vec_col, names=("in_id", "ivec", "in_cells")),
        "in_cells", index.capped_cells,
    )
    cand = staged.select(
        "in_id", "ivec", "in_cells",
        F.explode("in_cells").alias("cell"),
    ).join(index.members, "cell")
    sim = F.expr(
        "aggregate(zip_with(ivec, cvec,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    first_shared = F.array_min(
        F.array_intersect("in_cells", "ccells")
    )
    return (
        cand.where(F.col("cell") == first_shared)
        .where(sim >= threshold)
        .select(
            F.col("in_id").alias(id_col),
            "corpus_id",
            sim.alias("sim"),
        )
    )
