"""Streaming near-dup screen vs the static MinHash index.

Laws pinned (the batch pipeline's test discipline, test_dedup_random):

- guaranteed recall at s=1 — an incoming doc identical to a corpus doc
  collides in EVERY band and must be matched with jaccard 1.0;
- soundness — every emitted pair's Jaccard, recomputed independently
  in pure Python over character shingles, clears the threshold;
- pair uniqueness — the stateless first-shared-band predicate emits
  each (incoming, corpus) pair exactly once per micro-batch;
- batch == stream on the same files, and one-file-per-micro-batch
  arrival independence (stateless contract);
- equivalence with the BATCH pipeline: screening the corpus against
  its own index finds exactly minhash_neardup_pairs' pairs (same
  kernel, same banding, same verify).
"""

from __future__ import annotations

import os

import pytest

from dazzleduck_sql_duckdb_spark.plans import dedup as Q
from dazzleduck_sql_duckdb_spark.streaming import run_stream_to_memory
from dazzleduck_sql_duckdb_spark.streaming.dedup import (
    build_minhash_index,
    neardup_screen_stream,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

DOCS_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING,"
    " n_chars BIGINT"
)
KNOBS = dict(
    shingle_n=Q.SHINGLE_N, a=Q.MINHASH_A, b=Q.MINHASH_B, bands=32,
)


@pytest.fixture(scope="module")
def docs_dir(tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("docs_neardup")
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    docs.repartition(3).write.mode("overwrite").parquet(str(d / "p"))
    return str(d / "p")


@pytest.fixture(scope="module")
def index(spark, docs_dir):
    return build_minhash_index(
        spark.read.parquet(docs_dir), max_bucket_docs=None, **KNOBS
    )


def _read_stream(spark, path, max_files=None):
    r = spark.readStream.schema(DOCS_SCHEMA)
    if max_files is not None:
        r = r.option("maxFilesPerTrigger", str(max_files))
    return r.parquet(path)


def _py_shingles(t: str, n: int) -> set[str]:
    s = t.strip(" ").lower()
    if len(s) < n:
        return {s}
    return {s[i: i + n] for i in range(len(s) - n + 1)}


def test_screen_laws_and_batch_equals_stream(spark, docs_dir, index):
    batch_docs = spark.read.parquet(docs_dir)
    out_b = neardup_screen_stream(
        batch_docs, index, threshold_pct=Q.JACCARD_PCT
    )
    rows_b = out_b.collect()
    # guaranteed recall at s=1: every doc matches itself at 1.0
    self_matches = {
        r.doc_id for r in rows_b if r.doc_id == r.corpus_id
    }
    assert self_matches == {r.doc_id for r in batch_docs.collect()}
    assert all(
        r.jaccard == 1.0 for r in rows_b if r.doc_id == r.corpus_id
    )
    # pair uniqueness (first-shared-band predicate)
    pairs = [(r.doc_id, r.corpus_id) for r in rows_b]
    assert len(pairs) == len(set(pairs))
    # soundness: independent python jaccard clears the threshold
    texts = {r.doc_id: r.text for r in batch_docs.collect()}
    for r in rows_b:
        sa = _py_shingles(texts[r.doc_id], Q.SHINGLE_N)
        sb = _py_shingles(texts[r.corpus_id], Q.SHINGLE_N)
        j = len(sa & sb) / (len(sa) + len(sb) - len(sa & sb))
        assert j * 100 >= Q.JACCARD_PCT, (r.doc_id, r.corpus_id, j)
    # stream == batch
    out_s = neardup_screen_stream(
        _read_stream(spark, docs_dir), index,
        threshold_pct=Q.JACCARD_PCT,
    )
    run_stream_to_memory(out_s, "screen_stream", output_mode="append")
    assert sorted(map(tuple, spark.table("screen_stream").collect())) \
        == sorted(map(tuple, rows_b))


def test_screen_multibatch_arrival_independent(spark, docs_dir, index):
    out = neardup_screen_stream(
        _read_stream(spark, docs_dir, max_files=1), index,
        threshold_pct=Q.JACCARD_PCT,
    )
    run_stream_to_memory(out, "screen_mb", output_mode="append")
    batch = neardup_screen_stream(
        spark.read.parquet(docs_dir), index,
        threshold_pct=Q.JACCARD_PCT,
    )
    assert sorted(map(tuple, spark.table("screen_mb").collect())) \
        == sorted(map(tuple, batch.collect()))


def test_screen_self_equals_batch_pipeline(spark, docs_dir, index):
    """Screening the corpus against its own index must find exactly
    the batch pipeline's near-dup pairs (same kernel/banding/verify):
    screen pairs minus self-matches, unordered, == minhash pairs."""
    from dazzleduck_sql_duckdb_spark.operators.dedup import (
        minhash_neardup_pairs,
    )

    docs = spark.read.parquet(docs_dir)
    screened = {
        frozenset((r.doc_id, r.corpus_id))
        for r in neardup_screen_stream(
            docs, index, threshold_pct=Q.JACCARD_PCT
        ).collect()
        if r.doc_id != r.corpus_id
    }
    batch = {
        frozenset((r.doc_a, r.doc_b))
        for r in minhash_neardup_pairs(
            docs, shingle_n=Q.SHINGLE_N, a=Q.MINHASH_A, b=Q.MINHASH_B,
            bands=32, threshold_pct=Q.JACCARD_PCT,
            max_bucket_docs=None,
            # the screen has no block column by design (an ingest
            # screen must catch cross-lang copies); compare against
            # the unblocked batch run — with the default "lang"
            # blocking the screen finds a strict superset (verified:
            # 20 cross-lang pairs at jaccard 0.93-0.99 in this corpus)
            block_col=None,
        ).collect()
    }
    assert screened == batch and len(batch) > 0


def test_screen_capped_first_band_still_found(spark):
    """r9 advisor fix: the first-shared-band anchor must range over
    SURVIVING bands only. Fixture: an 8-doc boilerplate cluster plus
    one variant Y in the corpus; the incoming doc X is IDENTICAL to Y,
    so the raw first shared band of (X, Y) is band 0 — and the variant
    is chosen so its band-0 key equals the boilerplate cluster's,
    making that bucket 9 docs deep and CAPPED at max_bucket_docs=4.
    Anchoring on the raw array drops the pair (no candidate row at a
    capped band); anchoring on the kept array finds it via the first
    surviving shared band. The batch law: a pair is lost only if
    EVERY shared band is capped."""
    from pyspark.sql import functions as F

    from dazzleduck_sql_duckdb_spark.operators.dedup import (
        make_shingle_sig_udf,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "in spain falls mainly on the plain and the band plays on"
    )
    kernel = make_shingle_sig_udf(
        KNOBS["a"], KNOBS["b"], KNOBS["shingle_n"], bands=KNOBS["bands"]
    )
    cands = [base + f" tail{i}" for i in range(40)]
    staged = spark.createDataFrame(
        [(i, t) for i, t in enumerate([base] + cands)], "id INT, text STRING"
    ).select("id", kernel(F.col("text")).alias("k"))
    keys = {r.id: list(r.k.bkeys) for r in staged.collect()}
    base_keys = keys[0]
    variant = None
    for i in range(1, len(cands) + 1):
        bk = keys[i]
        if bk[0] == base_keys[0] and any(
            x != y for x, y in zip(bk, base_keys)
        ):
            variant = cands[i - 1]
            break
    assert variant is not None, (
        "no candidate variant keeps band 0 while changing another band"
        " — widen the candidate pool"
    )
    corpus = spark.createDataFrame(
        [(i, base) for i in range(8)] + [(100, variant)],
        "doc_id BIGINT, text STRING",
    )
    idx = build_minhash_index(corpus, max_bucket_docs=4, **KNOBS)
    incoming = spark.createDataFrame(
        [(999, variant)], "doc_id BIGINT, text STRING"
    )
    rows = neardup_screen_stream(
        incoming, idx, threshold_pct=Q.JACCARD_PCT
    ).collect()
    pairs = [(r.doc_id, r.corpus_id) for r in rows]
    assert (999, 100) in pairs, (
        "pair lost: first-shared-band anchored on a capped band"
    )
    assert len(pairs) == len(set(pairs)), "pair emitted more than once"
    assert [r.jaccard for r in rows if r.corpus_id == 100] == [1.0]
    # the boilerplate cluster itself is unreachable — every one of its
    # band buckets is >= 8 deep and capped (the batch law's lost case)
    assert all(c == 100 for _, c in pairs)


def test_screen_once_drops_rearrivals(spark, tmp_path, index, docs_dir):
    """neardup_screen_stream_once: a doc_id re-arriving in a later
    micro-batch is screened exactly once; the plain stateless screen
    re-emits (its documented filter semantics) — both pinned here."""
    from dazzleduck_sql_duckdb_spark.streaming.dedup import (
        neardup_screen_stream_once,
    )

    docs = spark.read.parquet(docs_dir)
    one = docs.limit(1).collect()[0]
    d = tmp_path / "rearrive"
    d.mkdir()
    spark.createDataFrame(
        [(one.doc_id, one.text)], "doc_id BIGINT, text STRING"
    ).coalesce(1).write.parquet(str(d / "f1"))
    spark.createDataFrame(
        [(one.doc_id, one.text)], "doc_id BIGINT, text STRING"
    ).coalesce(1).write.parquet(str(d / "f2"))
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d / "*"))
    )
    out = neardup_screen_stream_once(
        stream, index, threshold_pct=Q.JACCARD_PCT
    )
    run_stream_to_memory(out, "screen_once", output_mode="append")
    once_rows = spark.table("screen_once").collect()
    self_hits = [
        r for r in once_rows
        if r.doc_id == one.doc_id and r.corpus_id == one.doc_id
    ]
    assert len(self_hits) == 1, "re-arrival was screened again"
    # the plain screen re-emits per arrival (stateless filter law)
    plain = neardup_screen_stream(
        (
            spark.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(d / "*"))
        ),
        index, threshold_pct=Q.JACCARD_PCT,
    )
    run_stream_to_memory(plain, "screen_plain", output_mode="append")
    plain_hits = [
        r for r in spark.table("screen_plain").collect()
        if r.doc_id == one.doc_id and r.corpus_id == one.doc_id
    ]
    assert len(plain_hits) == 2


def test_minhash_index_save_load_roundtrip(spark, docs_dir, index, tmp_path):
    """Screening against a saved+loaded index finds exactly the same
    pairs as the in-memory one (parquet tables + JSON kernel params)."""
    from dazzleduck_sql_duckdb_spark.streaming.dedup import (
        load_minhash_index,
        save_minhash_index,
    )

    save_minhash_index(index, str(tmp_path / "mh"))
    idx2 = load_minhash_index(spark, str(tmp_path / "mh"))
    assert (idx2.a, idx2.b, idx2.shingle_n, idx2.bands) == (
        index.a, index.b, index.shingle_n, index.bands,
    )
    docs = spark.read.parquet(docs_dir).limit(50)
    a = neardup_screen_stream(
        docs, index, threshold_pct=Q.JACCARD_PCT
    ).collect()
    b = neardup_screen_stream(
        docs, idx2, threshold_pct=Q.JACCARD_PCT
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
