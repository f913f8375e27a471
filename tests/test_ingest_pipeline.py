"""End-to-end ingest-gate loop: the round-9 pieces composed.

A training-data ingest gate is a CYCLE, not a filter: screen the
incoming batch against the reference index, admit what survives,
extend the index with the admissions — so the NEXT batch is screened
against everything admitted so far. The screens (stateless,
stream-static joins) and the extension (exact vs rebuild, law-tested
in test_index_extend.py) are verified separately; this test pins the
COMPOSITION:

  batch 1 — all-fresh docs pass the gate and enter the index;
  batch 2 — near-copies of batch-1 docs are CAUGHT, attributed to the
            batch-1 doc_ids (proof the index learned), while batch-2
            fresh docs still pass;
  batch 3 — re-submissions of batch-2 admissions are caught too
            (the gate is idempotent under re-delivery of admitted
            content), and the reference corpus still screens
            (extension did not disturb the original entries).
"""

from __future__ import annotations

import os
import random

import pytest

from dazzleduck_sql_duckdb_spark.plans import dedup as Q
from dazzleduck_sql_duckdb_spark.streaming.dedup import (
    build_minhash_index,
    extend_minhash_index,
    neardup_screen_stream,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

KNOBS = dict(
    shingle_n=Q.SHINGLE_N, a=Q.MINHASH_A, b=Q.MINHASH_B, bands=32,
)
THRESHOLD = 80


def _fresh_texts(rng: random.Random, n: int, length: int = 60) -> list[str]:
    # independent Zipf-free uniform draws over a 20k vocab: two such
    # docs share ~0.3% of tokens — nowhere near an 80% shingle Jaccard
    return [
        " ".join(f"tok{rng.randint(0, 20_000)}" for _ in range(length))
        for _ in range(n)
    ]


def _near_copy(rng: random.Random, text: str) -> str:
    toks = text.split()
    toks[rng.randrange(len(toks))] = f"tok{rng.randint(0, 20_000)}"
    return " ".join(toks)


def _docs(spark, ids, texts):
    return spark.createDataFrame(
        list(zip(ids, texts)), schema="doc_id BIGINT, text STRING"
    )


def _gate(spark, batch, index):
    """One gate turn: screen, split admit/reject, extend. The extended
    index tables are persisted — the deployed loop writes each
    extension to parquet (save_minhash_index) for exactly this reason:
    chained lazy extensions would otherwise re-run the whole lineage
    (corpus kernel included) on every later screen."""
    matches = neardup_screen_stream(
        batch, index, threshold_pct=THRESHOLD
    ).collect()
    caught = {r["doc_id"]: r["corpus_id"] for r in matches}
    admitted = batch.where(~batch.doc_id.isin(list(caught) or [-1]))
    ext = extend_minhash_index(index, admitted)
    for df in (ext.buckets, ext.detail, ext.capped):
        df.persist().count()
    return caught, ext


def test_ingest_gate_learns_across_batches(spark):
    rng = random.Random(20260816)
    corpus = spark.read.parquet(
        os.path.join(SF_DIR, "documents.parquet")
    ).select("doc_id", "text")
    index = build_minhash_index(corpus, **KNOBS)

    # batch 1: 12 fresh docs — nothing in the reference corpus matches
    t1 = _fresh_texts(rng, 12)
    ids1 = list(range(10_000, 10_012))
    caught1, index = _gate(spark, _docs(spark, ids1, t1), index)
    assert caught1 == {}

    # batch 2: 4 near-copies of batch-1 admissions + 8 fresh
    ids2_dup = list(range(20_000, 20_004))
    ids2_fresh = list(range(20_004, 20_012))
    t2 = [_near_copy(rng, t1[i]) for i in range(4)] + _fresh_texts(rng, 8)
    caught2, index = _gate(
        spark, _docs(spark, ids2_dup + ids2_fresh, t2), index
    )
    # the 4 near-copies are caught AND attributed to their batch-1
    # originals — the index learned from batch 1
    assert set(caught2) == set(ids2_dup)
    assert [caught2[i] for i in ids2_dup] == ids1[:4]

    # batch 3: exact re-submissions of two batch-2 ADMISSIONS (fresh
    # ids), one near-copy of a REFERENCE corpus doc, one fresh
    ref_text = corpus.where("doc_id = 7").collect()[0]["text"]
    ids3 = [30_000, 30_001, 30_002, 30_003]
    t3 = [t2[4], t2[5], _near_copy(rng, ref_text), _fresh_texts(rng, 1)[0]]
    caught3, index = _gate(spark, _docs(spark, ids3, t3), index)
    assert caught3.get(30_000) == ids2_fresh[0]
    assert caught3.get(30_001) == ids2_fresh[1]
    assert caught3.get(30_002) == 7  # original corpus still screens
    assert 30_003 not in caught3

    # the gate admitted 12 + 8 + 1 docs on top of the 500-doc corpus
    n_corpus = corpus.count()
    assert index.detail.count() == n_corpus + 21
