"""Index-extension exactness laws, one per screen family:
extend(build(A), B) must equal build(A | B) — buckets, detail arrays,
and screen results — including under an aggressive cap where the
interesting transitions happen (old-capped stays capped by count
monotonicity; a bucket/cell crossing the cap ONLY because of the new
arrivals is dropped whole, with its entries re-nulled/rewritten in
OLD detail rows too). The semantic family's law is against a rebuild
WITH THE SAME CENTROIDS (the quantizer is fixed at extension — the
standard IVF deployment shape)."""

from __future__ import annotations

import os

import pytest

from dazzleduck_sql_duckdb_spark.operators.similarity import (
    train_centroids,
)
from dazzleduck_sql_duckdb_spark.plans import dedup as Q
from dazzleduck_sql_duckdb_spark.streaming.dedup import (
    build_minhash_index,
    build_semantic_index,
    build_substring_index,
    extend_minhash_index,
    extend_semantic_index,
    extend_substring_index,
    load_minhash_index,
    load_semantic_index,
    load_substring_index,
    neardup_screen_stream,
    save_minhash_index,
    save_semantic_index,
    save_substring_index,
    semantic_screen_stream,
    substring_screen_stream,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

KNOBS = dict(
    shingle_n=Q.SHINGLE_N, a=Q.MINHASH_A, b=Q.MINHASH_B, bands=32,
)


@pytest.fixture(scope="module")
def corpora(spark):
    docs = spark.read.parquet(
        os.path.join(SF_DIR, "documents.parquet")
    ).select("doc_id", "text")
    old = docs.where("doc_id % 3 != 0")
    new = docs.where("doc_id % 3 = 0")
    return docs, old, new


def _bucket_rows(ix):
    return sorted(
        (r["corpus_id"], r["bkey"]) for r in ix.buckets.collect()
    )


def _detail_rows(ix):
    return {
        r["corpus_id"]: (sorted(r["sh"]), list(r["bkeys"]))
        for r in ix.detail.collect()
    }


def _capped_rows(ix):
    return sorted(r["bkey"] for r in ix.capped.collect())


@pytest.mark.parametrize("cap", [None, 2])
def test_extend_equals_rebuild(spark, corpora, cap):
    docs, old, new = corpora
    ext = extend_minhash_index(
        build_minhash_index(old, max_bucket_docs=cap, **KNOBS), new
    )
    full = build_minhash_index(docs, max_bucket_docs=cap, **KNOBS)
    assert _bucket_rows(ext) == _bucket_rows(full)
    assert _detail_rows(ext) == _detail_rows(full)
    if cap is not None:
        # cap=2 actually exercises every transition on this corpus
        assert len(_capped_rows(full)) > 0
        assert _capped_rows(ext) == _capped_rows(full)
        # the monotone law's interesting half: buckets capped ONLY in
        # the full index (i.e. pushed over by the new docs) exist
        old_ix = build_minhash_index(old, max_bucket_docs=cap, **KNOBS)
        assert set(_capped_rows(full)) > set(_capped_rows(old_ix))


def test_extend_screen_equals_rebuild_screen(spark, corpora):
    docs, old, new = corpora
    probe = docs.limit(60)
    ext = extend_minhash_index(
        build_minhash_index(old, max_bucket_docs=2, **KNOBS), new
    )
    full = build_minhash_index(docs, max_bucket_docs=2, **KNOBS)
    got = sorted(
        map(tuple, neardup_screen_stream(
            probe, ext, threshold_pct=80
        ).collect())
    )
    want = sorted(
        map(tuple, neardup_screen_stream(
            probe, full, threshold_pct=80
        ).collect())
    )
    assert got == want and len(got) > 0


def test_extend_after_save_load_roundtrip(spark, corpora, tmp_path):
    docs, old, new = corpora
    save_minhash_index(
        build_minhash_index(old, max_bucket_docs=2, **KNOBS),
        str(tmp_path / "ix"),
    )
    loaded = load_minhash_index(spark, str(tmp_path / "ix"))
    assert loaded.max_bucket_docs == 2 and loaded.capped is not None
    ext = extend_minhash_index(loaded, new)
    full = build_minhash_index(docs, max_bucket_docs=2, **KNOBS)
    assert _bucket_rows(ext) == _bucket_rows(full)
    assert _capped_rows(ext) == _capped_rows(full)


@pytest.mark.parametrize("cap", [2, 64])
def test_extend_substring_equals_rebuild(spark, corpora, cap):
    docs, old, new = corpora
    ext = extend_substring_index(
        build_substring_index(old, max_bucket_docs=cap), new
    )
    full = build_substring_index(docs, max_bucket_docs=cap)
    assert sorted(
        (r["corpus_id"], r["wh"]) for r in ext.buckets.collect()
    ) == sorted((r["corpus_id"], r["wh"]) for r in full.buckets.collect())
    assert {
        r["corpus_id"]: list(r["whs"]) for r in ext.detail.collect()
    } == {r["corpus_id"]: list(r["whs"]) for r in full.detail.collect()}
    probe = docs.limit(60)
    got = sorted(map(tuple, substring_screen_stream(
        probe, ext, min_shared=1
    ).collect()))
    want = sorted(map(tuple, substring_screen_stream(
        probe, full, min_shared=1
    ).collect()))
    assert got == want and len(got) > 0


@pytest.fixture(scope="module")
def emb_corpora(spark):
    emb = spark.read.parquet(
        os.path.join(SF_DIR, "embeddings.parquet")
    ).select("vec_id", "embedding")
    return emb, emb.where("vec_id % 3 != 0"), emb.where("vec_id % 3 = 0")


@pytest.mark.parametrize("capped_case", [False, True])
def test_extend_semantic_equals_rebuild_same_centroids(
    spark, emb_corpora, capped_case
):
    emb, old, new = emb_corpora
    cents = train_centroids(old, 8, iterations=2, seed=42)
    cap = None
    if capped_case:
        # adaptive cap: one notch under the fullest cell's FULL-corpus
        # primary population, so exactly the cell(s) pushed past it BY
        # THE NEW ARRIVALS cap during extension while others survive —
        # the transition the law is about (a fixed cap either caps
        # everything or nothing on this small fixture)
        probe_old = build_semantic_index(
            old, centroids=cents, spill=3, max_cell_rows=10**9
        ).primary_counts
        probe_full = build_semantic_index(
            emb, centroids=cents, spill=3, max_cell_rows=10**9
        ).primary_counts
        cap = max(probe_full.values()) - 1
        hot = max(probe_full, key=probe_full.get)
        assert probe_old.get(hot, 0) <= cap, "no new arrivals in hot cell"
        assert min(probe_full.values()) <= cap, "cap would cap every cell"
    ext = extend_semantic_index(
        build_semantic_index(
            old, centroids=cents, spill=3, max_cell_rows=cap
        ),
        new,
    )
    full = build_semantic_index(
        emb, centroids=cents, spill=3, max_cell_rows=cap
    )
    def members(ix):
        return sorted(
            (r["corpus_id"], r["cell"], tuple(r["ccells"]))
            for r in ix.members.collect()
        )
    assert members(ext) == members(full) and len(members(full)) > 0
    if cap is not None:
        assert ext.capped_cells == full.capped_cells
        # the cap must have actually fired somewhere in the transition
        assert full.capped_cells, "adaptive cap never fired"
        assert ext.primary_counts == full.primary_counts
    got = sorted(map(tuple, semantic_screen_stream(
        emb.limit(80), ext, threshold=0.4
    ).collect()))
    want = sorted(map(tuple, semantic_screen_stream(
        emb.limit(80), full, threshold=0.4
    ).collect()))
    assert got == want and len(got) > 0


def test_substring_semantic_save_load_then_extend(
    spark, corpora, emb_corpora, tmp_path
):
    """Persistence round-trips for the two families that lacked it:
    a loaded index screens identically AND stays extendable (the cap
    record / primary counts survive the round-trip)."""
    docs, old, new = corpora
    save_substring_index(
        build_substring_index(old, max_bucket_docs=2),
        str(tmp_path / "sub"),
    )
    lsub = load_substring_index(spark, str(tmp_path / "sub"))
    assert lsub.max_bucket_docs == 2 and lsub.capped is not None
    ext = extend_substring_index(lsub, new)
    full = build_substring_index(docs, max_bucket_docs=2)
    assert sorted(
        (r["corpus_id"], r["wh"]) for r in ext.buckets.collect()
    ) == sorted((r["corpus_id"], r["wh"]) for r in full.buckets.collect())

    emb, eold, enew = emb_corpora
    cents = train_centroids(eold, 8, iterations=2, seed=42)
    six = build_semantic_index(
        eold, centroids=cents, spill=3, max_cell_rows=10**9
    )
    save_semantic_index(six, str(tmp_path / "sem"))
    lsem = load_semantic_index(spark, str(tmp_path / "sem"))
    assert lsem.primary_counts == six.primary_counts
    assert lsem.max_cell_rows == six.max_cell_rows
    probe = emb.limit(40)
    got = sorted(map(tuple, semantic_screen_stream(
        probe, lsem, threshold=0.4
    ).collect()))
    want = sorted(map(tuple, semantic_screen_stream(
        probe, six, threshold=0.4
    ).collect()))
    assert got == want and len(got) > 0
    eext = extend_semantic_index(lsem, enew)
    efull = build_semantic_index(
        emb, centroids=cents, spill=3, max_cell_rows=10**9
    )
    assert sorted(
        (r["corpus_id"], r["cell"]) for r in eext.members.collect()
    ) == sorted((r["corpus_id"], r["cell"]) for r in efull.members.collect())


def test_extend_ivfpq_equals_rebuild_same_model(spark, emb_corpora):
    """FAISS add() semantics: the quantizers are frozen at build and
    new arrivals are only encoded, so the extension's encoded table —
    and ANN queries through it — must row-equal a rebuild over the
    full corpus with the SAME centroids + codebooks."""
    from dazzleduck_sql_duckdb_spark.operators.similarity import (
        ann_ivfpq_topk,
        build_ivfpq_index,
        extend_ivfpq_index,
    )

    emb, old, new = emb_corpora
    kw = dict(n_centroids=8, m_subspaces=8, n_codes=16, spill=2)
    ix = build_ivfpq_index(old, **kw)
    ext = extend_ivfpq_index(ix, new)
    full = build_ivfpq_index(
        emb, centroids=ix.centroids, codebooks=ix.codebooks, **kw
    )

    def rows(i):
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["codes"]))
            for r in i.encoded.collect()
        )

    assert rows(ext) == rows(full) and len(rows(full)) > 0
    queries = emb.where("vec_id % 100 = 0")
    qkw = dict(k=3, n_probe=4, refine=8)
    got = sorted(map(tuple, ann_ivfpq_topk(
        emb, queries, index=ext, **qkw
    ).collect()))
    want = sorted(map(tuple, ann_ivfpq_topk(
        emb, queries, index=full, **qkw
    ).collect()))
    assert got == want and len(got) > 0


def test_extend_with_empty_batch_is_identity(spark, corpora):
    """An empty micro-batch must extend to the identical index —
    the degenerate case an always-on ingest loop hits constantly."""
    docs, old, _ = corpora
    ix = build_minhash_index(old, max_bucket_docs=2, **KNOBS)
    ext = extend_minhash_index(ix, docs.limit(0))
    assert _bucket_rows(ext) == _bucket_rows(ix)
    assert _detail_rows(ext) == _detail_rows(ix)
    assert _capped_rows(ext) == _capped_rows(ix)


def test_extend_refuses_capless_record(spark, corpora):
    """A capped index without the capped-bucket record cannot be
    extended exactly — the guard must refuse loudly, not resurrect
    dropped buckets with partial membership."""
    docs, old, new = corpora
    ix = build_minhash_index(old, max_bucket_docs=2, **KNOBS)
    ix.capped = None  # simulate a legacy persisted index
    with pytest.raises(ValueError, match="rebuild"):
        extend_minhash_index(ix, new)


def test_legacy_meta_loads_query_only(spark, corpora, tmp_path):
    """A meta.json written before the cap-policy record carries no
    max_bucket_docs key at all. The old build default WAS a cap
    (1024), so treating the missing key as 'uncapped' would extend a
    capped index and resurrect dropped buckets with partial
    membership. r10 advice #2: the hazard exists only on the
    extend/save paths, so read-only consumers must keep working —
    load succeeds QUERY-ONLY (screening gives the same answer as the
    normally-loaded index), while extend and save refuse loudly, for
    both index families."""
    import json

    docs, old, new = corpora
    mh = str(tmp_path / "mh")
    save_minhash_index(
        build_minhash_index(old, max_bucket_docs=2, **KNOBS), mh
    )
    meta = json.load(open(os.path.join(mh, "meta.json")))
    del meta["max_bucket_docs"]
    json.dump(meta, open(os.path.join(mh, "meta.json"), "w"))
    legacy = load_minhash_index(spark, mh)
    assert legacy.query_only
    normal = build_minhash_index(old, max_bucket_docs=2, **KNOBS)
    probe = docs.limit(60)
    got = sorted(map(tuple, neardup_screen_stream(
        probe, legacy, threshold_pct=80
    ).collect()))
    want = sorted(map(tuple, neardup_screen_stream(
        probe, normal, threshold_pct=80
    ).collect()))
    assert got == want and len(got) > 0
    with pytest.raises(ValueError, match="query-only"):
        extend_minhash_index(legacy, new)
    with pytest.raises(ValueError, match="query-only"):
        save_minhash_index(legacy, str(tmp_path / "mh2"))

    ss = str(tmp_path / "ss")
    save_substring_index(build_substring_index(old), ss)
    meta = json.load(open(os.path.join(ss, "meta.json")))
    del meta["max_bucket_docs"]
    json.dump(meta, open(os.path.join(ss, "meta.json"), "w"))
    legacy_ss = load_substring_index(spark, ss)
    assert legacy_ss.query_only
    with pytest.raises(ValueError, match="query-only"):
        extend_substring_index(legacy_ss, new)
    with pytest.raises(ValueError, match="query-only"):
        save_substring_index(legacy_ss, str(tmp_path / "ss2"))


def test_explicit_uncapped_meta_still_loads(spark, corpora, tmp_path):
    """max_bucket_docs=None persisted EXPLICITLY (meta key present,
    value null) is a real uncapped index and must keep loading — the
    legacy guard only fires on the ABSENT key."""
    docs, old, new = corpora
    p = str(tmp_path / "uncapped")
    save_minhash_index(
        build_minhash_index(old, max_bucket_docs=None, **KNOBS), p
    )
    loaded = load_minhash_index(spark, p)
    assert loaded.max_bucket_docs is None
    ext = extend_minhash_index(loaded, new)
    full = build_minhash_index(docs, max_bucket_docs=None, **KNOBS)
    assert _bucket_rows(ext) == _bucket_rows(full)
