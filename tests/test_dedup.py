"""Dedup operator unit tests on small synthetic corpora with known answers."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import types as T

import tests.conftest as C
from dazzleduck_sql_duckdb_spark.operators.dedup import (
    exact_dedup,
    minhash_neardup_pairs,
)

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def _jaccard(a: str, b: str, n: int = 6) -> float:
    sa = {a.lower()[i : i + n] for i in range(max(len(a) - n + 1, 1))}
    sb = {b.lower()[i : i + n] for i in range(max(len(b) - n + 1, 1))}
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [
            (1, "en", "hello world"),
            (2, "en", "hello world"),
            (3, "en", "something else"),
        ],
        schema=SCHEMA,
    )
    rows = {
        r.content_hash: (r.n_copies, r.keeper_doc_id)
        for r in exact_dedup(df).collect()
    }
    assert sorted(rows.values()) == [(1, 3), (2, 1)]


def test_minhash_finds_known_neardups(spark):
    rng = random.Random(7)
    base = " ".join(f"word{rng.randrange(1000)}" for _ in range(60))
    near = base.replace("word", "word", 1)[:-10]  # tiny suffix edit
    far = " ".join(f"term{rng.randrange(1000)}" for _ in range(60))
    assert _jaccard(base, near) >= 0.85
    assert _jaccard(base, far) < 0.5
    df = spark.createDataFrame(
        [(1, "en", base), (2, "en", near), (3, "en", far),
         (4, "de", base)],  # same text, different block -> not paired
        schema=SCHEMA,
    )
    a = [rng.randrange(1, 2**31 - 1) for _ in range(128)]
    b = [rng.randrange(0, 2**31 - 1) for _ in range(128)]
    pairs = minhash_neardup_pairs(
        df, a=a, b=b, bands=32, threshold_pct=85
    ).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} == {(1, 2)}
    assert all(p.jaccard >= 0.85 for p in pairs)


def test_minhash_blocking_disabled(spark):
    df = spark.createDataFrame(
        [(1, "en", "identical text body here"), (2, "de", "identical text body here")],
        schema=SCHEMA,
    )
    rng = random.Random(9)
    a = [rng.randrange(1, 2**31 - 1) for _ in range(128)]
    b = [rng.randrange(0, 2**31 - 1) for _ in range(128)]
    pairs = minhash_neardup_pairs(
        df, a=a, b=b, bands=32, threshold_pct=85, block_col=None
    ).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} == {(1, 2)}


def test_minhash_hot_bucket_cap(spark):
    """max_bucket_docs drops oversized band buckets before the self-join
    (the boilerplate guard). An identical-text mega-cluster floods every
    bucket it touches; with a cap below the cluster size its pairs
    vanish (they were only reachable through oversized buckets), while a
    pair OUTSIDE the cluster — whose buckets stay small — is unaffected.
    A cap above every bucket size must change nothing."""
    rng = random.Random(21)
    boiler = " ".join(f"word{rng.randrange(1000)}" for _ in range(60))
    other = " ".join(f"term{rng.randrange(1000)}" for _ in range(60))
    other_near = other[:-8]
    rows = [(i, "en", boiler) for i in range(1, 9)]  # 8-doc mega-cluster
    rows += [(100, "en", other), (101, "en", other_near)]
    df = spark.createDataFrame(rows, schema=SCHEMA)
    a = [rng.randrange(1, 2**31 - 1) for _ in range(128)]
    b = [rng.randrange(0, 2**31 - 1) for _ in range(128)]
    kw = dict(a=a, b=b, bands=32, threshold_pct=85)

    uncapped = {
        (p.doc_a, p.doc_b)
        for p in minhash_neardup_pairs(df, **kw).collect()
    }
    assert (100, 101) in uncapped
    assert sum(1 for x, y in uncapped if x < 100) == 8 * 7 // 2

    capped = {
        (p.doc_a, p.doc_b)
        for p in minhash_neardup_pairs(
            df, max_bucket_docs=4, **kw
        ).collect()
    }
    assert capped == {(100, 101)}  # cluster dropped, small pair kept
    assert capped <= uncapped

    high_cap = {
        (p.doc_a, p.doc_b)
        for p in minhash_neardup_pairs(
            df, max_bucket_docs=1000, **kw
        ).collect()
    }
    assert high_cap == uncapped


def test_simhash_pigeonhole_equals_bruteforce(spark, tables):
    """The chunk-blocked SimHash pair set must equal the brute-force pair
    set — recall is exactly 100% by pigeonhole (4 chunks, hamming<=3)."""
    from dazzleduck_sql_duckdb_spark.plans import queries as Q

    lsh = Q.run_spark(spark, "dedup_simhash", C.SF_DIR)
    got = {(r.doc_a, r.doc_b, r.hamming) for r in lsh.collect()}
    brute = spark.sql(
        """
        WITH s AS (SELECT doc_id, lang, simhash FROM __sh_vals)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming
        FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE bit_count(a.simhash ^ b.simhash) <= 3
        """
    )
    assert got == {(r.doc_a, r.doc_b, r.hamming) for r in brute.collect()}


def test_auto_bands_rule():
    """r = clamp(ceil(log2 n / 2), 4, 12), b = k // r — the production
    banding schedule (r grows with log n; capped so the LSH S-curve
    threshold stays below the 0.85 contract)."""
    from dazzleduck_sql_duckdb_spark.operators.dedup import auto_bands

    assert auto_bands(200) == 128 // 4  # floor: r=4
    assert auto_bands(5_000) == 128 // 7  # r=7 -> b=18 (non-dividing)
    assert auto_bands(50_000) == 128 // 8  # r=8 -> b=16
    assert auto_bands(500_000) == 128 // 10  # r=10 -> b=12
    assert auto_bands(50_000_000) == 128 // 12  # cap: r=12 -> b=10
    assert auto_bands(10**12) == 128 // 12  # still capped


def test_minhash_recall_contract():
    """The banding schedule's per-pair recall at the J=0.85 verify
    threshold is explicit: 1-(1-j^r)^b. The schedule trades
    at-threshold recall for candidate control as r grows at fixed
    K=128; bands_for_recall gives the K needed to hold recall."""
    from dazzleduck_sql_duckdb_spark.operators.dedup import (
        bands_for_recall, minhash_pair_recall,
    )

    assert minhash_pair_recall(8, 16, 0.85) == pytest.approx(
        0.9938, abs=1e-3
    )
    assert minhash_pair_recall(10, 12, 0.85) == pytest.approx(
        0.9280, abs=1e-3
    )
    assert minhash_pair_recall(12, 10, 0.85) == pytest.approx(
        0.7844, abs=1e-3
    )
    # exact dups are always found; recall is monotone in j
    assert minhash_pair_recall(12, 10, 1.0) == 1.0
    for r in (8, 10, 12):
        b = bands_for_recall(r, threshold=0.85, min_recall=0.99)
        assert minhash_pair_recall(r, b, 0.85) >= 0.99
        assert minhash_pair_recall(r, b - 1, 0.85) < 0.99
    assert bands_for_recall(10) == 22  # K = 220
    assert bands_for_recall(12) == 31  # K = 372


def test_minhash_non_dividing_bands(spark):
    """bands=18 at K=128 (r=7, 126 rows used): exact duplicates match in
    EVERY band, so they are guaranteed candidates at any banding — and
    the returned pairs are a subset of a finer banding's (verification
    is exact, so no false pair can appear at either setting)."""
    rng = random.Random(11)
    base = " ".join(f"word{rng.randrange(1000)}" for _ in range(60))
    far = " ".join(f"term{rng.randrange(1000)}" for _ in range(60))
    df = spark.createDataFrame(
        [(1, "en", base), (2, "en", base), (3, "en", far)],
        schema=SCHEMA,
    )
    a = [rng.randrange(1, 2**31 - 1) for _ in range(128)]
    b = [rng.randrange(0, 2**31 - 1) for _ in range(128)]
    coarse = {
        (r.doc_a, r.doc_b)
        for r in minhash_neardup_pairs(
            df, a=a, b=b, bands=18, threshold_pct=85
        ).collect()
    }
    fine = {
        (r.doc_a, r.doc_b)
        for r in minhash_neardup_pairs(
            df, a=a, b=b, bands=32, threshold_pct=85
        ).collect()
    }
    assert (1, 2) in coarse  # exact dup: J=1 matches every band
    assert coarse <= fine


def test_minhash_verify_shuffle_fallback_matches_broadcast(spark):
    """broadcast_verify_max=0 forces the shuffle verify join (the
    >5M-candidates plan); results must equal the broadcast path."""
    rng = random.Random(13)
    docs = []
    for i in range(40):
        base = " ".join(f"w{rng.randrange(500)}" for _ in range(50))
        docs.append((2 * i, "en", base))
        docs.append((2 * i + 1, "en", base))  # exact dup partner
    df = spark.createDataFrame(docs, schema=SCHEMA)
    a = [rng.randrange(1, 2**31 - 1) for _ in range(128)]
    b = [rng.randrange(0, 2**31 - 1) for _ in range(128)]
    kw = dict(a=a, b=b, bands=16, threshold_pct=85)
    bc = {
        (r.doc_a, r.doc_b)
        for r in minhash_neardup_pairs(df, **kw).collect()
    }
    sh = {
        (r.doc_a, r.doc_b)
        for r in minhash_neardup_pairs(
            df, broadcast_verify_max=0, **kw
        ).collect()
    }
    assert bc == sh
    assert all((2 * i, 2 * i + 1) in bc for i in range(40))


def test_minhash_materialize_modes(spark, tmp_path):
    """The pairs are pinned by one rule and the pair set does not
    depend on it: without a checkpoint dir by localCheckpoint, with one
    by a reliable checkpoint that writes files into the dir (the
    executor-loss-safe scale path — localCheckpoint blocks are
    executor-local and lineage-truncated, so losing an executor after
    the call would lose pairs unrecoverably)."""
    import os

    rng = random.Random(33)
    base = " ".join(f"word{rng.randrange(1000)}" for _ in range(60))
    near = base[:-8]
    df = spark.createDataFrame(
        [(1, "en", base), (2, "en", near), (3, "en", "unrelated words")],
        schema=SCHEMA,
    )
    a = [rng.randrange(1, 2**31 - 1) for _ in range(128)]
    b = [rng.randrange(0, 2**31 - 1) for _ in range(128)]
    kw = dict(a=a, b=b, bands=32, threshold_pct=85)

    def pairs():
        return {
            (p.doc_a, p.doc_b)
            for p in minhash_neardup_pairs(df, **kw).collect()
        }

    want = pairs()  # no checkpoint dir -> localCheckpoint
    assert want == {(1, 2)}

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        assert pairs() == want  # a checkpoint dir -> reliable checkpoint
        assert sum(len(fs) for _, _, fs in os.walk(ckpt)) > 0
    finally:
        # pyspark has no unsetCheckpointDir; clear via the JVM so later
        # tests in this session keep the no-dir default
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
    assert sc.getCheckpointDir() is None


def test_simhash_scale_gate_picks_bounded_form(spark, tables):
    """At gate scale (500 docs <= SIMHASH_BUCKET_CAP) the builder's
    corpus count proves every bucket fits one aggregation buffer, so
    the branch-free single-aggregation plan must be chosen."""
    from dazzleduck_sql_duckdb_spark.plans import dedup as Q
    from dazzleduck_sql_duckdb_spark.plans.queries import run_spark

    n_docs = spark.table("documents").count()
    assert n_docs <= Q.SIMHASH_BUCKET_CAP
    df = run_spark(spark, "dedup_simhash", C.SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" not in plan and "Window" not in plan
    sql = Q._simhash_pairs(Q.SPARK, n_docs=n_docs)
    assert "pairs_big" not in sql and "MERGE" not in sql


def test_simhash_mega_bucket_form_identical(spark, tables, monkeypatch):
    """r13 verdict #3/#5: the spill-safe routing form (window count +
    capped collect_list + SMJ branch for oversized buckets) must emit
    EXACTLY the pairs of the single-aggregation form on a corpus with
    a genuine mega-bucket, with the oversized bucket's pairs coming
    through the sort-merge branch (bounded per-group buffers)."""
    from dazzleduck_sql_duckdb_spark.plans import dedup as Q

    V0 = 0x1234  # shared chunk-0 value for the mega bucket
    rows = []
    # 30-doc mega bucket: same 15-bit chunk 0, far apart elsewhere
    # (distinct high-chunk patterns, pairwise hamming > 3)
    for i in range(30):
        rows.append((i, "en", ((i * 0x15) << 15) | V0))
    # one TRUE near-dup pair inside the mega bucket: hamming 2, their
    # first zero chunk of the xor is chunk 0 -> must be emitted by the
    # oversized-bucket branch when the cap forces routing
    rows.append((100, "en", ((7 * 0x15) << 15) | V0 | (0b11 << 20)))
    # hamming(100, 7's row) = 2 via two bits in chunk 1
    # small bucket: two docs equal except one chunk-0 bit -> their
    # first matching chunk is 1 -> collect_list path either way
    base2 = (0x5A5A << 15) | 0x7000
    rows.append((200, "en", base2))
    rows.append((201, "en", base2 ^ 0b1))
    # different-language twin of the mega bucket value: must not pair
    rows.append((300, "de", ((3 * 0x15) << 15) | V0))

    sh = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("simhash", T.LongType()),
        ]),
    )
    sh.createOrReplaceTempView("__sh_vals")
    try:
        brute = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in spark.sql("""
                WITH s AS (SELECT doc_id, lang, simhash FROM __sh_vals)
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       CAST(bit_count(a.simhash ^ b.simhash) AS INT)
                         AS hamming
                FROM s a JOIN s b
                  ON a.lang = b.lang AND a.doc_id < b.doc_id
                WHERE bit_count(a.simhash ^ b.simhash) <= 3
            """).collect()
        }
        assert (7, 100, 2) in brute and (200, 201, 1) in brute

        monkeypatch.setattr(Q, "SIMHASH_BUCKET_CAP", 8)
        bounded_sql = Q._simhash_pairs(Q.SPARK, n_docs=8)
        assert "pairs_big" not in bounded_sql
        routing_sql = Q._simhash_pairs(Q.SPARK, n_docs=len(rows))
        assert "pairs_big" in routing_sql and "MERGE" in routing_sql
        # unknown corpus size must choose the conservative routing form
        assert "pairs_big" in Q._simhash_pairs(Q.SPARK, n_docs=None)
        assert "pairs_big" in Q._simhash_pairs(Q.SPARK)

        routing_df = spark.sql(routing_sql)
        plan = routing_df._sc._jvm.PythonSQLUtils.explainString(
            routing_df._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan  # the spill-safe branch is real

        bounded = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in spark.sql(bounded_sql).collect()
        }
        routing = {
            (r.doc_a, r.doc_b, r.hamming) for r in routing_df.collect()
        }
        assert bounded == brute
        assert routing == brute
    finally:
        # restore the real staged view for later modules
        Q._stage_simhash_values(spark)
