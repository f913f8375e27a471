"""Chunked-mask contamination (>62 sources) vs the DuckDB oracle and
vs the one-mask fast path (r7 verdict stretch directive #8).

The one-BIGINT-mask form asserts loudly past 62 provenance labels; a
real pipeline with hundreds of labels needs the chunked generalization.
These tests pin: (a) the builder routes by source count, (b) the
chunked SQL matches the dialect-neutral DuckDB oracle at 70 sources
(past the bit width), (c) the chunked form is exactly the one-mask
form's answer when both apply, and (d) chunk-boundary counts (62, 63).
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest

from dazzleduck_sql_duckdb_spark.plans import queries as Q


def _mk_docs(n_sources: int, seed: int = 11) -> pd.DataFrame:
    """Corpus where specific source pairs share exact 8-grams: even
    sources share `common`, consecutive pairs share a run, and every
    source adds unique grams."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(500)]
    common = " ".join(f"c{i}" for i in range(10))  # 3 shared 8-grams
    rows = []
    doc_id = 0
    for s in range(n_sources):
        src = f"src{s:03d}"
        base = " ".join(rng.choice(vocab) for _ in range(30))
        texts = [base]
        if s % 2 == 0:
            texts.append(f"lead{s} " + common)
        if s + 1 < n_sources:  # bridge to the NEXT source (crosses
            bridge = " ".join(   # the 62-bit chunk boundary at 61/62)
                f"b{s}_{i}" for i in range(9)
            )
            texts.append(bridge)
            rows.append((10_000 + doc_id, f"src{s + 1:03d}", bridge))
            doc_id += 1
        for t in texts:
            rows.append((doc_id, src, t))
            doc_id += 1
    return pd.DataFrame(rows, columns=["doc_id", "source", "text"])


def _oracle(pdf: pd.DataFrame) -> set[tuple]:
    con = duckdb.connect()
    con.register("documents", pdf)
    rows = con.execute(
        Q.oracle_sql_for("cross_source_contamination")
    ).fetchall()
    con.close()
    return {(a, b, int(c)) for a, b, c in rows}


@pytest.fixture(scope="module", autouse=True)
def _restore_documents(spark, tables):
    yield
    from dazzleduck_sql_duckdb_spark.session import load_tables

    import tests.conftest as C

    load_tables(spark, C.SF_DIR)


def _spark_run(spark, pdf: pd.DataFrame) -> set[tuple]:
    import tests.conftest as C

    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    df = Q.run_spark(spark, "cross_source_contamination", C.SF_DIR)
    rows = df.collect()
    return {
        (r.source_a, r.source_b, r.shared_ngrams) for r in rows
    }


def test_chunked_matches_oracle_at_70_sources(spark, tables):
    pdf = _mk_docs(70)  # 2 chunks: sids 0..61 and 62..69
    got = _spark_run(spark, pdf)
    assert got == _oracle(pdf)
    # sanity: pairs exist in chunk 0, in chunk 1, and ACROSS chunks
    def chunk(src):
        return int(src[3:]) // 62  # sid == numeric suffix (sorted)

    kinds = {(chunk(a), chunk(b)) for a, b, _ in got}
    assert (0, 0) in kinds and (0, 1) in kinds and (1, 1) in kinds


def test_chunk_boundary_62_and_63(spark, tables):
    """62 sources: the one-mask path (builder routes there) — last sid
    61 sits on the top usable bit. 63 sources: first chunked run."""
    for n in (62, 63):
        pdf = _mk_docs(n, seed=n)
        assert _spark_run(spark, pdf) == _oracle(pdf), f"n={n}"


def test_chunked_sql_equals_mask_sql_when_both_apply(spark, tables):
    """On ≤62 sources both forms are defined; they must be the same
    function. Run the chunked SQL DIRECTLY (bypassing the builder's
    routing) against the mask form on the sf0.001 documents table."""
    from dazzleduck_sql_duckdb_spark.session import load_tables

    import tests.conftest as C

    load_tables(spark, C.SF_DIR)
    mask = {
        tuple(r)
        for r in spark.sql(
            Q._contamination(Q.SPARK)
        ).collect()
    }
    chunked = {
        tuple(r)
        for r in spark.sql(Q._contamination_chunked_sql()).collect()
    }
    assert chunked == mask and len(mask) > 0
