"""Focused pin for the canonical-corpus representative selection.

The r13 optimization replaced the two-pass selection (max(n_chars) +
count per component, join-back, min(doc_id) among maxima) with ONE
partial-aggregatable ``max(struct(n_chars, -doc_id))`` pass. These
tests pin the selection CONTRACT on a synthetic corpus where every
tie-break arm matters:

- longest text wins even against a lower doc_id,
- lowest doc_id wins among equal-longest,
- component id is the min reachable doc_id,
- unclustered docs keep themselves with n_docs=1,
- the n_docs counts partition the corpus exactly.
"""

from __future__ import annotations

import pytest

from dazzleduck_sql_duckdb_spark.plans import dedup as Q


@pytest.fixture(autouse=True)
def _restore_documents(spark, tables):
    """This module's tests overwrite the `documents` view with a
    synthetic corpus; re-register the real table after EACH test
    (function scope, advisor r13: a module-scoped restore leaves the
    overwrite visible to any module interleaved by a reordered or
    distributed run) so every other test in the session sees the
    parquet data."""
    from tests.conftest import SF_DIR

    from dazzleduck_sql_duckdb_spark.session import load_tables

    yield
    load_tables(spark, SF_DIR)


def test_canonical_selection_tiebreaks(spark, tables):
    base = (
        "the quick brown fox jumps over the lazy dog and then "
        "wanders far across the quiet evening meadow "
    ) * 3
    # cluster B texts must be NON-repetitive: repeated text collapses
    # the distinct shingle set (period-length distinct windows), which
    # makes any appended tail proportionally huge and drops J below
    # the 0.85 verify threshold. One long distinct sentence keeps the
    # 10-char tail at J ~ d/(d+15) ~ 0.96.
    other = (
        "completely different content about parquet row groups and "
        "arrow record batches flowing through exchanges while the "
        "scheduler assigns tasks to executors and the optimizer "
        "prunes columns, pushes filters, plans broadcast joins and "
        "coalesces shuffle partitions adaptively after runtime "
        "statistics arrive from the finished map stages downstream"
    )
    other_longer = other + " tail note."
    third = (
        "a third unrelated document speaking of bloom filters, "
        "broadcast joins and adaptive query execution at scale "
    ) * 3
    rows = [
        # cluster A: three EXACT duplicates (J=1.0 — LSH pairs them
        # unconditionally) with equal n_chars -> lowest doc_id kept
        (10, base),
        (3, base),
        (7, base),
        # cluster B: near-dup pair where the LONGER doc has the
        # HIGHER id -> length priority must beat the lower id
        (20, other),
        (21, other_longer),
        # singleton: keeps itself
        (30, third),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, n_chars long",
    )
    df.createOrReplaceTempView("documents")

    got = sorted(
        map(tuple, Q._build_dedup_canonical(spark, "unused").collect())
    )
    expected = sorted(
        [
            # (component=min reachable id, kept_doc, kept_chars, n_docs)
            (3, 3, len(base), 3),
            (20, 21, len(other_longer), 2),
            (30, 30, len(third), 1),
        ]
    )
    assert got == expected
    # the counts partition the corpus
    assert sum(r[3] for r in got) == len(rows)
