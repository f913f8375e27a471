"""PII redaction: the same regex chain must behave identically in Spark
(Java regex) and DuckDB (RE2) on text that actually contains PII —
the synthetic corpus has none, so the catalog oracle only pins the
identity case."""

from __future__ import annotations

import duckdb
import pytest

from dazzleduck_sql_duckdb_spark.plans.dialect import DUCK, SPARK
from dazzleduck_sql_duckdb_spark.plans.pipeline import redact_sql

CASES = [
    "contact me at jane.doe+spam@example.co.uk please",
    "see https://example.com/a?b=c&d=e and http://x.io/path,",
    "card 4111111111111111 pin 123456 short 12345",
    "mixed: bob@corp.io went to https://a.b/c at 20260813",
    "no pii here at all",
    "почта: ivan@пример.рф is only ascii-domain matched",
    "",
    "a@b.cd edge @ not-an-email @@ x@y.z",
]


@pytest.mark.parametrize("text", CASES)
def test_redact_identical_across_engines(spark, text):
    got_spark = spark.sql(
        f"SELECT {redact_sql('t', SPARK)} AS c FROM (SELECT '"
        + text.replace("'", "''")
        + "' AS t)"
    ).collect()[0]["c"]
    got_duck = duckdb.sql(
        f"SELECT {redact_sql('t', DUCK)} AS c FROM (SELECT ? AS t)",
        params=[text],
    ).fetchone()[0]
    assert got_spark == got_duck, text


def test_redact_actually_redacts(spark):
    out = spark.sql(
        f"SELECT {redact_sql('t', SPARK)} AS c FROM (SELECT"
        " 'mail a@bc.de card 9999999 url https://x.y/z end' AS t)"
    ).collect()[0]["c"]
    assert out == "mail <EMAIL> card <NUM> url <URL> end"


def test_pack_sequences_respects_budget(spark, tables):
    """Every bin's token sum stays under budget + one max item (the
    next-fit guarantee), and bins are contiguous per source."""
    from dazzleduck_sql_duckdb_spark.plans.queries import spark_sql_for

    df = spark.sql(spark_sql_for("pack_sequences"))
    rows = df.collect()
    by_bin: dict[tuple, int] = {}
    max_tok = 0
    for r in rows:
        by_bin[(r["source"], r["bin_id"])] = (
            by_bin.get((r["source"], r["bin_id"]), 0) + r["tokens"]
        )
        max_tok = max(max_tok, r["tokens"])
    assert all(v < 2048 + max_tok for v in by_bin.values())
    # bins per source are dense 0..n
    import collections

    bins = collections.defaultdict(set)
    for src, b in by_bin:
        bins[src].add(b)
    for src, bs in bins.items():
        assert bs == set(range(len(bs))), src
