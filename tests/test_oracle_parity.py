"""Full-catalog differential gate at sf0.001 — the local replica of the
driver's correctness check (SURVEY.md §5: DuckDB-as-oracle pattern)."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import pytest  # noqa: E402

from check_parity import run_parity  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.mark.parity
def test_catalog_matches_duckdb_oracle(spark):
    """The DuckDB-oracle differential gate over every catalog entry.
    Subset runs while iterating on specific entries:

        python tools/check_parity.py <sf_dir> name ..."""
    from dazzleduck_sql_duckdb_spark.plans import queries as Q

    n_pass, n_fail, failures = run_parity(spark, SF_DIR, verbose=False)
    assert n_fail == 0, f"parity failures: {failures}"
    assert n_pass == len(Q.CATALOG)


def test_every_query_has_oracle_or_documented_skip(spark):
    import __spark_entry__ as E

    assert set(E.queries()) == set(E.oracle_sql())


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


def test_prepare_pins_utc_session_timezone(spark):
    """The driver's session is vanilla and every NTZ->TIMESTAMP cast is
    session-timezone-dependent; _prepare must pin UTC or a non-UTC
    driver JVM shifts every event/date epoch vs the DuckDB oracle."""
    import __spark_entry__ as E

    E.queries()["lineitem_count"](spark, SF_DIR)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


@pytest.mark.parametrize(
    "name", ["lineitem_count", "bucketed_join_rollup", "dedup_simhash"]
)
def test_prepare_rebinds_tables_after_scale_switch(spark, name):
    """The table views are session-global: after A -> B, a query at A
    must re-point them at A instead of reading B's data, and nothing a
    builder wrote or staged for B (bucketed tables, the staged simhash
    view) may be served at A. Every step is compared with the DuckDB
    oracle. Ends bound to the suite's SF_DIR."""
    import __spark_entry__ as E
    from check_parity import duck_connect, norm_rows

    other = os.path.join(
        os.path.dirname(SF_DIR),
        "sf0.001" if SF_DIR.endswith("sf0.01") else "sf0.01",
    )
    run = E.queries()[name]
    for sf_dir in (SF_DIR, other, SF_DIR):
        df = run(spark, sf_dir)
        got = norm_rows(df.columns, [tuple(r) for r in df.collect()])
        rel = duck_connect(sf_dir).execute(E.oracle_sql()[name])
        cols = [c[0] for c in rel.description]
        want = norm_rows(cols, rel.fetchall())
        assert got == want, sf_dir


def test_bound_to_fails_closed_on_other_view_shapes(spark):
    """The read-back takes the lineitem view's root paths from the
    view's plan. A view of any other shape counts as unbound, so
    _prepare re-binds it. Ends bound to the suite's SF_DIR."""
    import __spark_entry__ as E

    E._prepare(spark, SF_DIR)
    assert E._bound_to(spark, SF_DIR)
    assert not E._bound_to(spark, SF_DIR + "_elsewhere")
    spark.table("lineitem").where("l_orderkey > 0").createOrReplaceTempView(
        "lineitem"
    )
    assert not E._bound_to(spark, SF_DIR)
    E._prepare(spark, SF_DIR)
    assert E._bound_to(spark, SF_DIR)


def test_decimal_export_guard_fails_decimal_probe(spark, monkeypatch):
    """r11 verdict directive #2: the confirmed split-dec root-cause
    class — a python Decimal crossing the driver's hasher — must be an
    executable guard, not a convention. run_parity against a probe
    entry whose Spark output schema is DecimalType must FAIL with the
    decimal-export marker even though the VALUES match the oracle
    exactly (that is the insidious case: locally repr-equal, driver
    hash-red); the real catalog is covered by the full parity gate
    running the same guard over all 127 entries."""
    import __spark_entry__ as E

    def fake_queries():
        return {
            "stub_decimal": lambda s, sf: s.sql(
                "SELECT CAST(1.5 AS DECIMAL(18,4)) AS x"
            )
        }

    def fake_oracles():
        return {"stub_decimal": "SELECT CAST(1.5 AS DECIMAL(18,4)) AS x"}

    monkeypatch.setattr(E, "queries", fake_queries)
    monkeypatch.setattr(E, "oracle_sql", fake_oracles)
    n_pass, n_fail, failures = run_parity(
        spark, SF_DIR, only={"stub_decimal"}, verbose=False
    )
    assert n_fail == 1 and "decimal export" in failures[0][1]
    assert "x" in failures[0][1]

    # row-level arm: a schema that hides the Decimal from the field
    # list (e.g. via a python-side collect quirk) is still caught by
    # the cell scan — simulate with a MAP value carrying a Decimal
    def fake_queries_nested():
        return {
            "stub_decimal_nested": lambda s, sf: s.sql(
                "SELECT array(CAST(1.5 AS DECIMAL(18,4))) AS xs"
            )
        }

    monkeypatch.setattr(E, "queries", fake_queries_nested)
    monkeypatch.setattr(
        E, "oracle_sql",
        lambda: {"stub_decimal_nested": "SELECT [1.5] AS xs"},
    )
    n_pass, n_fail, failures = run_parity(
        spark, SF_DIR, only={"stub_decimal_nested"}, verbose=False
    )
    assert n_fail == 1 and "decimal export" in failures[0][1]


def test_decimal_cell_scan_recurses_into_containers():
    """r12 advice #2: the nested run_parity case above is caught by
    the SCHEMA arm (array<decimal(...)> renders in simpleString), so
    it never proved the cell scan handles containers. Pin the cell
    scan directly: a Decimal nested inside list/tuple/dict cells —
    including as a dict KEY — must register, and decimal-free nests
    must not."""
    from decimal import Decimal

    from check_parity import _contains_decimal

    assert _contains_decimal(Decimal("1.5"))
    assert _contains_decimal([1, [2, Decimal("1.5")]])
    assert _contains_decimal((None, {"k": Decimal("0")}))
    assert _contains_decimal({Decimal("2"): "v"})
    assert not _contains_decimal([1, (2.5, {"k": "v"}), None])


def test_vacuous_guard_fails_empty_entries(spark, monkeypatch):
    """The guard that makes 0-row gates impossible must itself be
    pinned: run_parity against a stub entry whose Spark result AND
    oracle are both empty must FAIL with the vacuous marker (this is
    exactly the shape that sat green-but-meaningless for 8 rounds)."""
    import __spark_entry__ as E

    def fake_queries():
        return {
            "stub_empty": lambda s, sf: s.sql(
                "SELECT CAST(1 AS BIGINT) AS x WHERE 1 = 0"
            )
        }

    def fake_oracles():
        return {"stub_empty": "SELECT CAST(1 AS BIGINT) AS x WHERE 1=0"}

    monkeypatch.setattr(E, "queries", fake_queries)
    monkeypatch.setattr(E, "oracle_sql", fake_oracles)
    n_pass, n_fail, failures = run_parity(
        spark, SF_DIR, only={"stub_empty"}, verbose=False
    )
    assert n_fail == 1 and "vacuous" in failures[0][1]
