"""The dialect boundaries, asserted as facts.

The fuzzer grammar (test_expr_fuzz.py) EXCLUDES constructs where the
engines genuinely diverge, and dialect.py bridges them; this file
pins that each documented divergence is real — so if an engine
upgrade erases one (e.g. DuckDB changes its NULL ordering default or
division-by-zero behavior), the suite flags it and the fuzz grammar
/ dialect helper can be widened or simplified instead of silently
guarding against nothing."""

from __future__ import annotations

import duckdb
import pytest


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE b (x BIGINT)")
    con.execute("INSERT INTO b VALUES (1), (NULL), (2)")
    yield con
    con.close()


@pytest.fixture(scope="module")
def sview(spark):
    spark.createDataFrame(
        [(1,), (None,), (2,)], schema="x BIGINT"
    ).createOrReplaceTempView("b")
    return spark


def test_null_ordering_defaults_diverge(sview, duck):
    """Spark ASC default: NULLS FIRST. DuckDB ASC default: NULLS LAST.
    This is why every catalog ORDER BY with a nullable key — and the
    order fuzz — spells the NULLS placement explicitly."""
    sql = "SELECT x FROM b ORDER BY x"
    got_spark = [r["x"] for r in sview.sql(sql).collect()]
    got_duck = [r[0] for r in duck.execute(sql).fetchall()]
    assert got_spark == [None, 1, 2]
    assert got_duck == [1, 2, None]


def test_division_by_zero_diverges(sview, duck):
    """Measured, not folklore: Spark 4 defaults ANSI ON, so 1/0
    RAISES; DuckDB returns NULL (for /, //, %, and float division
    alike). Opposite roles from the pre-ANSI-default lore (Spark
    NULL, DuckDB error) — either way, a random zero divisor makes
    generated SQL non-comparable, which is why the fuzz grammar has
    no division. Spark's try_divide is the NULL-returning spelling
    that matches DuckDB, the bridge a dialect helper would use."""
    sql = "SELECT 1/0 AS v"
    with pytest.raises(Exception):
        sview.sql(sql).collect()
    assert duck.execute(sql).fetchall() == [(None,)]
    assert sview.sql("SELECT try_divide(1, 0) AS v").collect()[0][
        "v"
    ] is None


def test_integer_sum_types_diverge(sview, duck):
    """DuckDB sum(BIGINT) -> HUGEINT (DECIMAL(38,0) at the driver);
    Spark sum(BIGINT) -> LONG. This is why dialect.bigsum casts both
    sides to BIGINT, and every money aggregate runs the decimal
    round-then-double discipline."""
    sql = "SELECT sum(x) AS s FROM b"
    spark_type = dict(sview.sql(sql).dtypes)["s"]
    duck_type = str(duck.execute(sql).description[0][1])
    assert spark_type == "bigint"
    assert duck_type.upper() in ("NUMBER", "HUGEINT", "INT128")


def test_int_overflow_raises_in_both(sview, duck):
    """Under Spark 4's ANSI default, int64 overflow raises in BOTH
    engines (pre-ANSI Spark silently wrapped — the folklore reason
    fuzzers bound operands). The bound is still required: an
    overflowing random expression aborts the comparison in both
    engines, and ansi.enabled=false deployments bring the silent
    wrap back."""
    big = 9_223_372_036_854_775_807  # int64 max
    sql = f"SELECT CAST({big} AS BIGINT) + CAST(1 AS BIGINT) AS v"
    with pytest.raises(Exception):
        sview.sql(sql).collect()
    with pytest.raises(duckdb.Error):
        duck.execute(sql).fetchall()


def test_duckdb_correlated_exists_null_inequality_bug(sview, duck):
    """Found by the deep fuzz sweep (round 9): DuckDB 1.0.0's
    DECORRELATION of `EXISTS(.. b.m = a.i AND a.j <> b.k)` returns
    the outer row even when a.j IS NULL — though its own uncorrelated
    scalar form of the same predicate correctly says false, and Spark
    matches hand-computed three-valued semantics. Spark is RIGHT
    here; the ORACLE engine is wrong. Consequences pinned by this
    test: (1) the exists fuzz grammar keeps nullable outer columns
    out of correlated inequalities, (2) no catalog entry is exposed —
    every gated EXISTS correlation (q4/q21/q22/semi_anti_join)
    compares non-null corpus columns. If a DuckDB upgrade fixes this,
    this test fails and both restrictions can be lifted."""
    con = duckdb.connect()
    con.execute("CREATE TABLE ta (id INT, i INT, j INT)")
    con.execute("INSERT INTO ta VALUES (5, 2, NULL)")
    con.execute("CREATE TABLE tb (k INT, m INT)")
    con.execute("INSERT INTO tb VALUES (3, 2), (-5, 2)")
    # its own uncorrelated scalar form: correctly false
    assert con.execute(
        "SELECT EXISTS(SELECT 1 FROM tb b WHERE b.m = 2 AND (NULL <> b.k))"
    ).fetchall() == [(False,)]
    # the correlated form: wrongly returns the row (the pinned bug)
    assert con.execute(
        "SELECT id FROM ta a WHERE EXISTS"
        " (SELECT 1 FROM tb b WHERE b.m = a.i AND (a.j <> b.k))"
    ).fetchall() == [(5,)]
    con.close()
    # Spark agrees with three-valued semantics: NULL <> k is NULL,
    # never true, so no b witnesses the EXISTS
    sview.createDataFrame(
        [(5, 2, None)], schema="id INT, i INT, j INT"
    ).createOrReplaceTempView("ta_s")
    sview.createDataFrame(
        [(3, 2), (-5, 2)], schema="k INT, m INT"
    ).createOrReplaceTempView("tb_s")
    assert (
        sview.sql(
            "SELECT id FROM ta_s a WHERE EXISTS"
            " (SELECT 1 FROM tb_s b WHERE b.m = a.i AND (a.j <> b.k))"
        ).collect()
        == []
    )


def test_approx_sketches_diverge_but_bounds_hold(sview, duck):
    """The sketch contracts' premise: approx_count_distinct estimates
    are engine-specific (HLL++ vs HLL register layouts), so the
    catalog gates the error bound, never the estimate. On a corpus
    where they happen to agree this test would vacuously pass the
    first assert — so it only requires agreement-or-not plus the
    bound, which is the exact contract sketch_distinct_bounds gates."""
    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    pq = os.path.join(sf, "events.parquet")
    duck2 = duckdb.connect()
    d_est, d_exact = duck2.execute(
        "SELECT approx_count_distinct(user_id),"
        f" count(DISTINCT user_id) FROM '{pq}'"
    ).fetchall()[0]
    duck2.close()
    row = sview.sql(
        "SELECT approx_count_distinct(user_id, 0.02) AS e,"
        " count(DISTINCT user_id) AS x FROM"
        f" parquet.`{pq}`"
    ).collect()[0]
    s_est, s_exact = row["e"], row["x"]
    assert d_exact == s_exact
    assert abs(d_est - d_exact) <= 0.05 * d_exact + 5
    assert abs(s_est - s_exact) <= 0.05 * s_exact + 5


def test_double_round_shortest_repr_boundary_diverges(sview, duck):
    """round(DOUBLE, k) semantics diverge at shortest-decimal-repr
    half boundaries (found by a round-11 probe): for the double
    1.005 (true binary value 1.00499999999999989...), Spark's round
    goes through BigDecimal.valueOf(Double.toString(x)) — the
    SHORTEST DECIMAL REPR — then HALF_UP, giving 1.01; DuckDB rounds
    the true binary value, giving 1.0. Catalog rule that keeps gated
    entries off this boundary (audited r11):
      * money-style sums round DECIMALS at their own scale
        (round(DECIMAL(38,4), 4) — identity, exact, no boundary);
      * codec features recover exact float32 integers
        (round(m*8) where m*8 IS an integer by construction);
      * the remaining round(DOUBLE, 6) sites (avg/ln pipelines) rely
        on corpus values not landing on a 1e-7 half boundary of
        their shortest repr — measure-rare, and a hash mismatch
        there would localize to one value. New entries should prefer
        the DECIMAL route. If an engine upgrade erases this
        divergence, this test flags it and the rule can be
        simplified."""
    s = sview.sql(
        "SELECT round(CAST(1.005 AS DOUBLE), 2) AS r"
    ).collect()[0]["r"]
    d = duck.execute(
        "SELECT round(CAST(1.005 AS DOUBLE), 2)"
    ).fetchall()[0][0]
    assert s == 1.01  # Spark: shortest-repr HALF_UP
    assert d == 1.0   # DuckDB: true-binary-value rounding
    # and the agreeing cases stay agreed (binary-exact halves round
    # identically away from zero in both engines)
    for expr, want in [("2.5", 3.0), ("-2.5", -3.0), ("0.125", None)]:
        sv = sview.sql(
            f"SELECT round(CAST({expr} AS DOUBLE), "
            f"{0 if want is not None else 2}) AS r"
        ).collect()[0]["r"]
        dv = duck.execute(
            f"SELECT round(CAST({expr} AS DOUBLE), "
            f"{0 if want is not None else 2})"
        ).fetchall()[0][0]
        assert repr(sv) == repr(dv)


def test_branchless_round_bridge_agrees_on_divergent_boundary(sview, duck):
    """The migration target for the exposed round(DOUBLE, k) sites
    (r11 directive #5): the sign-symmetric branchless bridge
    sign(x)*floor(abs(x)*1eK + 0.5)/1eK uses only dialect-identical
    IEEE ops, so both engines round the TRUE binary value HALF_UP —
    including at the exact boundary where native round() diverges
    (1.005 at k=2: Spark 1.01, DuckDB 1.0, pinned above; the bridge
    gives 1.0 in BOTH). plans/dialect.py::_round6 is this bridge at
    k=6."""
    from dazzleduck_sql_duckdb_spark.plans.dialect import _round6

    for lit in ("1.005", "-1.005", "0.1234565", "2.5e-7", "NULL"):
        x = f"CAST({lit} AS DOUBLE)"
        bridge2 = f"sign({x}) * floor(abs({x}) * 1e2 + 0.5) / 1e2"
        sv = sview.sql(f"SELECT {bridge2} AS r").collect()[0]["r"]
        dv = duck.execute(f"SELECT {bridge2}").fetchall()[0][0]
        assert repr(sv) == repr(dv), (lit, sv, dv)
        b6 = _round6(x)
        sv6 = sview.sql(f"SELECT {b6} AS r").collect()[0]["r"]
        dv6 = duck.execute(f"SELECT {b6}").fetchall()[0][0]
        assert repr(sv6) == repr(dv6), (lit, sv6, dv6)
    # the k=2 boundary value itself: bridge == DuckDB's binary-value
    # rounding, NOT Spark's shortest-repr 1.01
    b = "sign(CAST(1.005 AS DOUBLE)) * floor(abs(CAST(1.005 AS DOUBLE)) * 1e2 + 0.5) / 1e2"
    assert sview.sql(f"SELECT {b} AS r").collect()[0]["r"] == 1.0
