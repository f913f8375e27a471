"""Randomized differential for the remote aggregation-pushdown builder.

`dd_read_arrow_agg` is a ``groupBy().agg()`` over the remote reader,
which pushes the aggregate to the server as the reference's rewrite
template (``SELECT <aggs> FROM (<orig>) AS _subq [GROUP BY]``,
src/optimizer/aggregation_pushdown.cpp:247-418 behavior).  The
reference's own oracle is "pushdown equals local execution" over fixed
queries; this module randomizes it: random aggregate sets
(count(*)/count/sum/min/max/avg/count DISTINCT — the reference's
supported set, aggregation_pushdown.cpp:206-209 — plus CAST and
COALESCE arguments) over random columns, optional GROUP BY and WHERE,
compared against Spark executing the *same SQL text* on the parquet
directly.  Engine-vs-engine: DuckDB computes the pushed aggregate on
the server, Spark computes the local twin; values must agree (floats
to 1e-9 relative — avg over DOUBLE is association-order-dependent).
"""

from __future__ import annotations

import math
import os
from decimal import Decimal

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException

from dazzleduck_sql_duckdb_spark.sources import dd_read_arrow_agg, register
from dazzleduck_sql_duckdb_spark.sources.local_server import ArrowTestServer

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
ORDERS = os.path.join(SF_DIR, "orders.parquet")

_NUM = ["o_orderkey", "o_custkey", "o_totalprice"]
# argument expressions the reader translates: o_totalprice has cents, so
# a cast that rounds where Spark truncates gives a different sum
_EXPR_AGGS = ["sum(CAST(o_totalprice AS BIGINT))", "sum(coalesce(o_orderkey, 0))"]

_agg_expr = st.one_of(
    st.just("count(*)"),
    st.sampled_from(_EXPR_AGGS),
    st.builds(lambda c: f"count({c})", st.sampled_from(_NUM)),
    st.builds(lambda c: f"sum({c})", st.sampled_from(_NUM)),
    st.builds(lambda c: f"min({c})", st.sampled_from(_NUM)),
    st.builds(lambda c: f"max({c})", st.sampled_from(_NUM)),
    st.builds(lambda c: f"avg({c})", st.sampled_from(_NUM)),
    st.builds(
        lambda c: f"count(DISTINCT {c})",
        st.sampled_from(_NUM + ["o_orderstatus"]),
    ),
)
_aggs = st.lists(_agg_expr, min_size=1, max_size=4, unique=True).map(
    lambda exprs: {f"a{i}": e for i, e in enumerate(exprs)}
)
_group = st.sampled_from([None, ["o_orderstatus"], ["o_orderpriority"]])
# simple comparisons valid verbatim in both dialects; the all-false
# branch exercises the empty-set aggregate laws end-to-end
_where = st.sampled_from(
    [
        None,
        "o_totalprice > 150000",
        "o_orderkey < 500",
        "o_orderstatus = 'O'",
        "o_custkey < 0",
    ]
)


@pytest.fixture(scope="module")
def server():
    with ArrowTestServer({"orders": ORDERS}) as srv:
        yield srv


@pytest.fixture(scope="module")
def registered(spark):
    register(spark)
    return spark


def _cells_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        # only genuinely float-valued cells (avg, DOUBLE columns) get a
        # tolerance — association order makes them non-exact
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    # exact integer aggregates (count/sum over ints) compare EXACTLY:
    # int == Decimal is exact in Python, so a sum at 1e9+ scale where a
    # float coercion would mask an off-by-one still fails loudly
    assert isinstance(a, (int, str, Decimal)), type(a)
    return a == b


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_aggs, _group, _where)
def test_agg_pushdown_equals_local_spark(registered, server, aggs, grp, whr):
    pushed = dd_read_arrow_agg(
        registered,
        server.url,
        source_table="orders",
        aggs=aggs,
        group_by=grp,
        where=whr,
    ).collect()

    keys = list(grp or [])
    select = ", ".join(
        keys + [f"{expr} AS {alias}" for alias, expr in aggs.items()]
    )
    local_sql = f"SELECT {select} FROM parquet.`{ORDERS}`"
    if whr:
        local_sql += f" WHERE {whr}"
    if keys:
        local_sql += " GROUP BY " + ", ".join(keys)
    local = registered.sql(local_sql).collect()

    skey = lambda r: tuple(repr(r[k]) for k in keys)  # noqa: E731
    pushed, local = sorted(pushed, key=skey), sorted(local, key=skey)
    assert len(pushed) == len(local)
    cols = keys + list(aggs)
    for pr, lr in zip(pushed, local):
        for c in cols:
            assert _cells_equal(pr[c], lr[c]), (
                f"{c}: server={pr[c]!r} local={lr[c]!r} "
                f"(aggs={aggs}, grp={grp}, where={whr})"
            )


# ---- split mode: per-split server-side partials + Spark-side merge ----

_safe_agg_expr = st.one_of(
    st.just("count(*)"),
    st.sampled_from(_EXPR_AGGS),
    st.builds(lambda c: f"count({c})", st.sampled_from(_NUM)),
    st.builds(lambda c: f"sum({c})", st.sampled_from(_NUM)),
    st.builds(lambda c: f"min({c})", st.sampled_from(_NUM)),
    st.builds(lambda c: f"max({c})", st.sampled_from(_NUM)),
)
_safe_aggs = st.lists(_safe_agg_expr, min_size=1, max_size=3, unique=True).map(
    lambda exprs: {f"a{i}": e for i, e in enumerate(exprs)}
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_safe_aggs, _group, _where)
def test_split_agg_partials_equal_local(registered, server, aggs, grp, whr):
    """Split mode: EACH split computes the aggregate over its slice on
    the server and Spark merges the partials (the reference's split-mode
    aggregation pushdown, IsSplitSafe set only).  Merged result must
    equal Spark computing the same SQL locally."""
    merged = dd_read_arrow_agg(
        registered,
        server.url,
        source_table="orders",
        aggs=aggs,
        group_by=grp,
        where=whr,
        split=True,
        split_size=16384,  # several splits at sf0.001
    ).collect()

    keys = list(grp or [])
    select = ", ".join(
        keys + [f"{expr} AS {alias}" for alias, expr in aggs.items()]
    )
    local_sql = f"SELECT {select} FROM parquet.`{ORDERS}`"
    if whr:
        local_sql += f" WHERE {whr}"
    if keys:
        local_sql += " GROUP BY " + ", ".join(keys)
    local = registered.sql(local_sql).collect()

    skey = lambda r: tuple(repr(r[k]) for k in keys)  # noqa: E731
    merged, local = sorted(merged, key=skey), sorted(local, key=skey)
    assert len(merged) == len(local)
    for mr, lr in zip(merged, local):
        for c in keys + list(aggs):
            assert _cells_equal(mr[c], lr[c]), (
                f"{c}: split-merged={mr[c]!r} local={lr[c]!r} "
                f"(aggs={aggs}, grp={grp}, where={whr})"
            )


def test_split_agg_partials_ran_server_side(registered, server):
    server.queries.clear()
    out = dd_read_arrow_agg(
        registered,
        server.url,
        source_table="orders",
        aggs={"n": "count(*)", "s": "sum(o_totalprice)"},
        split=True,
        split_size=16384,
    ).collect()
    assert len(out) == 1
    # every split's wire query carries BOTH the slice predicate and the
    # aggregate — the partials really ran on the server, per split
    wire = [q for q in server.queries if "hash(_b)" in q]
    assert len(wire) >= 2, f"expected >=2 split queries, saw {server.queries}"
    assert all("count(*)" in q and 'sum("o_totalprice")' in q for q in wire)
    # schema is probed ONCE and reused across splits: exactly one
    # LIMIT-0 round trip regardless of split count
    probes = [q for q in server.queries if "LIMIT 0" in q]
    assert len(probes) == 1, f"expected 1 schema probe, saw {probes}"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _remote_sql(plan: str) -> str:
    return plan.split("RemoteSql: ", 1)[1].split("\n", 1)[0]


def _split_equals_duckdb(registered, server, aggs):
    """Run `aggs` in split mode, assert every cell equals DuckDB on the
    parquet, and return the executed plan."""
    df = dd_read_arrow_agg(
        registered,
        server.url,
        source_table="orders",
        aggs=aggs,
        split=True,
        split_size=16384,
    )
    got = df.collect()
    want = duckdb.sql(
        "SELECT " + ", ".join(aggs.values()) + f" FROM '{ORDERS}'"
    ).fetchone()
    assert len(got) == 1
    for alias, w in zip(aggs, want):
        assert _cells_equal(got[0][alias], w), (aggs, got, want)
    return _plan(df)


def test_split_agg_rejects_unsafe_aggregates(registered, server):
    """avg and DISTINCT partials don't merge (the IsSplitSafe set), and
    the reference then runs the whole aggregate locally with the same
    result (dd_read_arrow_aggregation_pushdown_split.test_slow:84-141):
    avg is pushed as sum and count partials that Spark merges, and
    count DISTINCT is not pushed — Spark aggregates the raw rows, as it
    does for any aggregate the reader cannot translate."""
    p = _split_equals_duckdb(
        registered, server, {"n": "count(*)", "a": "avg(o_totalprice)"}
    )
    assert "PushedAggregation: true" in p, p
    remote = _remote_sql(p)
    assert "sum(" in remote and "count(" in remote and "avg(" not in remote
    assert "HashAggregate" in p, p  # Spark merges the partials
    p = _split_equals_duckdb(
        registered, server, {"n": "count(*)", "d": "count(DISTINCT o_custkey)"}
    )
    assert "PushedAggregation: false" in p, p
    # min/max of a literal-only argument: DuckDB would type the literal
    # by its value (INTEGER), not as the BIGINT Spark reads back
    p = _split_equals_duckdb(
        registered, server, {"n": "count(*)", "c": "max(CAST(5 AS BIGINT))"}
    )
    assert "PushedAggregation: false" in p, p


def test_literal_group_key_is_not_pushed(registered, server):
    """A literal-only group key would reach the server as an integer
    GROUP BY term, which DuckDB reads as a column position: it is not
    pushed, and Spark groups the raw rows."""
    from pyspark.sql import functions as F

    from dazzleduck_sql_duckdb_spark.sources import dd_read_arrow

    for split in (False, True):
        df = (
            dd_read_arrow(
                registered, server.url, source_table="orders", split=split,
                split_size=16384,
            )
            .groupBy(F.lit(1).alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert "PushedAggregation: false" in _plan(df)
        assert [tuple(r) for r in df.collect()] == [
            (1, duckdb.sql(f"SELECT count(*) FROM '{ORDERS}'").fetchone()[0])
        ]


def test_split_agg_rejects_compound_expressions(registered, server):
    """A compound aggregate expression pushes its aggregate calls as
    per-split partials and Spark computes the expression over the
    merged values — 'max(a) - min(a)' is a MAX and a MIN partial, never
    one partial merged with MAX. A non-aggregate has no aggregate
    meaning at all and fails analysis."""
    for expr in (
        "max(o_totalprice) - min(o_totalprice)",
        "sum(o_totalprice)+1",
        "sum(o_totalprice)/sum(o_orderkey)",
        "1 + count(*)",
    ):
        p = _split_equals_duckdb(registered, server, {"b": expr})
        assert "PushedAggregation: true" in p, (expr, p)
    remote = _remote_sql(
        _split_equals_duckdb(
            registered, server, {"b": "max(o_totalprice) - min(o_totalprice)"}
        )
    )
    assert 'max("o_totalprice")' in remote and 'min("o_totalprice")' in remote
    with pytest.raises(AnalysisException):
        dd_read_arrow_agg(
            registered,
            server.url,
            source_table="orders",
            aggs={"b": "o_orderkey"},
            split=True,
        )


def test_split_agg_accepts_nested_and_quoted_args(registered, server):
    """Aggregate arguments that are expressions — a fractional-to-integral
    CAST (which must truncate like Spark, not round like DuckDB) and a
    COALESCE — are translated and pushed as per-split partials."""
    for expr in _EXPR_AGGS:
        df = dd_read_arrow_agg(
            registered, server.url, source_table="orders", aggs={"s": expr},
            split=True, split_size=16384,
        )
        assert "PushedAggregation: true" in _plan(df), (expr, _plan(df))
        local = registered.sql(
            f"SELECT {expr} AS s FROM parquet.`{ORDERS}`"
        ).collect()
        assert _cells_equal(df.collect()[0]["s"], local[0]["s"]), expr


def test_split_agg_is_one_scan_relation(registered, server):
    """Verdict-r3 directive: split-mode agg pushdown must ride ONE data
    source whose input partitions carry each split's rewritten aggregate
    SQL — not an N-ary union of per-split DataFrames. At a 1000-split
    100 TB scan the union's O(n_splits) driver plan is the bottleneck;
    one scan relation keeps plan size O(1) in split count."""
    server.queries.clear()
    df = dd_read_arrow_agg(
        registered,
        server.url,
        source_table="orders",
        aggs={"n": "count(*)", "s": "sum(o_totalprice)"},
        split=True,
        split_size=16384,
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan, plan
    assert plan.count("dd_arrow(") == 1, plan
    # and the partials still genuinely fan out: several split tasks
    out = df.collect()
    assert len(out) == 1
    wire = [q for q in server.queries if "hash(_b)" in q]
    assert len(wire) >= 2


def test_split_agg_plans_filtered_relation(registered, server):
    """The split plan is taken over base+WHERE, so a selective filter
    shrinks the split count instead of planning the unfiltered base
    into near-empty per-split round trips (advisor r3). o_orderkey<60
    keeps ~15 of 1500 rows at sf0.001; the server's plan-time sizing
    is the optimizer's EXPLAIN estimate (exact for bare scans, a
    selectivity heuristic under filters — ~20% for a range predicate),
    so the filtered plan lands at 1-2 splits where the unfiltered base
    (1500 rows * 64 B / 16384) needs ~6."""
    server.queries.clear()
    out = dd_read_arrow_agg(
        registered,
        server.url,
        source_table="orders",
        aggs={"n": "count(*)", "mx": "max(o_totalprice)"},
        where="o_orderkey < 60",
        split=True,
        split_size=16384,
    ).collect()
    local = registered.sql(
        "SELECT count(*) AS n, max(o_totalprice) AS mx"
        f" FROM parquet.`{ORDERS}` WHERE o_orderkey < 60"
    ).collect()
    assert _cells_equal(out[0]["n"], local[0]["n"])
    assert _cells_equal(out[0]["mx"], local[0]["mx"])
    wire = [q for q in server.queries if "hash(_b)" in q]
    # filtered relation -> far fewer splits than the ~6 the unfiltered
    # base would plan; each split query carries the WHERE once, inside
    # the planned slice
    assert 1 <= len(wire) <= 2, wire
    for w in wire:
        assert w.count("o_orderkey < 60") == 1, w
