"""TPC-H multi-join shapes, the sketch-accuracy contracts and the native
sessionize operator over the same tables.
"""

from __future__ import annotations

from . import dialect as D
from .dialect import SPARK, _event_us, _round6, _roundk
from .queries import q


# ------------------------------------------------ TPC-H multi-join shapes
# Adapted to the driver's reduced schema (no shipmode/commitdate/partsupp;
# Q3 drops o_shippriority, Q4 uses shipdate>orderdate as the "late" test).
# All money math follows the dialect.py decimal discipline so both
# engines hash identically. Scale notes: the dim sides (customer 1.5M,
# supplier 100k, nation/region tiny at SF100) broadcast or shuffle on
# their join key; the fact-side shuffle is on the join key only, with
# partial aggregation before the exchange — the plans a 1000-executor
# cluster wants.

_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))"
)


@q("q3_shipping_priority")
def _q3(d: str) -> str:
    """TPC-H Q3: top-10 unshipped orders by revenue for one segment."""
    od = D.epoch_us("CAST(o_orderdate AS TIMESTAMP)", d)
    return f"""
SELECT l_orderkey,
  CAST(CAST(round(sum({_REV}), 4) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
  CAST({od} AS BIGINT) AS order_us, o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


@q("q4_order_priority")
def _q4(d: str) -> str:
    """TPC-H Q4 shape: correlated EXISTS with an inequality (late-ship
    orders per priority). Spark decorrelates to a left-semi join."""
    return """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


@q("q5_regional_volume")
def _q5(d: str) -> str:
    """TPC-H Q5: 6-table join, local-supplier constraint
    (c_nationkey = s_nationkey), revenue by nation."""
    return f"""
SELECT n.n_name, CAST(CAST(round(sum({_REV}), 4) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
"""


@q("q7_volume_shipping")
def _q7(d: str) -> str:
    """TPC-H Q7 (volume shipping): bidirectional trade volume between
    two nation groups by ship year — a 6-table join with TWO nation
    dimension roles (supplier's and customer's) and the classic
    disjunctive cross-group predicate. Nation groups rather than the
    kit's single pair because the test corpus assigns nations
    uniformly (a single pair selects zero rows at sf0.001)."""
    ga = "('NATION_1','NATION_2','NATION_3')"
    gb = "('NATION_4','NATION_5','NATION_6')"
    return f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(CAST(round(sum({_REV}), 4) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name IN {ga} AND n2.n_name IN {gb})
    OR (n1.n_name IN {gb} AND n2.n_name IN {ga}))
  AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n1.n_name, n2.n_name, EXTRACT(YEAR FROM l.l_shipdate)
"""


@q("q8_market_share")
def _q8(d: str) -> str:
    """TPC-H Q8 (national market share): the widest join in the suite
    — 8 tables, nation playing TWO roles (customer's region gate,
    supplier's share group) — with a conditional-aggregate share
    ratio. Both sums are EXACT decimal arithmetic (_REV discipline),
    so the double ratio is bit-identical across engines; snapped to
    1e-6 via the branchless bridge (_round6 — round(DOUBLE, k)
    diverges at shortest-repr half boundaries). Share
    group = a nation set (the kit's single nation under-selects the
    uniform test corpus)."""
    ga = "('NATION_1','NATION_2','NATION_3')"
    ratio = (
        f"(CAST(sum(CASE WHEN n2.n_name IN {ga} THEN {_REV}"
        f" ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)"
        f" / CAST(sum({_REV}) AS DOUBLE))"
    )
    return f"""
SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST({_round6(ratio)} AS DOUBLE) AS mkt_share
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
JOIN region r ON n1.n_regionkey = r.r_regionkey
JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY EXTRACT(YEAR FROM o.o_orderdate)
"""


@q("q10_returned_items")
def _q10(d: str) -> str:
    """TPC-H Q10: top-20 customers by revenue lost to returns."""
    return f"""
SELECT c.c_custkey, c.c_name,
  CAST(CAST(round(sum({_REV}), 4) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
  n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


@q("q14_promo_effect")
def _q14(d: str) -> str:
    """TPC-H Q14: conditional aggregation ratio (promo revenue share).
    Exact decimal sums; the ratio is ONE double division (IEEE-exact,
    identical in both engines given identical decimal operands)."""
    return f"""
SELECT
  CAST(CAST(round(sum(CASE WHEN p.p_type = 'PROMO' THEN {_REV} END), 4) AS DECIMAL(38,4)) AS DOUBLE) AS promo_revenue,
  CAST(CAST(round(sum({_REV}), 4) AS DECIMAL(38,4)) AS DOUBLE) AS total_revenue,
  CAST(100 * CAST(CAST(round(sum(CASE WHEN p.p_type = 'PROMO' THEN {_REV} END), 4) AS DECIMAL(38,4)) AS DOUBLE)
       / CAST(CAST(round(sum({_REV}), 4) AS DECIMAL(38,4)) AS DOUBLE) AS DOUBLE) AS promo_pct
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""


@q("q18_large_volume")
def _q18(d: str) -> str:
    """TPC-H Q18: large-volume orders — ONE lineitem aggregation total.

    The textbook IN-subquery form makes Spark infer the semi-join filter
    onto BOTH orders and lineitem, running the heavy per-orderkey
    aggregation twice; even the aggregated-inner-join form re-aggregates
    the joined lineitem rows. But the HAVING predicate and the output
    column are the SAME per-orderkey sum, so one grouped pass produces
    both: aggregate lineitem by orderkey once, filter > 220, then join
    the (small) surviving keys to orders and customer. At scale this is
    one full lineitem shuffle instead of two, and the post-filter join
    input shrinks from |lineitem| to |big orders|.

    Sum domain: l_quantity is INTEGRAL by TPC-H construction (1..50;
    asserted against the test data in tests/test_properties.py), so
    summing CAST(l_quantity AS BIGINT) is EXACT and order-independent
    — the same result the decimal-domain sum produces, without its
    cost: Spark widens a DECIMAL(18,4) sum accumulator to
    DECIMAL(28,4), which no longer fits a long, so every group update
    leaves the primitive fast path (measured at sf0.1: 0.80s decimal
    vs 0.36s long-backed for the identical grouped HAVING sum). The
    decimal discipline stays where values are genuinely fractional
    (q1/q3/q5 money sums); exactness here comes from integrality, not
    from giving up the HUGEINT->DECIMAL contract."""
    od = D.epoch_us("CAST(o_orderdate AS TIMESTAMP)", d)
    return f"""
WITH okq AS (
  SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT)) AS qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS BIGINT)) > 220
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
  CAST({od} AS BIGINT) AS order_us,
  CAST(okq.qty AS DOUBLE) AS total_qty
FROM okq
JOIN orders o ON o.o_orderkey = okq.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
"""


@q("q19_disjunctive_join")
def _q19(d: str) -> str:
    """TPC-H Q19 shape: join with disjunctive multi-attribute predicates
    (brand x size x quantity bands). The equi-join key is still
    extractable, so Spark plans a hash join + residual OR filter, not a
    cartesian product."""
    return f"""
SELECT CAST(CAST(round(sum({_REV}), 4) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 21)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity >= 10 AND l.l_quantity <= 30)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity >= 20 AND l.l_quantity <= 40)
"""


@q("q9_product_profit")
def _q9(d: str) -> str:
    """TPC-H Q9 shape (product-type profit measure): 5-table join,
    LIKE-filtered part dimension, profit grouped by nation and year.
    Adaptation for this corpus' schema (no partsupp table — see
    TESTDATA.md): supply cost is the part's catalog price times
    quantity, so profit = revenue - catalog cost; the join/aggregate
    SHAPE (fact x 4 broadcast dims, computed measure, two-level
    group) is the point of the query. Both measures are exact-decimal
    summed and rounded separately BEFORE the double subtraction, so
    the result hash never sees engine-specific decimal-multiply
    precision rules."""
    cost = (
        "CAST(p.p_retailprice AS DECIMAL(18,4))"
        " * CAST(l.l_quantity AS DECIMAL(18,4))"
    )
    profit = (
        f"(CAST(CAST(round(sum({_REV}), 4) AS DECIMAL(38,4)) AS DOUBLE)"
        f" - CAST(CAST(round(sum({cost}), 4) AS DECIMAL(38,4))"
        " AS DOUBLE))"
    )
    return f"""
SELECT n.n_name AS nation,
  CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
  CAST({_roundk(profit, 4)} AS DOUBLE) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, EXTRACT(YEAR FROM o.o_orderdate)
"""


@q("q12_priority_shipping")
def _q12(d: str) -> str:
    """TPC-H Q12 shape (shipping-mode priority classes): lineitem x
    orders with conditional-aggregate CASE counts of high- vs
    low-priority orders per class, over a one-year window.
    Adaptation: the class column is l_linestatus (the corpus has no
    l_shipmode) and the window predicate is on l_shipdate (no
    commit/receipt dates); the high-priority set is the kit's."""
    return """
SELECT l.l_linestatus,
  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_linestatus
"""


@q("q13_customer_distribution")
def _q13(d: str) -> str:
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join
    so zero-order customers survive into the c_count=0 bucket, then a
    second aggregation histograms customers per order count — the
    double-aggregation-over-outer-join shape. Adaptation: the
    excluded-orders predicate is an o_orderpriority class (the corpus
    has no o_comment)."""
    return """
WITH c_orders AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM c_orders
GROUP BY c_count
"""


@q("q15_top_supplier")
def _q15(d: str) -> str:
    """TPC-H Q15 (top supplier): quarterly per-supplier revenue with a
    scalar-subquery max and an equality join back — the
    view-plus-argmax shape. The revenue compare happens in the EXACT
    rounded DECIMAL(38,4) domain (tie-safe and engine-independent);
    only the output column degrades to DOUBLE."""
    return f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    CAST(round(sum({_REV}), 4) AS DECIMAL(38,4)) AS total_revenue
  FROM lineitem l
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
  CAST(r.total_revenue AS DOUBLE) AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@q("q16_supplier_cnt")
def _q16(d: str) -> str:
    """TPC-H Q16 shape (parts/supplier relationship): count DISTINCT
    suppliers per (brand, type, size) bucket, excluding a
    subquery-derived supplier blacklist via NOT IN — the
    anti-join-into-count-distinct shape. Adaptation: supplier-part
    pairs come from lineitem (no partsupp table) and the blacklist
    predicate is an s_acctbal threshold (no s_comment)."""
    return """
SELECT p.p_brand, p.p_type, p.p_size,
  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#45'
  AND p.p_type NOT LIKE 'PROMO%'
  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 500.0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@q("q17_small_quantity")
def _q17(d: str) -> str:
    """TPC-H Q17 (small-quantity-order revenue): revenue lost to
    orders below 20% of a part's average quantity — the
    correlated-average shape, decorrelated into a per-part aggregate
    join (what both planners do to the kit's subquery anyway). The
    threshold compare 'qty < 0.2 * avg' is algebraized to the EXACT
    integer-decimal form 5 * qty * cnt < total (quantities are
    integral, summed as DECIMAL), so no engine's double avg sits on
    the boundary."""
    yearly = (
        "(CAST(CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))),"
        " 2) AS DECIMAL(38,2)) AS DOUBLE) / 7.0)"
    )
    # Spark side pre-filters the per-part aggregate's input with the
    # selective part predicate (shuffle fewer bytes): only partkeys that
    # survive the brand/type filter can ever join the main block, and
    # per-group (cnt, total) are unaffected by dropping whole groups, so the
    # result is identical (parity-proved). The filtered part list broadcasts
    # into the agg's scan side, shrinking the agg exchange from all parts to
    # one brand's parts (~1/1000 at TPC-H selectivity). Measured at sf0.1:
    # 0.731s -> 0.445s median. Oracle keeps the unfiltered decorrelated form
    # so equivalence stays externally checked.
    pq_src = (
        "lineitem JOIN bp ON bp.p_partkey = lineitem.l_partkey"
        if d == SPARK else "lineitem"
    )
    # BROADCAST(bp) / BROADCAST(pq): both are small by construction at
    # every scale — bp is one brand+type's part list and pq is the
    # per-part aggregate over exactly those parts (~1/1000 of parts at
    # TPC-H selectivity) — but the static planner's post-join aggregate
    # size estimate costed pq as sort-merge-worthy at gate scale
    # (audit_plans flagged the SMJ; AQE would demote it at runtime, the
    # hint pins the designed build side in the static plan too).
    pq_hint = "/*+ BROADCAST(bp) */ " if d == SPARK else ""
    main_hint = "/*+ BROADCAST(pq) */ " if d == SPARK else ""
    bp_cte = (
        """bp AS (
  SELECT p_partkey FROM part
  WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
),
"""
        if d == SPARK else ""
    )
    return f"""
WITH {bp_cte}pq AS (
  SELECT {pq_hint}l_partkey,
    CAST(count(*) AS DECIMAL(18,0)) AS cnt,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2))
      AS total
  FROM {pq_src} GROUP BY l_partkey
)
SELECT {main_hint}CAST({_round6(yearly)} AS DOUBLE)
  AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pq ON pq.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23' AND p.p_type = 'MEDIUM'
  AND CAST(l.l_quantity AS DECIMAL(18,2)) * pq.cnt * 5 < pq.total
"""


@q("q22_sales_opportunity")
def _q22(d: str) -> str:
    """TPC-H Q22 (global sales opportunity): positive-balance
    customers above the average balance with no recent orders,
    bucketed — the anti-join + scalar-average shape. Adaptations: the
    bucket is the customer's nation (no c_phone to prefix) and
    'never ordered' is 'no orders since 1999' (every corpus customer
    has old orders). The average-balance threshold compares in the
    EXACT decimal domain (bal * cnt > total), never through a double
    average."""
    return """
WITH pos AS (
  SELECT CAST(c_acctbal AS DECIMAL(18,2)) AS bal, c_custkey, c_nationkey
  FROM customer WHERE c_acctbal > 0.0
),
thr AS (
  SELECT CAST(count(*) AS DECIMAL(18,0)) AS cnt,
    CAST(sum(bal) AS DECIMAL(38,2)) AS total
  FROM pos
)
SELECT n.n_name AS cntrycode,
  CAST(count(*) AS BIGINT) AS numcust,
  CAST(CAST(sum(p.bal) AS DECIMAL(38,2)) AS DOUBLE) AS totacctbal
FROM pos p CROSS JOIN thr t
JOIN nation n ON n.n_nationkey = p.c_nationkey
WHERE p.bal * t.cnt > t.total
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = p.c_custkey
      AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
  )
GROUP BY n.n_name
"""


@q("q21_suppliers_waiting")
def _q21(d: str) -> str:
    """TPC-H Q21 (suppliers who kept orders waiting): the hardest
    join shape in the kit — an EXISTS and a NOT EXISTS, both
    correlated SELF-joins of the fact table with an inequality on the
    correlated column (another supplier's line exists; no OTHER
    supplier's line is also late). Spark decorrelates to a left-semi
    + left-anti pair on l_orderkey with the `l_suppkey <>` residual
    as the join condition — at scale both sides shuffle on the SAME
    key (l_orderkey), so the pair costs one co-partitioned exchange,
    not two. Adaptations for the corpus schema (no commit/receipt
    dates — the q12 precedent): the 'kept waiting' line marker is
    l_returnflag = 'R', and the nation gate is a group (q7/q8
    precedent: single-nation under-selects the uniform corpus).
    Completes the TPC-H suite over this schema: q2/q11/q20 need the
    nonexistent partsupp table; all other 19 are in the catalog."""
    return """
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
  AND n.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4','NATION_5')
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 100
"""


# ------------------------------------------------ sketch contracts
# At 100 TB, exact count(DISTINCT) and exact percentiles are the
# queries that fall over first: both need every distinct value (or
# every value) through a shuffle. The production answer is mergeable
# sketches — HyperLogLog for cardinality, GK/t-digest for quantiles —
# whose partials combine associatively, so they aggregate map-side
# and ship O(sketch) bytes per partition instead of O(data).
# Spark and DuckDB implement DIFFERENT sketches (HLL++ vs HLL,
# GK vs t-digest), so the estimates cannot be hash-compared across
# engines. These entries gate what IS portable: the accuracy
# CONTRACT. Each emits the exact answer (hashable) plus booleans
# asserting the engine's own sketch landed within the documented
# error bound — the same exactness-anchor discipline as the ANN
# recall-floor twins.


@q("sketch_distinct_bounds")
def _sketch_distinct(d: str) -> str:
    """HLL cardinality contract: per-event-type exact distinct users
    (the anchor values) + a boolean pinning the engine's HLL estimate
    within 5% relative + 5 absolute (the absolute slack covers tiny
    groups, where both engines' sparse HLL modes are exact anyway).
    Spark side runs rsd=0.02 (dialect.approx_distinct — the measured
    sweet spot: 0.4% actual error at sf0.1, exact below; 0.05 would
    BREAK this gate, see the dialect docstring). HLL estimates are
    merge-order invariant, so the verified booleans are stable.

    Plan shape (A/B-measured at sf0.1, see BENCH_NOTES.md): dedup
    FIRST — GROUP BY (type, user) partial-aggregates map-side, one
    shuffle of distinct pairs, then count(*) = the exact cardinality
    and the HLL runs over the already-distinct stream (HLL is
    duplicate-insensitive, so the estimate is identical to the
    fused form by construction). 1.9s fused-Expand -> 0.40s: the
    fused plan Expands the raw stream and drags HLL partials through
    it; the exact anchor forces the distinct shuffle either way, so
    dedup-first is strictly better here AND at 100 TB. (Sketch-ONLY
    production queries skip the anchor and the shuffle entirely —
    that single-scan map-side-merge path is what approx_distinct
    exists for.)"""
    ad = D.approx_distinct("user_id", d)
    return f"""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS exact_users,
  CAST(abs(CAST({ad} AS DOUBLE) - count(*))
       <= 0.05 * count(*) + 5 AS BOOLEAN) AS hll_within_5pct
FROM d
GROUP BY event_type
"""


@q("sketch_quantile_bounds")
def _sketch_quantile(d: str) -> str:
    """Quantile-sketch contract: per-language p50/p95 of document
    length from the engine's mergeable sketch, gated by the RANK
    definition of an eps-approximate quantile (Greenwald-Khanna):
    q_hat is a valid phi-quantile at rank error eps iff
    count(v < q_hat) <= (phi+eps)*n and count(v <= q_hat) >= (phi-eps)*n.
    The two-sided <=/< split makes the bound tie-safe, and it holds
    for interpolating sketches (t-digest) too; +-1 row of absolute
    slack covers integer rank rounding on small groups. eps = 0.02,
    vastly above Spark's 1/10000 accuracy and t-digest's tail error.
    The exact n per group anchors the hash."""
    p50 = D.approx_quantile("n_chars", "0.5", d)
    p95 = D.approx_quantile("n_chars", "0.95", d)
    return f"""
WITH s AS (
  SELECT lang, {p50} AS am, {p95} AS a95, count(*) AS n
  FROM documents GROUP BY lang
)
SELECT d.lang,
  CAST(max(s.n) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN d.n_chars <  s.am THEN 1 ELSE 0 END)
       <= 0.52 * max(s.n) + 1 AS BOOLEAN) AS p50_upper_ok,
  CAST(sum(CASE WHEN d.n_chars <= s.am THEN 1 ELSE 0 END)
       >= 0.48 * max(s.n) - 1 AS BOOLEAN) AS p50_lower_ok,
  CAST(sum(CASE WHEN d.n_chars <  s.a95 THEN 1 ELSE 0 END)
       <= 0.97 * max(s.n) + 1 AS BOOLEAN) AS p95_upper_ok,
  CAST(sum(CASE WHEN d.n_chars <= s.a95 THEN 1 ELSE 0 END)
       >= 0.93 * max(s.n) - 1 AS BOOLEAN) AS p95_lower_ok
FROM documents d JOIN s ON d.lang = s.lang
GROUP BY d.lang
"""


def _build_sessionize_native(spark, sf_dir: str):
    from ..streaming import sessionize

    return sessionize(spark.table("events")).select(
        "user_id", "n_events", "start_us", "end_us"
    )


@q("events_sessionize_native", spark=_build_sessionize_native)
def _sessionize_native(d: str) -> str:
    """Oracle for the native session_window operator (streaming/pipeline
    .py): same lag+cumsum sessionization as events_sessionize, minus the
    session ordinal (session_window identifies sessions by time range,
    not rank)."""
    us = _event_us(d)
    return f"""
WITH e AS (SELECT user_id, event_id, {us} AS us FROM events),
w AS (
  SELECT user_id, event_id, us,
    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
              OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
         THEN 1 ELSE 0 END AS brk
  FROM e),
s AS (
  SELECT user_id, us,
    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM w)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
  CAST(min(us) AS BIGINT) AS start_us, CAST(max(us) AS BIGINT) AS end_us
FROM s GROUP BY user_id, session_id
"""
