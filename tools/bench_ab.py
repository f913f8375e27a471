"""Interleaved Spark/DuckDB A/B — the load-invariance proof for the
bench ratio.

A bench can drift +24% between runs across queries whose code did
not change — the uniform multiplicative pattern of MACHINE-STATE
drift, not a code regression. A sequential bench cannot distinguish the two: if the
machine is slow during the Spark pass and fast during the DuckDB pass
(or vice versa), the RATIO absorbs the drift. This harness interleaves
the engines at QUERY granularity — every Spark timing is immediately
followed by the same query's DuckDB oracle timing, so any drift window
hits both engines near-identically — and repeats the whole interleaved
sweep R times. If the drift hypothesis is right, per-sweep TOTALS may
swing but the per-sweep RATIO stays flat.

    python tools/bench_ab.py [sf_dir] [out_md] [R]

Writes BENCH_AB.md: per-sweep totals + ratios, per-query medians, and
the dispersion comparison (totals spread vs ratio spread).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb

from bench import BENCH_QUERIES
from bench_report import BRUTE_FORCE_ORACLES
from check_parity import TABLES


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_md = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_AB.md",
    )
    sweeps = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    import __spark_entry__ as E
    from dazzleduck_sql_duckdb_spark.plans import queries as Q
    from dazzleduck_sql_duckdb_spark.session import get_spark

    spark = get_spark(app_name="bench_ab")
    qs = E.queries()
    # the comparable set: benched queries with an oracle, excluding the
    # deliberately-n^2 oracle formulations (they measure the algorithm
    # class, not the engine, and would serialize the interleave)
    names = [
        n for n in BENCH_QUERIES
        if n in qs and n in Q.CATALOG
        and n not in BRUTE_FORCE_ORACLES
    ]

    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 8}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # warm both engines (bench.py discipline: codegen + page cache)
    for n in names:
        qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        con.sql(Q.oracle_sql_for(n)).fetchall()

    rows: list[dict] = []  # one per sweep
    per_q: dict[str, list[tuple[float, float]]] = {n: [] for n in names}
    for s in range(sweeps):
        st_total = dt_total = 0.0
        for n in names:
            t0 = time.perf_counter()
            qs[n](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            st = time.perf_counter() - t0
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            con.sql(Q.oracle_sql_for(n)).fetchall()
            dt = time.perf_counter() - t0
            per_q[n].append((st, dt))
            st_total += st
            dt_total += dt
        rows.append({
            "sweep": s + 1, "spark_s": st_total, "duck_s": dt_total,
            "ratio": st_total / dt_total,
        })
        print(f"sweep {s + 1}: spark {st_total:.2f}s duck {dt_total:.2f}s"
              f" ratio {st_total / dt_total:.3f}x", file=sys.stderr)

    ratios = [r["ratio"] for r in rows]
    stotals = [r["spark_s"] for r in rows]
    dtotals = [r["duck_s"] for r in rows]

    def spread(xs):  # relative max-min spread
        return (max(xs) - min(xs)) / (sum(xs) / len(xs))

    lines = [
        "# BENCH_AB — interleaved Spark/DuckDB load-invariance check",
        "",
        f"- sf_dir: `{sf_dir}`; sweeps: {sweeps}; queries: {len(names)}"
        " (headline set minus the deliberately-n^2 oracle"
        " formulations)",
        "- generated by: `python tools/bench_ab.py` — each Spark"
        " timing is immediately followed by the SAME query's DuckDB"
        " oracle timing, so machine-state drift hits both engines in"
        " the same window; a drift-dominated environment shows"
        " swinging totals with a flat ratio.",
        "",
        "| sweep | spark_s | duck_s | ratio |",
        "|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['sweep']} | {r['spark_s']:.2f} | {r['duck_s']:.2f} |"
            f" {r['ratio']:.3f}x |"
        )
    lines += [
        "",
        f"**Dispersion**: Spark totals spread"
        f" {100 * spread(stotals):.1f}%, DuckDB totals spread"
        f" {100 * spread(dtotals):.1f}%, RATIO spread"
        f" {100 * spread(ratios):.1f}%"
        f" (min {min(ratios):.3f}x / max {max(ratios):.3f}x).",
        "",
    ]
    if sweeps >= 5:
        # separate the JVM warmup ramp from steady state: C2 JIT keeps
        # improving for ~3 full passes after the warm pass, so early
        # sweeps measure warmup, not the engine. The last-3 window is
        # the steady-state comparison.
        lines += [
            f"**Steady state (last 3 sweeps)**: Spark totals spread"
            f" {100 * spread(stotals[-3:]):.1f}%"
            f" ({', '.join(f'{x:.2f}s' for x in stotals[-3:])}),"
            f" DuckDB totals spread {100 * spread(dtotals[-3:]):.1f}%"
            f" ({', '.join(f'{x:.2f}s' for x in dtotals[-3:])}),"
            f" ratio {min(ratios[-3:]):.3f}x–{max(ratios[-3:]):.3f}x.",
            "",
        ]
    lines += [
        "| query | spark_med_s | duck_med_s | ratio |",
        "|---|---|---|---|",
    ]
    for n in names:
        sm = sorted(st for st, _ in per_q[n])[len(per_q[n]) // 2]
        dm = sorted(dt for _, dt in per_q[n])[len(per_q[n]) // 2]
        lines.append(f"| {n} | {sm:.3f} | {dm:.3f} | {sm / dm:.2f}x |")
    lines.append("")
    text = "\n".join(lines)
    with open(out_md, "w") as f:
        f.write(text)
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
