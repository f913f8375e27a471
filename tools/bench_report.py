"""One command -> the round's Spark-vs-DuckDB ratio table.

    python tools/bench_report.py [sf_dir] [out_md]

Runs BOTH sides under one roof — the Spark headline set exactly as
bench.py times it (noop-write full execution, warmed session) and the
DuckDB oracle formulations over the identical parquet — and writes a
BENCH_REPORT.md the round commits. Regressions self-document: every
query >2x slower than DuckDB AND >1s is flagged `weak`, and the n^2
oracle formulations (where Spark runs an LSH scale path against a
deliberately brute-force oracle) are split out of the headline ratio so
the summary can't flatter itself.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb

from check_parity import TABLES  # noqa: E402

# oracle formulations that are deliberately brute-force (n^2 pair
# joins / recursive CTE over the n^2 pair graph) while the Spark side
# runs the banded/blocked/iterative scale path — ratio < 1 here
# measures the algorithm, not the engine
BRUTE_FORCE_ORACLES = {
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_components",
    "dedup_canonical_corpus",
}


def run_duck_bench(
    sf_dir: str, only: set[str] | None = None
) -> dict[str, float]:
    from bench import BENCH_QUERIES
    from dazzleduck_sql_duckdb_spark.plans import queries as Q

    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 8}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out: dict[str, float] = {}
    for name in BENCH_QUERIES:
        if name not in Q.CATALOG:
            continue
        if only is not None and name not in only:
            continue
        sql = Q.oracle_sql_for(name)
        # sub-second timings are machine-state dominated (measured:
        # the same non-n^2 oracle set swung 9.4s vs 15.6s across two
        # rounds on identical parquet while the Spark side stayed
        # flat) — take the median of 3 runs for the cheap queries; the
        # minutes-long n^2 formulations run once, they are excluded
        # from the headline ratio anyway
        reps = 1 if name in BRUTE_FORCE_ORACLES else 3
        times: list[float] = []
        try:
            for _ in range(reps):
                t0 = time.perf_counter()
                con.sql(sql).fetchall()
                times.append(time.perf_counter() - t0)
            out[name] = round(sorted(times)[len(times) // 2], 4)
        except Exception as e:
            out[name] = float("nan")
            print(f"# duck error {name}: {e}", file=sys.stderr)
    return out


def write_report(
    sf_dir: str, spark_t: dict[str, float], duck_t: dict[str, float],
    out_path: str,
) -> str:
    lines = [
        "# Bench report — Spark vs DuckDB oracle",
        "",
        f"- sf_dir: `{sf_dir}`",
        f"- generated by: `python tools/bench_report.py {sf_dir}`",
        "- Spark: bench.py discipline — noop-write full execution,"
        " catalog-wide untimed warm pass (steady-state codegen + OS"
        " page cache), then MEDIAN OF 3 timed runs per query. DuckDB:"
        " the catalog's own oracle SQL over identical parquet, all"
        " cores, median of 3 (n^2 formulations once). Both engines"
        " steady-state over cached files; medians regenerated"
        " END-OF-ROUND on both sides by this command.",
        "",
        "| query | spark_s | duck_s | ratio | note |",
        "|---|---|---|---|---|",
    ]
    weak: list[str] = []
    headline_spark = headline_duck = 0.0
    for name, st in spark_t.items():
        dt = duck_t.get(name)
        if dt is None or dt != dt:
            lines.append(f"| {name} | {st:.3f} | — | — | no oracle |")
            continue
        ratio = st / dt if dt > 0 else float("inf")
        note = ""
        if name in BRUTE_FORCE_ORACLES:
            note = "n^2 oracle vs LSH scale path — measures the algorithm"
        else:
            headline_spark += st
            headline_duck += dt
            if ratio > 2.0 and st > 1.0:
                note = "**weak** (>2x and >1s)"
                weak.append(name)
        lines.append(
            f"| {name} | {st:.3f} | {dt:.3f} | {ratio:.2f}x | {note} |"
        )
    total_s = sum(spark_t.values())
    total_d = sum(v for v in duck_t.values() if v == v)
    lines += [
        "",
        f"**Totals**: Spark {total_s:.2f}s vs DuckDB {total_d:.2f}s"
        f" (all benched queries, ratio {total_s / total_d:.2f}x)."
        f" Excluding the deliberately-n^2 oracles: Spark"
        f" {headline_spark:.2f}s vs DuckDB {headline_duck:.2f}s"
        f" (**{headline_spark / headline_duck:.2f}x** — the 2x contract"
        " headline).",
        "",
        f"**Weak queries** (>2x and >1s): "
        + (", ".join(f"`{w}`" for w in weak) if weak else "none")
        + ".",
        "",
    ]
    text = "\n".join(lines)
    with open(out_path, "w") as f:
        f.write(text)
    return text


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--reuse-duck"]
    reuse_duck = "--reuse-duck" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    out_md = args[1] if len(args) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_REPORT.md",
    )
    from bench import run_spark_bench

    # symmetric methodology with the duck side: single full-execution
    # runs swing ±10% per query with session/JIT state (measured
    # 20.8s / 21.7s / 23.4s non-n^2 totals in one afternoon), so the
    # ratio table takes the per-query MEDIAN of 3 Spark passes in one
    # warmed session. bench.py itself stays single-run — that is the
    # driver's discipline.
    passes = [run_spark_bench(sf_dir) for _ in range(3)]
    spark_t = {
        name: sorted(p[name] for p in passes)[1] for name in passes[0]
    }
    # the brute-force oracles cost ~25 min at sf0.1 (n^2 pair joins /
    # recursive CTEs) and are stable run-to-run; --reuse-duck replays
    # the sidecar from the last full run when iterating on the Spark side
    sidecar = out_md + ".duck.json"
    if reuse_duck and os.path.exists(sidecar):
        with open(sidecar) as f:
            duck_t = {k: float(v) for k, v in json.load(f).items()}
        # a bench entry added since the sidecar was written still
        # needs its duck median — recompute only the missing ones
        missing = {n for n in spark_t if n not in duck_t}
        if missing:
            duck_t.update(run_duck_bench(sf_dir, only=missing))
            with open(sidecar, "w") as f:
                json.dump(duck_t, f, indent=1)
    else:
        duck_t = run_duck_bench(sf_dir)
        with open(sidecar, "w") as f:
            json.dump(duck_t, f, indent=1)
    text = write_report(sf_dir, spark_t, duck_t, out_md)
    print(text)
    print(json.dumps({"out": out_md, "spark_total_s":
                      round(sum(spark_t.values()), 2)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
