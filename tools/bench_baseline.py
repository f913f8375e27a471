"""Time the DuckDB oracle for each bench query and compare with Spark.

BASELINE.md operationalizes "the reference's throughput at the same
scale factor" as DuckDB wall-clock over the identical parquet (the
reference publishes no absolute numbers and delegates execution to
DuckDB). This prints a side-by-side JSON:

    python tools/bench_baseline.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from check_parity import TABLES  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from bench import BENCH_QUERIES  # noqa: E402
    from dazzleduck_sql_duckdb_spark.plans import queries as Q

    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 8}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    duck: dict[str, float] = {}
    for name in BENCH_QUERIES:
        if name not in Q.CATALOG:
            continue
        sql = Q.oracle_sql_for(name)
        t0 = time.perf_counter()
        try:
            con.sql(sql).fetchall()
            duck[name] = round(time.perf_counter() - t0, 4)
        except Exception as e:
            duck[name] = float("nan")
            print(f"# duck error {name}: {e}", file=sys.stderr)

    out = {
        "sf_dir": sf_dir,
        "duckdb_total_s": round(sum(v for v in duck.values() if v == v), 4),
        "duckdb_queries": duck,
        "note": (
            "DuckDB runs the brute-force oracle formulations (e.g. n^2"
            " near-dup verify); Spark runs the LSH scale paths — compare"
            " per-query, and see BENCH JSON from bench.py for Spark times"
        ),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
