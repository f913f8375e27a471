#!/usr/bin/env python3
"""Dump `.explain("formatted")` for every bench query into a directory.

Usage:
    python3 tools/dump_plans.py <out_dir> [tag] [sf_dir] [names...]

Writes <out_dir>/<query>_<tag>.txt (tag defaults to "before"), the
evidence files plan claims are checked against. Default sf_dir is the
bench scale (sf0.1); default names = the bench headline set.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as E  # noqa: E402
from bench import BENCH_QUERIES  # noqa: E402
from dazzleduck_sql_duckdb_spark.session import get_spark  # noqa: E402


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    names = sys.argv[4:] or BENCH_QUERIES
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump_plans")
    queries = E.queries()
    for name in names:
        if name not in queries:
            print(f"skip {name}: not in catalog", file=sys.stderr)
            continue
        df = queries[name](spark, sf_dir)
        # _sc access: same pattern as tools/audit_plans.py — formatted
        # explain string without printing to stdout
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
