#!/usr/bin/env python3
"""Compute expected.json: result hashes of the corpus_dedup queries,
produced by DuckDB from the catalog's oracle_sql(), never by
the engine.

    python3 perfbench/make_expected.py [--data-dir DIR] sf0.1 sf0.01 sf0.001
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import __spark_entry__ as entry  # noqa: E402
from catalog import CORPUS_DEDUP, EXPECTED, result_hash  # noqa: E402
from run import DATA_DIR  # noqa: E402
from tools.check_parity import duck_connect  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", default=DATA_DIR)
    ap.add_argument("scales", nargs="+")
    args = ap.parse_args()
    oracles = entry.oracle_sql()
    table = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            table = json.load(f)
    # dedup_components and dedup_canonical_corpus embed dedup_minhash_lsh's
    # oracle verbatim as their `pairs` CTE, which DuckDB re-evaluates on
    # every step of the recursion: at sf0.1, dedup_components alone had
    # not finished after 8 minutes. It is computed once into a table; the
    # SQL is otherwise unchanged.
    pairs_sql = oracles["dedup_minhash_lsh"]
    for sf in args.scales:
        con = duck_connect(os.path.join(args.data_dir, sf))
        con.sql(f"CREATE TEMP TABLE minhash_pairs AS {pairs_sql}")
        table[sf] = {}
        for name in CORPUS_DEDUP:
            rel = con.sql(oracles[name].replace(pairs_sql, "SELECT * FROM minhash_pairs"))
            table[sf][name] = result_hash(rel.columns, rel.fetchall())
            print(sf, name, file=sys.stderr)
    with open(EXPECTED, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
