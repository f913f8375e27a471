"""Local replica of the driver's correctness gate.

Runs every catalog query on Spark AND its oracle on DuckDB over the
same parquet, normalizes (sort columns by name, sort rows), and
compares values exactly. Usage:

    python tools/check_parity.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def duck_connect(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


from decimal import Decimal as _Decimal


def _decimal_columns(schema) -> list[str]:
    """Top-level field names whose type mentions a decimal ANYWHERE
    (nested included — simpleString renders e.g. array<decimal(38,4)>)."""
    return [
        f.name for f in schema.fields
        if "decimal(" in f.dataType.simpleString()
    ]


def _contains_decimal(v) -> bool:
    """True if a decimal.Decimal hides anywhere in a cell value —
    recursing into list/map/struct containers (a top-level isinstance
    scan misses a Decimal nested inside a list/map cell, leaving only
    the schema-string check to catch it). pyspark Rows are tuple
    subclasses, so the sequence arm covers structs."""
    if isinstance(v, _Decimal):
        return True
    if isinstance(v, dict):
        return any(
            _contains_decimal(x) for kv in v.items() for x in kv
        )
    if isinstance(v, (list, tuple)):
        return any(_contains_decimal(x) for x in v)
    return False


def run_parity(spark, sf_dir: str, only: set[str] | None = None,
               verbose: bool = True):
    """Run the driver's gate; return (n_pass, n_fail, failures list)."""
    import __spark_entry__ as E

    qs = E.queries()
    oracles = E.oracle_sql()
    con = duck_connect(sf_dir)

    def log(msg):
        if verbose:
            print(msg)

    failures = []
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            log(f"FAIL {name}: SPARK ERROR {str(e)[:300]}")
            failures.append((name, f"spark error: {e}"))
            n_fail += 1
            continue
        dec_cols = _decimal_columns(sdf.schema)
        if dec_cols or any(
            _contains_decimal(v) for r in srows for v in r
        ):
            # Decimal-export guard: a python Decimal crossing the
            # DRIVER's hasher (it normalizes Decimal differently than
            # repr) fails ANY entry gating a decimal column. Decimal work stays in-plan; gated values leave
            # the plan as canonical strings (the split-dec
            # discipline) or doubles.
            log(f"FAIL {name}: DECIMAL EXPORT (cols {dec_cols or '-'})"
                " — gate decimals as canonical strings, not"
                " DecimalType/decimal.Decimal")
            failures.append((name, f"decimal export: {dec_cols}"))
            n_fail += 1
            continue
        if not srows:
            # vacuous-gate guard: empty==empty only proves both engines
            # agree the result is empty — a predicate bug that empties
            # BOTH sides (one shared SQL definition) would pass forever,
            # so no gated entry may return 0 rows at a gate scale
            log(f"FAIL {name}: VACUOUS (0 spark rows)")
            failures.append((name, "vacuous: 0 spark rows"))
            n_fail += 1
            continue
        if name not in oracles:
            log(f"SKIP {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c for c in rel.columns]
            drows = rel.fetchall()
        except Exception as e:
            log(f"FAIL {name}: DUCK ERROR {str(e)[:300]}")
            failures.append((name, f"duck error: {e}"))
            n_fail += 1
            continue
        sc, sr = norm_rows(scols, srows)
        dc, dr = norm_rows(dcols, drows)
        dt = time.time() - t0
        if [c.lower() for c in sc] != [c.lower() for c in dc]:
            log(f"FAIL {name}: cols {sc} vs {dc}")
            failures.append((name, f"cols {sc} vs {dc}"))
            n_fail += 1
        elif len(sr) != len(dr):
            log(f"FAIL {name}: rowcount {len(sr)} vs {len(dr)}")
            failures.append((name, f"rowcount {len(sr)} vs {len(dr)}"))
            n_fail += 1
        elif sr != dr:
            bad = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
            log(f"FAIL {name}: values differ at row {bad}:")
            log(f"   spark: {sr[bad]}")
            log(f"   duck : {dr[bad]}")
            failures.append((name, f"row {bad}: {sr[bad]} vs {dr[bad]}"))
            n_fail += 1
        else:
            log(f"PASS {name} ({len(sr)} rows, {dt:.1f}s)")
            n_pass += 1
    log(f"\n{n_pass} passed, {n_fail} failed")
    return n_pass, n_fail, failures


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from dazzleduck_sql_duckdb_spark.session import get_spark

    _, n_fail, _ = run_parity(get_spark(), sf_dir, only or None)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
