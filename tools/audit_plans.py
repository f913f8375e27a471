#!/usr/bin/env python3
"""Physical-plan audit across the whole catalog.

For every `queries()` entry, print one line of the plan properties that
decide 100 TB viability: join strategies, exchange count, Python
evaluation, Generate nodes, and scan column pruning. Run after adding
or changing operators to catch plan regressions the value-gate cannot
see (a correct-but-cartesian plan hashes identically).

    python3 tools/audit_plans.py [sf_dir]          # table to stdout

Exits 1 when a plan is flagged, and 2, before Spark starts, when
sf_dir is not a directory or another argument is given.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

JOIN_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)"
)

# SortMergeJoin-by-design allowlist (SMJ on compact keys is exactly
# what survives 100x; the executable claim is "0 SMJ REGRESSIONS": any SMJ
# appearing OUTSIDE this list fails the audit, so a planner or code
# change that silently demotes a broadcast join to a shuffle join is
# loud). entry -> why SMJ is the scale-correct strategy there.
SMJ_BY_DESIGN = {
    "bucketed_join_rollup": (
        "co-bucketed zero-exchange join IS an SMJ (bucket layout"
        " makes the sort+merge exchange-free)"
    ),
    "nation_presence_full_join": (
        "FULL OUTER cannot broadcast; SMJ is Spark's only strategy"
    ),
    "dedup_canonical_corpus": (
        "pointer-doubling self-joins on 8-byte cluster keys — the"
        " scale-correct join for a corpus-sized table on both sides"
    ),
    "dedup_components": (
        "same pointer-doubling kernel as dedup_canonical_corpus;"
        " the in-loop joins execute eagerly behind localCheckpoint"
        " lineage cuts, so the RETURNED plan shows no joins at all"
        " at audit scale — see NO_SMJ_AT_AUDIT below for the teeth"
    ),
    # NB dedup_components is ALSO in NO_SMJ_AT_AUDIT below: its
    # allowlist row documents production-scale behavior only.
    "events_activity_range_join": (
        "range join on a corpus-sized build side; sorted merge over"
        " the bucketized range keys"
    ),
    "embed_ann_ivfpq_recall": (
        "recall self-differential joins two corpus-sized rankings"
        " on 8-byte (doc_id, rank) keys"
    ),
    "embed_ann_ivf_probed": (
        "per-query differential: probed-vs-exact rankings join"
        " on 16-byte (qid, vec_id) keys — corpus-sized on both"
        " sides at production query volume, same class as"
        " embed_ann_ivfpq_recall"
    ),
    "embed_ann_ivfpq": (
        "per-query differential: same probed-vs-exact ranking"
        " join class as embed_ann_ivf_probed (plus the PQ rerank"
        " fetch join inside ann_ivfpq_topk)"
    ),
}


# An allowlist entry that never fires can mask a
# future regression elsewhere in that plan. Entries here are
# SMJ-by-design ONLY at production scale; at audit scale their
# RETURNED plan must contain no SortMergeJoin (dedup_components'
# pointer-doubling joins run eagerly behind localCheckpoint lineage
# cuts and its AQE broadcasts happen inside the loop, invisible to
# this audit), so any SMJ that appears here is flagged loudly
# instead of being absorbed by the documentation row above.
NO_SMJ_AT_AUDIT = {"dedup_components"}


def main() -> int:
    from check_parity import check_args

    check_args(sys.argv[1:], __doc__, names=False)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as E
    from dazzleduck_sql_duckdb_spark.session import get_spark

    spark = get_spark(app_name="plan_audit")
    qs = E.queries()
    hdr = (f"{'query':38} {'joins':28} {'exch':>4} {'py':>3} {'gen':>3}"
           f" {'smj':>10}  scans(read cols)")
    print(hdr)
    print("-" * len(hdr))
    flagged = []
    for name in sorted(qs):
        try:
            df = qs[name](spark, sf_dir)
            p = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # pragma: no cover - audit tool
            print(f"{name:38} ERROR {type(ex).__name__}")
            continue
        joins = [m.group(1) for m in JOIN_RE.finditer(p)]
        jshort = ",".join(
            f"{k}x{joins.count(k)}"
            for k in dict.fromkeys(joins)
        ).replace("BroadcastHashJoin", "BHJ").replace(
            "SortMergeJoin", "SMJ"
        ).replace("ShuffledHashJoin", "SHJ").replace(
            "BroadcastNestedLoopJoin", "BNLJ"
        ).replace("CartesianProduct", "CARTESIAN")
        n_exch = p.count("Exchange ")
        py = "Y" if "EvalPython" in p or "ArrowEvalPython" in p or "MapInPandas" in p else "-"
        gen = "Y" if "Generate" in p else "-"
        reads = [
            len(m.group(1).split(","))
            for m in re.finditer(r"ReadSchema: struct<([^>]*)>", p)
        ]
        scans = "+".join(str(r) for r in reads) or "-"
        n_smj = joins.count("SortMergeJoin")
        if n_smj == 0:
            smj_col = "-"
        elif name in SMJ_BY_DESIGN and name not in NO_SMJ_AT_AUDIT:
            smj_col = "by-design"
        else:
            smj_col = "REGRESSION"
            why = (
                "SMJ in a plan that must show none at audit scale"
                if name in NO_SMJ_AT_AUDIT
                else "SortMergeJoin not in SMJ_BY_DESIGN"
            )
            flagged.append((name, f"SMJ regression ({n_smj} {why})"))
        print(f"{name:38} {jshort or '-':28} {n_exch:>4} {py:>3} {gen:>3}"
              f" {smj_col:>10}  {scans}")
        if "CartesianProduct" in p:
            flagged.append((name, "CartesianProduct"))
    if flagged:
        print("\nFLAGGED:")
        for name, why in flagged:
            print(f"  {name}: {why}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
