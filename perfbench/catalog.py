"""corpus_dedup: catalog entries run through `__spark_entry__.queries()`,
each executed with a noop write.

Outputs are checked in the untimed verification pass against result
hashes computed by DuckDB from the catalog's `oracle_sql()` and stored
in expected.json (see make_expected.py); the engine never produces its
own expected values.
"""

from __future__ import annotations

import hashlib
import json
import os

import bench
from tracing import JOB_FIELDS, adder

# The dedup family of the roadmap's headline bench (see README.md for why
# the other corpus entries are left out). A change to bench.py's list
# must not silently change the workload.
CORPUS_DEDUP = [n for n in bench.BENCH_QUERIES if n.startswith("dedup_")]
if len(CORPUS_DEDUP) != 6:
    raise RuntimeError("bench.BENCH_QUERIES changed; update perfbench/catalog.py")

# Per-query operator spans reported in the traced corpus_dedup run.
OPERATOR_QUERIES = (
    "dedup_minhash_lsh", "dedup_components", "dedup_canonical_corpus",
    "dedup_simhash",
)
# Their builders end in localCheckpoint lineage cuts; a JVM GC lets the
# ContextCleaner drop the checkpoint blocks before the next query (the
# same hygiene bench.py applies between queries).
_GC_AFTER = ("dedup_components", "dedup_canonical_corpus")

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def result_hash(columns, rows) -> str:
    """Order-insensitive hash of a result, normalised as the repository's
    parity gate does (tools/check_parity.py): columns sorted by name,
    cells rendered with repr, rows sorted."""
    from tools.check_parity import norm_rows

    cols, norm = norm_rows([c.lower() for c in columns], rows)
    return hashlib.sha256(json.dumps([cols, norm]).encode()).hexdigest()


def load_expected(sf_name: str) -> dict[str, str]:
    with open(EXPECTED) as f:
        table = json.load(f)
    if sf_name not in table:
        raise SystemExit(
            f"no expected results for {sf_name} in {EXPECTED};"
            " run perfbench/make_expected.py"
        )
    return table[sf_name]


class CatalogWorkload:
    """One op is one catalog entry: build its DataFrame, then execute it."""

    def __init__(self, run):
        import __spark_entry__ as entry

        self.names = CORPUS_DEDUP
        self.run = run
        self.queries = entry.queries()
        self.expected = load_expected(run.sf_name)
        missing = [n for n in self.names if n not in self.expected]
        if missing:
            raise SystemExit(f"expected.json lacks {missing}")

    def register(self) -> None:
        from dazzleduck_sql_duckdb_spark import functions
        from dazzleduck_sql_duckdb_spark.session import load_tables

        load_tables(self.run.spark, self.run.sf_dir)
        functions.register_all(self.run.spark)

    def close(self) -> None:
        pass  # the session's teardown releases everything this workload holds

    def _hygiene(self, name: str) -> None:
        spark = self.run.spark
        spark.catalog.clearCache()
        if name in _GC_AFTER:
            spark.sparkContext._jvm.System.gc()

    def verify(self) -> None:
        """Untimed pass: every op collected and compared with DuckDB."""
        run = self.run
        for name in self.names:
            ok = False
            try:
                df = self.queries[name](run.spark, run.sf_dir)
                ok = result_hash(df.columns, df.collect()) == self.expected[name]
                if not ok:
                    run.log(f"WRONG RESULT {name}")
            except Exception as e:  # noqa: BLE001 - one failed op must not end the run
                run.log(f"FAILED {name}: {type(e).__name__}: {e}")
            run.count_op(ok)
            self._hygiene(name)

    def run_pass(self, traced: bool) -> dict:
        """One timed pass over every op; returns wall and CPU seconds
        summed over ops, and per-layer counters when traced."""
        run = self.run
        wall = cpu = 0.0
        layers: dict[str, float] = {}
        for name in self.names:
            ok = False
            cpu0 = run.tree_cpu_s()
            try:
                if traced:
                    dt = self._traced_op(name, layers)
                else:
                    t0 = run.clock()
                    df = self.queries[name](run.spark, run.sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    dt = run.clock() - t0
                ok = True
            except Exception as e:  # noqa: BLE001 - one failed op must not end the run
                run.log(f"FAILED {name}: {type(e).__name__}: {e}")
            cpu += run.tree_cpu_s() - cpu0
            run.count_op(ok)
            if ok:
                wall += dt
            self._hygiene(name)
        return {"wall_s": wall, "cpu_s": cpu, "layers": layers}

    def _traced_op(self, name: str, layers: dict[str, float]) -> float:
        run = self.run
        tr, stats = run.tracer, run.job_stats
        py0 = run.python_cpu_s()
        with tr.span("op", op=name) as op:
            group = stats.begin()
            with tr.span("plans.build") as build:
                df = self.queries[name](run.spark, run.sf_dir)
            build_jobs = stats.collect(group)["jobs"]
            persist_mb = stats.storage_mb()
            group = stats.begin()
            with tr.span("catalyst.plan") as plan:
                df._jdf.queryExecution().executedPlan()
            with tr.span("exec.run") as execute:
                df.write.format("noop").mode("overwrite").save()
            stats.end()
        ex = stats.collect(group)
        build_s, exec_s = tr.seconds(build), tr.seconds(execute)
        add = adder(layers)
        add("plans.build_s", build_s)
        add("plans.build_jobs", build_jobs)
        add("catalyst.plan_s", tr.seconds(plan))
        add("exec.run_s", exec_s)
        for k in JOB_FIELDS:
            add(f"exec.{k}", ex[k])
        add("operators.python_cpu_s", run.python_cpu_s() - py0)
        add("operators.persist_mb", persist_mb)
        if name in OPERATOR_QUERIES:
            add(f"operators.{name}.build_s", build_s)
            add(f"operators.{name}.run_s", exec_s)
        return tr.seconds(op)
