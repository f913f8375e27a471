#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 12 --trace 0

Workloads (see README.md): corpus_dedup and remote_scan. The session
runs `local[<nproc>]`.
The run first sets up (session, table registration, server, one untimed
verification pass whose every output is checked against DuckDB), then
makes a number of timed passes set by --seconds and reports medians
over them.

With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 it holds the per-layer metrics, taken from traced passes that
alternate with untraced ones, and the spans go to
.perfbench/trace-<workload>-seed<seed>.json.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")
DATA_DIR = "/root/testdata"  # where TESTDATA.md's tables live

WORKLOADS = ("corpus_dedup", "remote_scan")
# Seconds one timed pass takes on 4 cores. The pass count of a run is
# fixed from --seconds and this figure, not from the clock: the JVM keeps
# compiling for several passes, so a run that stopped on the clock would
# measure a slow run earlier in that warm-up than a fast one.
NOMINAL_PASS_S = {"corpus_dedup": 10.0, "remote_scan": 3.0}
MIN_PASSES = 2
DRIVER_MEMORY = "3g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "success_frac": "ratio",
}

_JOBS = ("jobs", "stages", "tasks")
PER_LAYER = {
    "session.start_s": "s",
    "session.register_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.run_s": "s",
    **{f"exec.{k}": "count" for k in _JOBS},
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "operators.python_cpu_s": "s",
    "operators.persist_mb": "MB",
    **{
        f"operators.{q}.{phase}_s": "s"
        for q in ("dedup_minhash_lsh", "dedup_components",
                  "dedup_canonical_corpus", "dedup_simhash")
        for phase in ("build", "run")
    },
    "sources.probe_s": "s",
    "sources.plan_fetch_s": "s",
    "sources.splits": "count",
    "sources.requests": "count",
    "sources.batches": "count",
    "sources.fetch_decode_s": "s",
    "sources.row_convert_s_derived": "s",
    "sources.dsv2_run_s": "s",
    "sources.bulk_p50_s": "s",
    "sources.pushdown_p50_s": "s",
    "sources.point_p50_s": "s",
    "sources.wire_mb": "MB",
    "server.query_s": "s",
    "server.cpu_s": "s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run, shared by the workload code."""

    clock = staticmethod(time.perf_counter)
    log = staticmethod(log)

    def __init__(self, args):
        from tracing import Tracer

        self.root = ROOT
        self.seed = args.seed
        self.sf_name = args.sf
        self.sf_dir = os.path.join(args.data_dir, self.sf_name)
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.job_stats = None
        self.attempted = 0
        self.failed = 0

    def count_op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def tree_cpu_s(self) -> float:
        import procstat

        return procstat.tree_cpu_s(os.getpid())

    def python_cpu_s(self) -> float:
        import procstat

        return procstat.cpu_s(procstat.python_workers(os.getpid()))


def start_session(tmp: str):
    from dazzleduck_sql_duckdb_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM and Python workers to exit."""
    import procstat
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_tree = [pid for pid, _ in procstat.tree(gateway.proc.pid)]
    try:
        spark.stop()
        gateway.shutdown()
    except Py4JError as e:
        # a signal that interrupted a py4j call leaves the gateway unusable
        log(f"Spark did not stop cleanly: {e}")
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    procstat.wait_gone(jvm_tree)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(run: Run, wl, n_passes: int, trace: bool) -> dict:
    """`n_passes` timed passes. With tracing, untraced and traced passes
    alternate, at least MIN_PASSES of each, so both kinds are measured
    in one process."""
    plain, traced = [], []
    for i in range(max(n_passes, 2 * MIN_PASSES) if trace else n_passes):
        is_traced = trace and i % 2 == 1
        res = wl.run_pass(is_traced)
        (traced if is_traced else plain).append(res)
        run.log(f"pass {i} {'traced' if is_traced else 'untraced'}"
                f" {res['wall_s']:.3f}s cpu {res['cpu_s']:.2f}s")
    return {"plain": plain, "traced": traced}


def end_to_end(run: Run, passes: list[dict], setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "pass_s": median([p["wall_s"] for p in passes]),
        "pass_cpu_s": median([p["cpu_s"] for p in passes]),
        "success_frac": (run.attempted - run.failed) / max(1, run.attempted),
    }


def per_layer(session: dict, plain: list[dict], traced: list[dict]) -> dict:
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(session)
    keys = {k for p in traced for k in p["layers"]}
    for k in keys:
        out[k] = median([p["layers"].get(k, 0.0) for p in traced])
    for kind in ("bulk", "pushdown", "point"):
        xs = [p["by_kind"][kind] for p in plain if kind in p.get("by_kind", {})]
        if xs:
            out[f"sources.{kind}_p50_s"] = median(xs)
    if any("sources.wire_mb" in p["layers"] for p in plain):
        out["sources.wire_mb"] = median([p["layers"]["sources.wire_mb"] for p in plain])
    out["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - median(
        [p["wall_s"] for p in plain]
    )
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"per-layer metrics not declared: {sorted(unknown)}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", default=DATA_DIR,
                    help="directory holding the sf* testdata tables (TESTDATA.md)")
    ap.add_argument("--sf", default="sf0.1", help="scale directory under --data-dir")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401  - the engine under test
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2

    os.makedirs(OUT_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="tmp-", dir=OUT_DIR)
    # Python workers must import the engine (Python data sources fail
    # with ModuleNotFoundError otherwise); every temp file stays in tmp.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = tmp
    run = Run(args)
    # a run stopped with SIGTERM unwinds, so the clean-up below still
    # stops Spark and the server and removes tmp
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    with contextlib.ExitStack() as cleanup:
        # callbacks run last-registered first, each even if another fails
        cleanup.callback(shutil.rmtree, tmp, ignore_errors=True)
        if args.workload == "remote_scan":
            from remote import RemoteWorkload

            wl = RemoteWorkload(run)
        else:
            from catalog import CatalogWorkload

            wl = CatalogWorkload(run)
        cleanup.callback(wl.close)
        tr = run.tracer
        with tr.span("session.start") as start_span:
            run.spark = start_session(tmp)
        cleanup.callback(stop_session, run.spark)
        from tracing import JobStats

        run.job_stats = JobStats(run.spark)
        with tr.span("session.register") as register_span:
            wl.register()
        with tr.span("verify"):
            wl.verify()
        setup_s = run.clock() - T0
        log(f"setup {setup_s:.2f}s, verification {run.attempted - run.failed}/{run.attempted} correct")
        n_passes = max(MIN_PASSES, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        passes = measure(run, wl, n_passes, bool(args.trace))
        import procstat

        # Reported in the trace file only: the JVM's share of it follows
        # G1's heap sizing and spread 9-14% across identical runs.
        peak_rss_mb = procstat.peak_rss_mb(os.getpid())

    e2e = end_to_end(run, passes["plain"], setup_s)
    if args.trace:
        session = {
            "session.start_s": tr.seconds(start_span),
            "session.register_s": tr.seconds(register_span),
        }
        metrics, units = per_layer(session, passes["plain"], passes["traced"]), PER_LAYER
        traced_e2e = end_to_end(run, passes["traced"], setup_s)
        path = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
        run.tracer.write(path, {
            "workload": args.workload, "seed": args.seed, "sf": run.sf_name,
            "untraced_end_to_end": e2e, "traced_end_to_end": traced_e2e,
            "peak_rss_mb": peak_rss_mb,
            "per_layer": metrics,
        })
        log(f"spans written to {path}")
    else:
        metrics, units = e2e, END_TO_END
    samples = {"setup_s": 1, "session.start_s": 1, "session.register_s": 1,
               "success_frac": run.attempted}
    n = len(passes["traced" if args.trace else "plain"])
    for name, value in metrics.items():
        print(f"{name:40s} {value:14.6f} {units[name]:6s} samples={samples.get(name, n)}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
