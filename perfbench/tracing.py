"""In-memory spans and Spark job counters for the traced run.

Spans are recorded by the benchmark around its own calls into the
engine (name, start, end, parent, op); nothing inside the engine is
instrumented. They are written once, when the run ends.

Job counters come from Spark's status store, which the engine's
session keeps even with the UI disabled.
"""

from __future__ import annotations

import contextlib
import json
import time

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """Record a span around the block; yields the span record (None
        when tracing is off), whose "end" is set when the block exits."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "parent": parent, "op": op,
             "start": time.perf_counter(), "end": None}
        )
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    @staticmethod
    def seconds(span: dict) -> float:
        return span["end"] - span["start"]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part its
        children cover. Spans of one thread nest, so children's
        durations do not overlap and subtracting their sum is exact."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = (
                    child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {**extra, "self_s": self.self_times(), "spans": self.spans},
                f,
                indent=1,
            )


class JobStats:
    """Jobs, stages, tasks and task metrics of the jobs run under one
    Spark job group, read from the status store."""

    FIELDS = (
        "jobs", "stages", "tasks", "task_cpu_s", "gc_s",
        "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
        "widest_stage_tasks", "widest_stage_run_s",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0

    def begin(self) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def collect(self, group: str) -> dict[str, float]:
        # events reach the status store through an asynchronous bus
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = dict.fromkeys(self.FIELDS, 0.0)
        stage_ids: set[int] = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            out["jobs"] += 1
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # the store already dropped this stage
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            if st.numCompleteTasks() > out["widest_stage_tasks"]:
                out["widest_stage_tasks"] = st.numCompleteTasks()
                out["widest_stage_run_s"] = st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["input_mb"] += st.inputBytes() / 2**20
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            ) / 2**20
        return out

    def storage_mb(self) -> float:
        """Bytes the block manager holds for persisted RDDs and views."""
        return sum(
            r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo()
        ) / 2**20


JOB_FIELDS = (
    "jobs", "stages", "tasks", "task_cpu_s", "gc_s", "input_mb",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


def adder(layers: dict[str, float]):
    """Accumulate per-op values into one pass's per-layer totals."""

    def add(key: str, value: float) -> None:
        layers[key] = layers.get(key, 0.0) + value

    return add
