"""CPU time and memory of a process tree, read from /proc (Linux only).

The engine under test spans several processes: the benchmark's Python
process, the JVM it launches, the pyspark daemon and its forked Python workers, and
(for remote_scan) the Arrow HTTP server process. Every figure here is
summed over the tree rooted at the benchmark's own process.
"""

from __future__ import annotations

import os
import signal
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields start after its ')'
    return s[s.rindex(")") + 2 :].split()


def tree(root: int) -> list[tuple[int, list[str]]]:
    """(pid, stat fields) of `root` and every live descendant."""
    children: dict[int, list[tuple[int, list[str]]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append((int(name), fields))
    root_fields = _stat_fields(root)
    if root_fields is None:
        return []
    out = [(root, root_fields)]
    stack = [root]
    while stack:
        for pid, fields in children.get(stack.pop(), []):
            out.append((pid, fields))
            stack.append(pid)
    return out


def cpu_s(procs: list[tuple[int, list[str]]]) -> float:
    """User+system CPU seconds, including reaped children (cutime/cstime),
    so work of a worker that exited between two readings is not lost."""
    return sum(
        int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for _, f in procs
    ) / _CLK


def tree_cpu_s(root: int) -> float:
    return cpu_s(tree(root))


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_workers(root: int) -> list[tuple[int, list[str]]]:
    """The pyspark daemons and the Python workers they fork (UDFs, Python
    data source planning and reads), all started as `python -m pyspark.*`.
    (The JVM's command line also names pyspark, as `pyspark-shell`.)"""
    return [
        (pid, f) for pid, f in tree(root) if " -m pyspark." in cmdline(pid)
    ]


def peak_rss_mb(root: int) -> float:
    """Sum over the live tree of each process's RSS high-water mark
    (VmHWM). Reading the kernel's per-process peak instead of sampling
    the sum makes the figure independent of a sampling period."""
    total_kb = 0
    for pid, _ in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited (or is a zombie); SIGKILL what is
    left after `timeout` seconds."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if (_stat_fields(p) or ["Z"])[0] != "Z"]
        if alive and time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)
