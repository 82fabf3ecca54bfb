"""Host context for every record, and the sampled peak memory metric.

The context (cpu count, load averages, a fixed calibration timing) rides
along in each record so that records from different hosts or busy windows
can be told apart. None of it is a metric or a normaliser.
"""

from __future__ import annotations

import os
import threading
import time


def calibration_s() -> float:
    """Median of five seeded 768x768 float64 matmuls: a code-independent
    host-speed sample (the idea of bench.py's host calibration, sized to
    take well under a second)."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.standard_normal((768, 768))
    b = rng.standard_normal((768, 768))
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        (a @ b).sum()
        times.append(time.perf_counter() - t0)
    return sorted(times)[2]


def context() -> dict:
    return {
        "nproc": os.cpu_count(),
        "sched_cpus": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "calibration_s": calibration_s(),
    }


def _proc_table() -> tuple[dict[int, list[int]], dict[int, tuple]]:
    """(children by parent pid, (command, PSS bytes, executable) by pid)
    from /proc. PSS splits pages shared between processes among them, so a
    forked child is not counted twice."""
    children: dict[int, list[int]] = {}
    mem: dict[int, tuple] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/smaps_rollup") as f:
                kb = next(int(line.split()[1]) for line in f
                          if line.startswith("Pss:"))
            exe = os.readlink(f"/proc/{name}/exe")
        except (FileNotFoundError, ProcessLookupError, PermissionError,
                StopIteration):
            continue  # exited between listdir and open, or a kernel thread
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        mem[pid] = (stat[stat.find("(") + 1:stat.rfind(")")], kb * 1024, exe)
    return children, mem


def _tree(root: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    return _tree(root, _proc_table()[0])[1:]


def _tree_memory(root: int) -> dict[str, int]:
    """Memory of `root` and all its descendants by command name, read from
    /proc at one instant (so the peak of their sum is a true simultaneous
    peak, not a sum of per-process high-water marks)."""
    children, mem = _proc_table()
    parent = {c: p for p, cs in children.items() for c in cs}
    out: dict[str, int] = {}
    for pid in _tree(root, children):
        if pid not in mem:
            continue
        name, b, exe = mem[pid]
        # the JVM launches processes with vfork: until the child execs it
        # shares the JVM's address space (same executable, named after the
        # launching thread), and its PSS would count the JVM a second time
        up = mem.get(parent.get(pid))
        if up is not None and up[2] == exe and up[0] != name:
            continue
        out[name] = out.get(name, 0) + b
    return out


class PeakRss:
    """Samples the process tree's memory (PSS) every `period_s` on a daemon
    thread; `peak_mb` is the highest simultaneous total seen."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts = _tree_memory(me)
            total = sum(parts.values())
            if total > self.peak:
                self.peak = total
                self.peak_parts = {k: v / 2**20 for k, v in parts.items()}
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
