"""/proc readers: CPU and resident memory of the Spark JVM and its
Python workers, and host steal and load.

In local mode the JVM is the driver and every executor; the PySpark
daemon and its forked Python workers are its descendants. CPU of the
tree is the sum over live descendants of utime + stime + cutime +
cstime: a worker that exited and was reaped is counted once, in its
parent's cutime/cstime.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may contain spaces; everything after the last ')'
    # is space-separated, starting at field 3 (state).
    return raw[raw.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    kids = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def tree_cpu_s(root: int) -> dict[str, float]:
    """CPU seconds (user + sys, own + reaped children) of the JVM
    itself and of its Python descendants, separately."""
    jvm = py = 0.0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        # fields 14..17 (utime, stime, cutime, cstime) → index 11..14
        ticks = sum(int(x) for x in f[11:15]) / CLK_TCK
        if pid == root:
            jvm += ticks
        else:
            py += ticks
    return {"jvm": jvm, "python": py}


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def resident_mb(root: int) -> float:
    """Resident memory of the JVM plus its descendants. The forked
    Python workers share copy-on-write pages with the PySpark daemon,
    so they are counted by proportional set size (Pss); the JVM, which
    shares nothing with them, by its resident set (cheap to read,
    unlike the JVM's own smaps)."""
    total_kb = 0
    for pid in process_tree(root):
        if pid == root:
            f = _stat_fields(pid)
            total_kb += int(f[21]) * PAGE_KB if f else 0  # field 24: rss in pages
        else:
            total_kb += _pss_kb(pid)
    return total_kb / 1024.0


class RssSampler:
    """Background thread that samples ``resident_mb`` while ``armed``
    and keeps the peak. One sample reads a few /proc files, about 10 ms
    of one core every ``period_s``."""

    def __init__(self, root: int, period_s: float = 0.2):
        self.root = root
        self.period_s = period_s
        self.peak_mb = 0.0
        self.armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            if self.armed.is_set():
                self.peak_mb = max(self.peak_mb, resident_mb(self.root))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already included in user/nice.
    total = sum(vals[:8])
    return vals[7], total


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return (after[0] - before[0]) / dt if dt > 0 else 0.0


def calib_gemm_s() -> float:
    """Host speed probe: the best of five timings of a fixed
    single-threaded float64 GEMM (256³). Steal does not show when the
    host's other tenants share this core's caches or sibling thread;
    this probe does, so a slow host can be told apart from a slow
    program."""
    import numpy as np

    a = np.random.default_rng(0).random((256, 256))
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(10):
            a @ a
        best = min(best, time.perf_counter() - t0)
    return best


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")
