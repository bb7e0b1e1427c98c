"""Host-noise bracket and process-tree memory sampler.

The benchmark host is a shared virtual machine: other guests can take CPU
from it (``steal`` in ``/proc/stat``) and sequential runs have been seen to
drift by up to 1.64x.  ``Bracket`` records the steal, busy and idle shares
of CPU time and the load average over each timed window, so a noisy run can
be told apart from a slow program.  The jiffy arithmetic is the same as
``tools/bench_scaling.py``'s ``_cpu_jiffies`` / ``_steal_stats``.

``PeakMemory`` polls ``/proc`` from a daemon thread and keeps the peak of
the summed proportional set size of this process and all its descendants
(the JVM and the Python workers Spark starts).  ``tree_cpu_s`` sums their
CPU time, which grows far less than wall time when the hypervisor steals the
CPUs.
"""

from __future__ import annotations

import os
import threading
import time


def cpu_jiffies() -> list[int] | None:
    """Aggregate user nice system idle iowait irq softirq steal jiffies."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_stats(j0: list[int] | None, j1: list[int] | None) -> dict:
    """steal/busy/idle percentages over a (j0, j1) jiffies window."""
    if not j0 or not j1:
        return {}
    d = [b - a for a, b in zip(j0, j1)]
    total = sum(d)
    if total <= 0:
        return {}
    idle = d[3] + d[4]
    steal = d[7]
    return {
        "steal_pct": round(100.0 * steal / total, 2),
        "idle_pct": round(100.0 * idle / total, 2),
        "busy_pct": round(100.0 * (total - idle - steal) / total, 2),
    }


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return []


class Bracket:
    """Host counters over one timed window: ``with Bracket() as b: ...``,
    then ``b.stats``: wall time, this process tree's CPU time, the load
    average and the host's steal/busy/idle shares."""

    def __enter__(self):
        self._j0 = cpu_jiffies()
        self._cpu0 = tree_cpu_s(os.getpid())
        self._t0 = time.perf_counter()
        self.stats: dict = {}
        return self

    def __exit__(self, *exc):
        self.stats = {
            "wall_s": time.perf_counter() - self._t0,
            "cpu_s": tree_cpu_s(os.getpid()) - self._cpu0,
            "loadavg": loadavg(),
            **steal_stats(self._j0, cpu_jiffies()),
        }
        return False


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                kids.extend(int(x) for x in fh.read().split())
        except (OSError, ValueError):
            continue
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between processes (the forked
    Python workers) are split between them instead of counted in each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    return sum(_pss_bytes(p) for p in [root, *descendants(root)])


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime: the process's CPU time plus that of
    the children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])
    except (OSError, ValueError, IndexError):
        return 0


def tree_cpu_s(root: int) -> float:
    ticks = sum(_cpu_ticks(p) for p in [root, *descendants(root)])
    return ticks / os.sysconf("SC_CLK_TCK")


class PeakMemory:
    """Peak summed resident memory (PSS) of this process tree, polled every
    ``interval_s``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; terminate the ones still running
    after ``timeout`` seconds, then wait for those too."""
    import signal

    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().split(")")[-1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(alive(p) for p in pids):
        time.sleep(0.1)
