"""Host facts read from /proc and /sys: CPUs, memory, steal, process-tree RSS."""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time
from pathlib import Path

PAGE = os.sysconf("SC_PAGE_SIZE")
PR_SET_CHILD_SUBREAPER = 36


def online_cpus() -> int:
    """CPUs the kernel has online (/sys/devices/system/cpu/online, e.g. "0-3,6")."""
    try:
        spec = Path("/sys/devices/system/cpu/online").read_text().strip()
    except OSError:
        return os.cpu_count() or 1
    n = 0
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        n += int(hi or lo) - int(lo) + 1
    return n


def usable_cpus() -> int:
    """CPUs this process may run on; `taskset` lowers it without telling Spark."""
    return min(online_cpus(), len(os.sched_getaffinity(0)))


def mem_total_bytes() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat
    (user nice system idle iowait irq softirq steal ...)."""
    first = Path("/proc/stat").read_text().splitlines()[0].split()
    return [int(v) for v in first[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two cpu_times() reads."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process, from /proc/<pid>/stat
    (/proc/<pid>/task/*/children needs CONFIG_PROC_CHILDREN, often off)."""
    out: dict[int, int] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            # the command name may hold spaces and parentheses
            fields = stat.read_text().rpartition(")")[2].split()
        except OSError:
            continue
        out[int(stat.parent.name)] = int(fields[1])
    return out


def _children(pid: int, parents: dict[int, int] | None = None) -> list[int]:
    return [c for c, p in (parents or _parents()).items() if p == pid]


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of `root` and every descendant (the Python driver,
    its Spark JVM and the JVM's Python workers)."""
    parents = _parents()
    total = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
        stack.extend(_children(pid, parents))
    return total


class RssSampler:
    """Samples tree_rss_bytes(os.getpid()) on a daemon thread; .peak is the
    largest sample. Use as a context manager so the thread always stops."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so that
    end_children() can wait for them too (PySpark's worker daemon outlives
    its JVM by a moment)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_children(grace_s: float = 10.0) -> list[int]:
    """Return once every child of this process (adopted orphans included)
    has ended and been reaped. The multiprocessing resource tracker is told
    to stop; the others get grace_s to exit by themselves, then SIGTERM,
    then SIGKILL. Returns the pids that had to be signalled."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()  # it ignores SIGTERM
    me, signalled, sig = os.getpid(), [], None
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        kids = _children(me)
        if not kids:
            return signalled
        if time.monotonic() > deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            signalled += [k for k in kids if k not in signalled]
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)
