"""Process-tree accounting from /proc: CPU seconds and peak RSS.

The benchmark's process tree is this Python driver, the Spark JVM it
launches, the pyspark daemon the JVM forks and the Python workers the
daemon forks.  CPU time of the whole tree is the sum, over live
members, of utime+stime plus cutime+cstime (the time of children they
already reaped, e.g. exited Python workers), so a worker that exits
between two snapshots keeps its time in its parent's counters.

Peak RSS is per run, not per process lifetime: `reset_peak` writes 5
to each member's /proc/<pid>/clear_refs, which resets VmHWM to the
current RSS, and `peak_rss_mb` sums VmHWM over the tree afterwards.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is
    # space-separated starting at field 3 (state)
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        kids.setdefault(int(f[1]), []).append(int(name))
    return kids


class ProcTree:
    """The live process tree rooted at `root` (default: this process)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        # pid -> start time (clock ticks since boot), so a recycled pid
        # is never mistaken for a process of this tree
        self.seen: dict[int, str] = {}

    def pids(self) -> list[int]:
        kids = _children_map()
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, ()))
        for pid in out:
            f = _stat_fields(pid)
            if f is not None:
                self.seen.setdefault(pid, f[19])
        return out

    def cpu_s(self) -> float:
        total = 0
        for pid in self.pids():
            f = _stat_fields(pid)
            if f is not None:
                # fields 14-17 (1-based): utime stime cutime cstime
                total += sum(int(x) for x in f[11:15])
        return total / _TICK

    def reset_peak(self) -> None:
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass  # exited meanwhile, or not ours to reset

    def peak_rss_mb(self) -> float:
        kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                pass
        return kb / 1024.0

    def wait_descendants_gone(self, timeout: float = 30.0) -> list[int]:
        """Wait until every process this tree ever contained (other
        than the root) has exited; SIGKILL stragglers at the timeout.
        Returns the pids that had to be killed."""
        self.pids()
        others = {p: t for p, t in self.seen.items() if p != self.root}
        deadline = time.monotonic() + timeout
        killed: list[int] = []
        while True:
            alive = [p for p, t in others.items() if _alive(p, t)]
            if not alive:
                return killed
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                        killed.append(p)
                    except OSError:
                        pass
                deadline = time.monotonic() + 5.0
            time.sleep(0.1)


def _alive(pid: int, start: str) -> bool:
    f = _stat_fields(pid)
    # a zombie has ended; only its parent's wait() is still pending
    return f is not None and f[19] == start and f[0] != "Z"
