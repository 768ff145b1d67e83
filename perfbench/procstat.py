"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark process and every descendant: the Spark JVM,
its Python daemon and the Python workers.  CPU time counts ``cutime`` and
``cstime`` too, so a child that exited and was reaped inside a window still
counts.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields after the command name."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process exited while we listed
            continue
        # fields after "pid (comm)"; comm may itself contain ')'
        out[int(name)] = raw.rsplit(")", 1)[1].split()
    return out


def _tree(stats: dict[int, list[str]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    """Every live descendant of this process."""
    return [p for p in _tree(_stats(), os.getpid()) if p != os.getpid()]


def cpu_seconds() -> float:
    """utime + stime (+ reaped children's) over the tree, in seconds."""
    stats = _stats()
    pids = _tree(stats, os.getpid())
    # fields 14-17 of stat: utime stime cutime cstime (index 11-14 here)
    ticks = sum(sum(int(x) for x in stats[p][11:15]) for p in pids)
    return ticks / _TICK


def _pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:  # exited, or no smaps_rollup on this kernel
        pass
    return 0.0


def resident_mb() -> dict[str, float]:
    """Resident memory of the tree in MiB, as the sum of each process's
    proportional set size: a page shared by N processes counts 1/N in each,
    so the forked Python workers do not count the daemon's pages again.
    Split into this process ('main'), Java processes ('jvm') and the
    rest ('workers')."""
    root = os.getpid()
    stats = _stats()
    out = {"main": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid in _tree(stats, root):
        kind = ("main" if pid == root
                else "jvm" if _comm(pid) == "java"
                else "workers")
        out[kind] += _pss_mb(pid)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs), seconds."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


class Window:
    """Measures CPU seconds and peak tree resident memory between ``start``
    and ``stop``; memory is sampled on a background thread every
    ``period`` s."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.cpu_s = 0.0
        self.steal_s = 0.0
        self.peak_rss_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0 = 0.0

    def _sample(self) -> None:
        while not self._stop.wait(self.period):
            self._take()

    def _take(self) -> None:
        parts = resident_mb()
        if sum(parts.values()) > self.peak_rss_mb:
            self.peak_rss_mb = sum(parts.values())
            self.peak_parts = parts

    def start(self) -> None:
        self._take()
        self._cpu0 = cpu_seconds()
        self._steal0 = steal_seconds()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._take()
        self.cpu_s = cpu_seconds() - self._cpu0
        self.steal_s = steal_seconds() - self._steal0


def wait_gone(pid: int, timeout: float) -> bool:
    """Wait until ``pid`` no longer exists (or is a zombie)."""
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                    return True
        except OSError:
            return True
        time.sleep(0.05)
    return False
