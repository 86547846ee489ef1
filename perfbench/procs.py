"""CPU and memory of this process tree, read from /proc (Linux only).

The tree is the benchmark process, the Spark driver JVM it launches and the
PySpark worker daemon with its workers. CPU of an exited child is counted
through its parent's ``cutime``/``cstime`` once the parent has reaped it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu s, reaped-children cpu s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None  # exited between listing and reading
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return comm, int(fields[1]), own, reaped


def _tree() -> dict[int, tuple[str, int, float, float]]:
    """Every live descendant of this process, this process included."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    root = os.getpid()
    keep, frontier = {root}, [root]
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)
    while frontier:
        for kid in children.get(frontier.pop(), []):
            if kid not in keep:
                keep.add(kid)
                frontier.append(kid)
    return {pid: stats[pid] for pid in keep if pid in stats}


def tree_cpu_s() -> float:
    """CPU seconds used so far by the whole tree. The benchmark's own reaped
    children (one-off tools such as ``java -version``) are left out."""
    me = os.getpid()
    return sum(
        own + (0.0 if pid == me else reaped)
        for pid, (_, _, own, reaped) in _tree().items()
    )


def python_worker_cpu_s() -> float:
    """CPU seconds of the PySpark worker daemon and its workers."""
    me = os.getpid()
    return sum(
        own + reaped
        for pid, (comm, _, own, reaped) in _tree().items()
        if pid != me and comm.startswith("python")
    )


def tree_rss_mb() -> float:
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / (1 << 20)


class Meter:
    """CPU seconds and peak summed RSS of the tree, counted only inside
    ``with meter:`` blocks, so output checks between blocks stay out."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.cpu_s = 0.0
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        while not self._stop.wait(self.period):
            if self._on.is_set():
                self._note_rss()

    def _note_rss(self) -> None:
        rss = tree_rss_mb()
        with self._lock:
            self.peak_mb = max(self.peak_mb, rss)

    def __enter__(self) -> "Meter":
        self._cpu0 = tree_cpu_s()
        self._on.set()
        return self

    def __exit__(self, *exc) -> None:
        self._on.clear()
        self._note_rss()
        self.cpu_s += tree_cpu_s() - self._cpu0

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
