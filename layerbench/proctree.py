"""CPU, memory and bytes written by this benchmark's process tree.

The engine runs as three kinds of process: the Python driver, the JVM
it launches, and the Python UDF workers the JVM forks.  CPU seconds are
summed over every descendant of this process, read from /proc.  The CPU
of children that already exited is included through their parents'
cutime/cstime fields, so a worker that ends between two readings is not
lost.  Resident memory is summed over the driver and the JVM: how many
UDF workers are alive at a moment depends on how Spark's concurrent
tasks happened to interleave (an idle worker lives on for a minute), so
their summed memory jumps by gigabytes between identical runs.  A child
that still carries its parent's name is a fork that has not yet called
exec; it reports its parent's pages as its own and is not counted.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stats() -> dict[int, tuple[int, int, int, str]]:
    "pid -> (ppid, CPU ticks including reaped children, resident pages, name)."
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                data = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # fields after "comm)" start at field 3 (state): ppid is field 4,
        # utime..cstime are fields 14-17 and rss is field 24
        rest = data[data.rindex(")") + 2 :].split()
        out[int(name)] = (
            int(rest[1]),
            sum(int(x) for x in rest[11:15]),
            int(rest[21]),
            data[data.index("(") + 1 : data.rindex(")")],
        )
    return out


def _tree(stats: dict[int, tuple[int, int, int, str]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in stats.items():
        children.setdefault(ppid, []).append(pid)
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            pids.append(pid)
        stack.extend(children.get(pid, ()))
    return pids


def tree_cpu_s() -> float:
    "CPU seconds used so far by this process and all its descendants."
    stats = _read_stats()
    return sum(stats[p][1] for p in _tree(stats, os.getpid())) / _CLK


def engine_rss_mb() -> float:
    """Summed resident memory of this process and its descendants other
    than Python UDF workers (the JVM and its launcher), in MB."""
    stats = _read_stats()
    root = os.getpid()

    def counted(pid: int) -> bool:
        ppid, _, _, name = stats[pid]
        parent = stats.get(ppid)
        return not name.startswith("python") and not (parent and parent[3] == name)

    return sum(
        stats[p][2] for p in _tree(stats, root) if p == root or counted(p)
    ) * _PAGE / 1e6


class PeakRss:
    """Samples engine_rss_mb on a thread while the block runs.  After
    exit ``peak_mb`` holds the highest level seen in two consecutive
    samples: a level one sample saw and the next did not is a process
    caught for an instant, such as a child that shares its parent's
    memory until it calls exec, and is not counted."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0

    def __enter__(self) -> "PeakRss":
        self._last = self.peak_mb = engine_rss_mb()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def _record(self) -> None:
        now = engine_rss_mb()
        self.peak_mb = max(self.peak_mb, min(now, self._last))
        self._last = now

    def _sample(self) -> None:
        while not self._stop.wait(self.interval):
            self._record()

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._record()


def dir_bytes(root: str) -> int:
    "Summed size of every regular file under root."
    total = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total
