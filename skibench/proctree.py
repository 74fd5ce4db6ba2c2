"""CPU time and resident memory of a process tree, read from ``/proc``.

The driver JVM is a child of this Python process and the Spark Python
workers are children of the JVM, so the tree rooted at this process holds
every process that does the program's work.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.5      # how often the meter reads the tree's resident memory


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(parent pid, CPU seconds, resident bytes) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:         # the process exited between listing and reading
        return None
    # fields[0] is field 3 (state) of proc(5): ppid is 4, utime 14,
    # stime 15, rss 24
    return (int(fields[1]), (int(fields[11]) + int(fields[12])) / _TICK,
            int(fields[21]) * _PAGE)


def tree(root: int | None = None) -> dict[int, tuple[float, int]]:
    """pid -> (CPU seconds, resident bytes) for ``root`` and descendants."""
    root = root or os.getpid()
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


class Meter:
    """CPU seconds and peak resident memory of the tree over one interval.

    CPU of processes that exit inside the interval is not seen; Spark keeps
    its JVM and Python workers alive across jobs, so none do here."""

    def __init__(self):
        self._stop = threading.Event()
        self._thread = None
        self.peak_rss = 0
        self.cpu_s = 0.0

    def _sample(self) -> None:
        while not self._stop.wait(SAMPLE_S):
            self.peak_rss = max(self.peak_rss, sum(
                rss for _, rss in tree().values()))

    def __enter__(self) -> "Meter":
        self._start = tree()
        self.peak_rss = sum(rss for _, rss in self._start.values())
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        end = tree()
        self.peak_rss = max(self.peak_rss, sum(rss for _, rss in end.values()))
        self.cpu_s = sum(cpu - self._start.get(pid, (0.0, 0))[0]
                         for pid, (cpu, _) in end.items())
