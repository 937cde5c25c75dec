"""CPU and memory of a process tree, read from ``/proc`` (no psutil).

The tree is the benchmark process and every descendant: the Spark JVM,
the PySpark worker daemon and its Python workers.  CPU counts each
live process's own user+system time plus the time of children it has
already reaped, so workers that exit mid-run are not lost.
"""

from __future__ import annotations

import os
import threading
from typing import Dict, List

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat") as fh:
        data = fh.read()
    # the command name may hold spaces; fields resume after its ')'
    return data[data.rindex(")") + 2:].split()


def tree(root: int) -> List[int]:
    """``root`` and all of its descendants."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    total = 0
    for pid in tree(root):
        try:
            f = _stat(pid)
        except (OSError, IndexError):
            continue  # exited between the listing and the read
        # utime stime cutime cstime are fields 14-17 (1-based) of stat
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def rss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the tree's summed RSS on a thread until ``stop()``."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root, self.interval, self.peak = root, interval, 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes(self.root))
            if self._done.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join()

