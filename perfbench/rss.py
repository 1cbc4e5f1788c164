"""Peak resident memory of a process tree, sampled from ``/proc``.

``psutil`` is not available, so the tree is rebuilt on every sample
from ``/proc/<pid>/stat`` parent links and each member's resident set
is read from ``/proc/<pid>/statm``. The sum covers the benchmark's own
interpreter, the Spark JVM it launches and that JVM's Python workers.
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """``/proc/<pid>/stat`` fields after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces or ')' — fields follow the last ')'
    return stat[stat.rindex(")") + 2 :].split()


def _ppid(pid: int) -> int | None:
    fields = _stat(pid)
    return None if fields is None else int(fields[1])


def running(pid: int) -> bool:
    """The process exists and has not exited (a zombie has)."""
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z"


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            ppid = _ppid(int(name))
            if ppid is not None:
                children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int) -> int:
    return sum(rss_bytes(p) for p in descendants(root))


class PeakRss:
    """Background sampler: ``with PeakRss() as s: ...; s.peak_bytes``."""

    def __init__(self, root: int | None = None, interval_s: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
        self.samples += 1

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
