"""Peak resident memory of the benchmark's whole process tree: the
benchmark's own Python process, the Spark JVM it launched and the JVM's
Python workers."""

from __future__ import annotations

import os
import threading

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    """The processes ``pid`` started, and theirs, parents first."""
    kids = _children()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        child = todo.pop(0)
        out.append(child)
        todo.extend(kids.get(child, ()))
    return out


def tree_rss_mb() -> float:
    """Summed RSS of this process and its descendants."""
    total = 0.0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE_MB
        except OSError:
            continue
    return total


class TreeRSS:
    """Samples the tree's RSS every ``interval`` seconds between ``begin()``
    and ``end()``; ``peaks_mb`` holds each such span's highest sample."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peaks_mb: list[float] = []
        self._peak: float | None = None
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def begin(self) -> None:
        with self._lock:
            self._peak = tree_rss_mb()

    def end(self) -> None:
        with self._lock:
            self.peaks_mb.append(max(self._peak, tree_rss_mb()))
            self._peak = None

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            rss = tree_rss_mb()
            with self._lock:
                if self._peak is not None:
                    self._peak = max(self._peak, rss)

    def __enter__(self) -> TreeRSS:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
