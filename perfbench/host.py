"""Host context and resident-memory sampling.

Host context (load average, usable CPUs, the one-core kernel probe) is
printed beside every result and never used to adjust a metric: a run on
a contended host should explain itself, not be corrected.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


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
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Samples, every ``interval`` seconds, the summed resident memory of
    this process's descendants (the JVM and its Python workers), leaving
    out the processes named in ``exclude`` (the load generator)."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> int:
        kids = _children()
        todo, total = list(kids.get(os.getpid(), [])), 0
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _rss_bytes(pid)
            todo.extend(kids.get(pid, []))
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_bytes = max(self.peak_bytes, self.sample())
