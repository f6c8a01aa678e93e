"""Resident memory of this process's PySpark Python workers, from /proc."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL = 0.05  # seconds between samples


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def worker_pids(root: int) -> list[int]:
    """PIDs of the pyspark daemon and the workers it forked under ``root``."""
    pids = []
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmdline = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmdline or b"pyspark.worker" in cmdline:
            pids.append(pid)
    return pids


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class WorkerRssSampler:
    """Samples the summed RSS of the Python workers every INTERVAL seconds
    while started; ``peak`` is the largest sample seen. The worker set is
    re-read each second, so workers Spark forks later are counted."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % int(1 / INTERVAL) == 0:
                pids = worker_pids(os.getpid())
            n += 1
            self.peak = max(self.peak, sum(rss_bytes(p) for p in pids))
            self._stop.wait(INTERVAL)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
            self._thread = None
