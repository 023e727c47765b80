"""Process-tree inspection from /proc: descendants, summed RSS, Python
worker count, a background sampler that records peak RSS and every
process it saw, and stopping those processes."""

from __future__ import annotations

import os
import signal
import threading
import time


def _stat(pid: int):
    """(ppid, pgrp, rss_bytes, starttime, state) of ``pid``, or None if
    it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    fields = data[data.rfind(")") + 2:].split()
    return (int(fields[1]), int(fields[2]),
            int(fields[21]) * os.sysconf("SC_PAGE_SIZE"), int(fields[19]),
            fields[0])


def _all_pids():
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def descendants(root: int) -> list[int]:
    parent = {}
    for pid in _all_pids():
        st = _stat(pid)
        if st is not None:
            parent[pid] = st[0]
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_workers(root: int) -> int:
    """Forked Python workers below ``root``: pyspark.daemon processes
    whose parent is a pyspark.daemon (the daemon itself excluded)."""
    desc = descendants(root)
    daemons = {p for p in desc if "pyspark.daemon" in _cmdline(p)}
    n = 0
    for p in daemons:
        st = _stat(p)
        if st is not None and st[0] in daemons:
            n += 1
    return n


class PeakRss:
    """Every ``period`` seconds, sums the RSS of ``root``'s descendants
    (not ``root`` itself) into ``peak`` and records each descendant in
    ``seen`` (pid → start time, so a reused pid is not mistaken)."""

    def __init__(self, root: int, period: float = 0.25):
        self.root = root
        self.period = period
        self.peak = 0
        self.seen: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            total = 0
            for pid in descendants(self.root):
                st = _stat(pid)
                if st is not None:
                    total += st[2]
                    self.seen[pid] = st[3]
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_all(pids: dict[int, int], timeout: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, every process of ``pids`` (pid → start
    time) still alive, and wait until each has exited."""
    def alive():
        return [p for p, start in pids.items()
                if (st := _stat(p)) is not None and st[3] == start
                and st[4] != "Z"]

    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while left := alive():
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        if time.monotonic() > deadline - timeout / 2:
            sig = signal.SIGKILL
        if time.monotonic() > deadline:
            break
