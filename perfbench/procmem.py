"""Process-tree resident memory from /proc (no psutil needed).

The tree is this interpreter, the Spark driver JVM it launched and the
Python workers the JVM forks. ``PeakRss`` samples the tree's resident
memory on a background thread and keeps the peak. Each process counts
its proportional set size (``Pss``): pages shared between forked
processes -- the Python workers and their daemon, or a JVM child in the
instant between fork and exec -- are counted once, not once per process.
"""
from __future__ import annotations

import os
import threading
import time


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces and parens; fields resume after ')'
        out[int(name)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for child in children.get(stack.pop(), ()):
            out.append(child)
            stack.append(child)
    return out


def tree_pss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # exited while sampling
    return total


class PeakRss:
    """Context manager sampling this process tree's summed Pss every
    ``INTERVAL_S`` seconds on a background thread. ``take()`` returns the
    largest sample since the previous ``take()`` (or the start)."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.root = os.getpid()
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _sample(self) -> None:
        pss = tree_pss_bytes(self.root)
        with self._lock:
            self._peak = max(self._peak, pss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.INTERVAL_S)

    def take(self) -> int:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def wait_for_descendants(root: int, timeout_s: float) -> list[int]:
    """Wait until ``root`` has no child processes left; return survivors."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = descendants(root)
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)
