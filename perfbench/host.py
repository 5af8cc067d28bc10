"""Host-side probes: the memory-bandwidth window and a resident-memory
poller for the Spark driver JVM and its Python workers."""

from __future__ import annotations

import os
import threading
import time

POLL_S = 0.5  # how often the poller reads the known processes' sizes
RESCAN_S = 1.0  # how often it re-reads the process tree


def bandwidth_mbs() -> float:
    """Best of three 50 MB numpy multiplies, in MB/s (the same formula
    as ``scripts/probe_window.py``). A shared host can swing by up to
    ~30x between identical runs; a sample taken in a throttled window
    reads low here too."""
    import numpy as np

    best = 0.0
    for _ in range(3):
        a = np.ones(50 * 1024 * 1024 // 8)
        t = time.perf_counter()
        a * 2
        best = max(best, 50 / (time.perf_counter() - t))
    return best


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page
    (the Python workers share the interpreter, numpy and Arrow) split
    among the processes that map it, so summing never counts it twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssPoller:
    """Polls, from a thread of the harness process, the summed resident
    memory (PSS) of every process this one started (the driver JVM, and
    the Python daemon and workers the JVM forks), and keeps the peak."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me, pids, scanned = os.getpid(), [], 0.0
        while not self._stop.is_set():
            if time.monotonic() - scanned >= RESCAN_S:
                pids, scanned = descendants(me), time.monotonic()
            total = sum(_pss_bytes(p) for p in pids)
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(POLL_S)

    def __enter__(self) -> "RssPoller":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
