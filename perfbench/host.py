"""Host-side instruments: resident memory of the process tree, sampled
from /proc, and a CPU contention sentinel."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.1  # RSS sampling interval
RESCAN_EVERY = 10  # samples between walks of the process tree
SPIN_ITERS = 1_000_000  # loop length of the contention sentinel


def _children() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list:
    """``root`` and every process below it."""
    kids = _children()
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def _rss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Samples the summed RSS of this process, the driver JVM it launched
    and the JVM's Python workers; ``take_peak`` returns the highest sample
    since the previous call. The process tree is re-walked once a second,
    the RSS of its members read every 100 ms."""

    def __init__(self):
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me, n, pids = os.getpid(), 0, []
        while not self._stop.is_set():
            if n % RESCAN_EVERY == 0:
                pids = descendants(me)
            n += 1
            rss = _rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(SAMPLE_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def take_peak(self) -> int:
        rss = _rss_bytes(descendants(os.getpid()))
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak


_SPIN = """
import time
t0 = time.perf_counter()
acc = 0
for i in range({iters}):
    acc = (acc + i) & 0xFFFFFFFF
print((time.perf_counter() - t0) * 1000.0)
"""


def calibrate_ms(workers: int) -> float:
    """Contention sentinel: a fixed integer loop run in ``workers``
    processes at once, one per core the benchmark uses; returns the median
    time of one loop. Pure Python arithmetic, so it tracks the CPU the host
    gives these cores, not memory bandwidth. It loads every core because
    on a shared host a single busy core can run at full speed while all
    four together get less than half of that. The first round in a
    process reads about four times slower than the ones after it on a
    shared VM, so it is run and discarded."""
    for _ in range(2):
        procs = [subprocess.Popen([sys.executable, "-c",
                                   _SPIN.format(iters=SPIN_ITERS)],
                                  stdout=subprocess.PIPE, text=True)
                 for _ in range(workers)]
        ms = statistics.median(float(p.communicate()[0]) for p in procs)
    return ms
