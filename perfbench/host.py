"""Host-side measurement: process-tree CPU and RSS, CPU steal, and a
fixed-work probe.

The tree is this process and every descendant: the driver JVM that
spark-submit execs, the pyspark daemon and its Python workers. Workers
come and go during a run, so the sampler keeps each pid's last-seen CPU
(the ``TreeCpuSampler`` method of ``iyp_spark/bench_scaling.py``); a
worker that exits between two samples loses at most one interval.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_tree() -> dict[int, tuple[float, int]]:
    """pid -> (utime+stime seconds, resident bytes) for this process and
    its live descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[float, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        # fields after the command: [1] ppid, [11] utime, [12] stime, [21] rss pages
        stats[pid] = ((int(parts[11]) + int(parts[12])) / _CLK,
                      int(parts[21]) * _PAGE)
        children.setdefault(int(parts[1]), []).append(pid)
    out: dict[int, tuple[float, int]] = {}
    stack = [os.getpid()]
    while stack:
        p = stack.pop()
        if p in stats:
            out[p] = stats[p]
        stack.extend(children.get(p, []))
    return out


class TreeSampler(threading.Thread):
    """Samples the process tree every ``interval`` seconds while running.

    ``cpu_seconds()`` is the tree CPU burned since the sampler was
    created. ``peak_rss_bytes`` is the largest summed resident size of the
    ``rss_pids`` seen at any sample: the driver and the JVM. The Python
    workers are left out of it because how many idle ones are still alive
    depends on when the worker pool last reaped them, not on the work."""

    def __init__(self, rss_pids: set[int], interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.rss_pids = rss_pids
        snap = process_tree()
        self._base = {p: c for p, (c, _) in snap.items()}
        self._last = dict(self._base)
        self.peak_rss_bytes = self._rss(snap)
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()

    def _rss(self, snap) -> int:
        return sum(r for p, (_, r) in snap.items() if p in self.rss_pids)

    def _sample(self) -> None:
        snap = process_tree()
        with self._lock:
            for p, (c, _) in snap.items():
                self._last[p] = c
            self.peak_rss_bytes = max(self.peak_rss_bytes, self._rss(snap))

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self._sample()

    def cpu_seconds(self) -> float:
        self._sample()
        with self._lock:
            return sum(self._last.values()) - sum(
                self._base.get(p, 0.0) for p in self._last)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def steal_seconds() -> tuple[float, int]:
    """(steal seconds summed over the CPUs this process may run on, number
    of those CPUs), from /proc/stat. Steal is time the hypervisor gave to
    other guests while this one was runnable: a loud neighbour shows up
    here, not in the program's own CPU."""
    cpus = os.sched_getaffinity(0)
    steal = 0.0
    with open("/proc/stat") as f:
        for ln in f:
            if ln.startswith("cpu") and ln[3:4].isdigit():
                parts = ln.split()
                if int(parts[0][3:]) in cpus and len(parts) > 8:
                    steal += int(parts[8]) / _CLK
    return steal, len(cpus)


def probe_ms() -> float:
    """Fixed single-thread work: md5 over 256 MiB of zeros in 1 MiB
    chunks (the ``bench.py`` host probe). The same work every call, so a
    slow reading means a slow host window, not a slow program."""
    buf = bytes(1024 * 1024)
    h = hashlib.md5()
    t0 = time.perf_counter()
    for _ in range(256):
        h.update(buf)
    return (time.perf_counter() - t0) * 1000.0
