"""Host-side probes read from /proc: CPU tick counters (noise markers) and
the resident memory of this process and everything it started (driver
Python, the Spark JVM and its Python workers)."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat counters: user nice system idle iowait irq
    softirq steal (guest time is already inside user)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_delta(a: list[int], b: list[int]) -> dict:
    d = [y - x for x, y in zip(a, b)]
    total = sum(d) or 1
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return {"steal_s": d[7] / _TICK, "cpu_busy_ratio": busy / total}


def cpu_probe_ms(reps: int = 5) -> float:
    """Median wall time of a fixed pure-Python loop: a host-speed marker
    that also shows slowdowns steal time does not (shared physical
    cores, frequency changes)."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        sum(i * i for i in range(100_000))
        times.append(time.perf_counter() - t)
    return sorted(times)[reps // 2] * 1e3


def boot_clock() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def process_age_s() -> float:
    """Seconds since this process started (same clock as /proc/<pid>/stat)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return boot_clock() - start_ticks / _TICK


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each shared page split
    between the processes sharing it. Summing plain RSS would count a
    forked child's copy-on-write pages (Python workers, JVM helper forks)
    once per process."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:  # exited between listdir and open
            continue
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:  # exited since the listing
            continue
    return total


class PeakRss:
    """Samples the process tree's summed PSS every ``interval`` seconds on
    a daemon thread; ``stop()`` joins it and returns the peak in MiB."""

    def __init__(self, interval: float = 0.2):
        self._interval = interval
        self._done = threading.Event()
        self._peak = 0
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self._peak = max(self._peak, _tree_rss_bytes(pid))
            if self._done.wait(self._interval):
                return

    @property
    def peak_mb(self) -> float:
        return self._peak / (1 << 20)

    def stop(self) -> None:
        self._done.set()
        self._thread.join(timeout=10)
