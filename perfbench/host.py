"""Host record and process-tree memory sampling.

The host record lets a reader tell a throttled run from a slow commit:
core count, load average at both ends, and two fixed-work markers timed
on this host right before set-up.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor


def cpu_count() -> int:
    """Usable cores: ``SPARK_GRAFT_CPUS`` if it is a positive integer,
    else the scheduler affinity mask."""
    try:
        n = int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        n = 0
    return n if n > 0 else len(os.sched_getaffinity(0))


def _median_of_3(fn) -> float:
    return sorted(fn() for _ in range(3))[1]


def single_thread_marker() -> float:
    """Seconds for a fixed pure-Python loop, median of three (one core's
    speed)."""

    def once() -> float:
        t0 = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x += i
        return time.perf_counter() - t0

    return _median_of_3(once)


def multi_core_marker(threads: int) -> float:
    """Seconds for ``threads`` concurrent sha256 streams of fixed size
    (median of three);
    hashlib releases the GIL, so this sees the parallel throughput the
    host grants right now."""
    block = b"\0" * (1 << 20)

    def work(_: int) -> int:
        h = hashlib.sha256()
        for _ in range(64):
            h.update(block)
        return h.digest()[0]

    with ThreadPoolExecutor(max_workers=threads) as pool:
        list(pool.map(work, range(threads)))  # thread start-up untimed

        def once() -> float:
            t0 = time.perf_counter()
            list(pool.map(work, range(threads)))
            return time.perf_counter() - t0

        return _median_of_3(once)


def record(threads: int) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "threads": threads,
        "loadavg_start": os.getloadavg(),
        "single_thread_marker_s": single_thread_marker(),
        "multi_core_marker_s": multi_core_marker(threads),
    }


def _tree_rss_bytes(root: int, page: int) -> int:
    children: dict[int, list[int]] = {}
    mem: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        mem[pid] = (int(fields[20]), int(fields[21]) * page)  # vsize, rss
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent = todo.pop()
        # a child spawned with vfork shares its parent's memory until it
        # execs, and reports the same sizes: count that memory once
        if pid in mem and mem[pid] != mem.get(parent):
            total += mem[pid][1]
        todo.extend((c, pid) for c in children.get(pid, ()))
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled from ``/proc``."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(os.getpid(), self._page))

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
