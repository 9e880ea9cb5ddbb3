"""Measurement helpers: the percentile rule, the peak-RSS sampler and
the store footprint walk. Pure Python; no Spark import."""

from __future__ import annotations

import os
import threading

#: Percentiles the tail rule chooses from, lowest first.
PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of
    samples at or below it)."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    k = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return xs[int(k) - 1]


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile in ``PERCENTILES`` that has at least ten
    samples strictly beyond it, as ``(p, value)``; ``None`` when even
    the median has fewer than ten samples above it."""
    best = None
    for p in PERCENTILES:
        v = percentile(samples, p)
        if sum(1 for x in samples if x > v) >= 10:
            best = (p, v)
    return best


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (via /proc/<pid>/task/*/children)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(x) for x in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` plus every descendant (the JVM the
    driver launches and the Python workers the JVM forks)."""
    return sum(rss_bytes(p) for p in [pid, *descendants(pid)])


class PeakRss:
    """Background sampler of this process tree's summed RSS.

    Use as a context manager; ``peak`` holds the largest sample seen.
    Reads /proc only, so it costs a few file reads per interval."""

    def __init__(self, interval_s: float = 0.1, pid: int | None = None):
        self.interval_s = interval_s
        self.pid = pid or os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.pid))
        return False


def footprint(root: str) -> dict[str, int]:
    """Files, bytes and partition directories (``key=value`` names)
    under a store root. Hidden and underscore files (checksums, commit
    markers) count as files too: they are on disk and listed."""
    files = nbytes = pdirs = 0
    for dirpath, dirnames, filenames in os.walk(root):
        pdirs += sum(1 for d in dirnames if "=" in d)
        for f in filenames:
            files += 1
            nbytes += os.path.getsize(os.path.join(dirpath, f))
    return {"files": files, "bytes": nbytes, "partition_dirs": pdirs}
