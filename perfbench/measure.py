"""Measurement helpers: percentiles, spans, host CPU counters, peak RSS.

Nothing here imports Spark, so the self-tests can exercise it directly.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-th percentile (0 <= q <= 100), the same
    rule as numpy's default; a single value is its own percentile."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summary(values: list[float]) -> dict:
    """Median, quartiles (statistics.quantiles(n=4), exclusive method)
    and the inter-quartile range as a share of the median."""
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "iqr_rel": (q3 - q1) / med if med else 0.0}


class Ops:
    """Attempted / failed accounting for the timed operations of a run.
    A raised exception or an operation slower than its timeout counts as
    failed; the error text goes to the sidecar."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def record(self, ok: bool, error: str | None = None) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if error and len(self.errors) < 20:
                    self.errors.append(error)


class Spans:
    """In-memory spans around the calls the harness makes into each
    layer; written to the sidecar when the run ends."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.items: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        start = time.perf_counter()
        rec = {"name": name, "start": start - self.t0, **attrs}
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - start
            with self._lock:
                self.items.append(rec)

    def durations(self, name: str) -> list[float]:
        return [s["dur"] for s in self.items if s["name"] == name]


def proc_stat() -> tuple[float, float]:
    """(busy_s, steal_s) summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    tck = os.sysconf("SC_CLK_TCK")
    busy = sum(int(x) for x in (f[1], f[2], f[3], f[6], f[7]))
    steal = int(f[8]) if len(f) > 8 else 0
    return busy / tck, steal / tck


@contextmanager
def host_leg(legs: list, name: str):
    """Record /proc/stat busy and steal seconds across one timed leg."""
    b0, s0 = proc_stat()
    t0 = time.perf_counter()
    try:
        yield
    finally:
        b1, s1 = proc_stat()
        legs.append({"leg": name, "wall_s": time.perf_counter() - t0,
                     "busy_s": b1 - b0, "steal_s": s1 - s0})


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def kill_descendants(pid: int) -> None:
    for child in descendants(pid):
        try:
            os.kill(child, 9)
        except OSError:
            pass


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read().replace(b"\0", b" ")
    except OSError:
        return "gone"
    if b"java" in cmd.split(b" ")[0]:
        return "jvm"
    return "python_workers" if b"pyspark" in cmd else "driver"


def tree_rss_mb(pid: int, by_kind: dict | None = None) -> float:
    """Summed RSS of pid and its descendants; `by_kind` collects the
    jvm / python_workers / driver parts."""
    total = 0.0
    page = os.sysconf("SC_PAGE_SIZE")
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                mb = int(fh.read().split()[1]) * page / 2**20
        except OSError:
            continue
        total += mb
        if by_kind is not None:
            k = _kind(p)
            by_kind[k] = by_kind.get(k, 0.0) + mb
    return total


class RssSampler:
    """Background sampler of the summed RSS of this process tree (the
    driver, the JVM it launched and the JVM's Python workers)."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}  # split of the peak sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            kinds: dict[str, float] = {}
            mb = tree_rss_mb(pid, kinds)
            if mb > self.peak_mb:
                self.peak_mb, self.at_peak = mb, kinds
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
