"""Measurement helpers for the perfbench harness: spans, percentiles,
byte counts, process-tree memory and plan inspection.

Nothing here imports Spark; everything is plain Python so the helpers are
unit-tested without a JVM (``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import os
import re
import signal
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Percentiles considered for the tail of a latency distribution, highest
# first. A percentile is reported only when at least MIN_BEYOND samples lie
# beyond it, so that a single slow sample cannot define it.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def supported_percentile(n: int) -> float | None:
    """Highest of :data:`TAIL_PERCENTILES` with at least ``MIN_BEYOND`` of
    ``n`` samples beyond it, or ``None`` when the sample is too small."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            return p
    return None


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile ``p`` (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def latency_summary(values) -> dict:
    """Median plus the highest supported tail percentile, with the sample
    count: ``{"n", "p50", "tail_p", "tail"}`` (``tail_p``/``tail`` are
    ``None`` when fewer than ``MIN_BEYOND`` samples would lie beyond even
    the 75th percentile)."""
    xs = list(values)
    p = supported_percentile(len(xs))
    return {
        "n": len(xs),
        "p50": statistics.median(xs) if xs else None,
        "tail_p": p,
        "tail": percentile(xs, p) if p is not None else None,
    }


def bytes_per_point(n_bytes: int, points: int) -> float:
    """Stored bytes divided by the points they hold."""
    if points <= 0:
        raise ValueError(f"bytes per point needs points > 0, got {points}")
    if n_bytes < 0:
        raise ValueError(f"negative byte count {n_bytes}")
    return n_bytes / points


def overhead_ratio(traced, untraced) -> float:
    """Median traced operation time over the median untraced one."""
    return statistics.median(traced) / statistics.median(untraced)


def dir_usage(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes of every file under ``path``, number of ``suffix`` files)."""
    total = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += name.endswith(suffix)
    return total, files


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder. Spans nest through a stack, so a span's
    parent is the innermost span open when it started."""

    enabled = True

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, self.clock(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start, c.end) for c in self.children(span.id)]
        return span.duration - covered(kids, span.start, span.end)

    def path(self, span: Span) -> str:
        names = []
        cur = span.parent
        while cur is not None:
            names.append(self.spans[cur].name)
            cur = self.spans[cur].parent
        return "/".join(reversed(names))

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent,
                "start": s.start, "end": s.end,
                "self_s": self.self_time(s), "attrs": s.attrs,
            }
            for s in self.spans if s.end is not None
        ]


class NullTracer:
    """Tracer stand-in for untraced runs: the same calls, no records."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


# ------------------------------------------------------------- processes


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    """Process ids of every descendant of ``root``."""
    kids = _children_map()
    out = []
    stack = list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def wait_gone(pids, timeout: float) -> None:
    """Wait until none of ``pids`` exists; after ``timeout`` seconds kill
    the ones left and wait for them too."""
    deadline = time.monotonic() + timeout
    left = list(pids)
    while left:
        left = [p for p in left if _alive(p)]
        if left and time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        if left:
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root: int) -> int:
    """Summed resident set size of the ``java`` and ``python*`` processes
    among ``root`` and its descendants: the driver Python process, its
    JVM and the JVM's Python workers. Pages the forked workers share are
    counted once per worker. Other processes are left out: a child the
    JVM has forked but not yet exec'd (to run a shell helper) carries a
    JVM thread name and reports the JVM's whole RSS for a moment."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if not f.read().startswith(("java", "python")):
                    continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_SIZE
        except OSError:
            continue
    return total


class MemorySampler:
    """Background thread sampling the process-tree RSS, keeping the peak
    since the last :meth:`take_peak`."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self._window = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(self.root)
        with self._lock:
            self._window = max(self._window, rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def take_peak(self) -> int:
        """Peak since the previous call, including a sample taken now."""
        self._sample()
        with self._lock:
            peak, self._window = self._window, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------------ plans

_EXCHANGE_NODE = re.compile(r"(?<![A-Za-z])(?:Broadcast)?Exchange \(\d+\)")


def count_exchanges(plan_description: str) -> int:
    """Exchange nodes in a formatted physical plan. For an adaptive plan
    only the final plan is counted, not the initial one printed below it."""
    tree = plan_description.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(_EXCHANGE_NODE.findall(tree))
