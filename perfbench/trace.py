"""In-memory spans around the benchmark's calls into the package, and a
process-tree memory sampler.

A span is (id, name, start, end, parent, request).  Spans live in a
list until the run ends; ``dump`` writes them as JSON lines.  A
layer's self time is its duration minus the time its child spans
cover (children run sequentially here, so their durations add).
With tracing off, ``span`` hands out one shared no-op context, so the
timed path pays a method call and nothing else.
"""
from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np


class _Null:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _Null()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            return _NULL
        return self._span(name, request)

    @contextmanager
    def _span(self, name, request):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {"id": sid, "name": name, "parent": parent,
               "request": request, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, name: str, request_prefix: str = "") -> list[float]:
        """Self time of every span called ``name`` (optionally only in
        requests starting with ``request_prefix``)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        return [s["end"] - s["start"] - child.get(s["id"], 0.0)
                for s in self.spans
                if s["name"] == name
                and str(s["request"] or "").startswith(request_prefix)]

    def span_cost_s(self, n: int = 20000) -> float:
        """Measured cost of recording one span (enter + exit)."""
        probe = Tracer(True)
        t = time.perf_counter()
        for _ in range(n):
            with probe.span("x", "probe"):
                pass
        return (time.perf_counter() - t) / n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


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
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pids: list[int]) -> float:
    """CPU seconds (user + system, reaped children included) the given
    processes have used so far.  Time the hypervisor steals from the
    VM is not in it."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


_CALIB_KEYS = np.random.default_rng(0).random(1 << 19)


def calib_cpu_s() -> float:
    """Thread CPU seconds of a fixed piece of work: an interpreted
    loop and a numpy sort.  Run between timed calls, it measures how
    fast the host runs at that moment; a neighbouring VM that slows it
    slows the calls around it alike."""
    t = time.thread_time()
    acc = 0
    for i in range(200_000):
        acc += i & 7
    np.sort(_CALIB_KEYS)
    return time.thread_time() - t


def _mem_kb(pid: int) -> int:
    """Resident memory of one process.  Python processes report PSS:
    the forked workers share most pages with the daemon, and PSS counts
    a page shared by n processes 1/n in each, so the sum counts it
    once.  The JVM reports RSS: it shares next to nothing, and walking
    its page tables for PSS takes tens of milliseconds under its mmap
    lock, which would slow the run being measured."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            jvm = f.read().strip() == "java"
        if jvm:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * _PAGE_KB
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


class MemSampler:
    """Peak of the summed memory of this process and all its
    descendants (the Spark JVM and its Python workers).  The process
    tree is re-read every ``rescan`` seconds, the memory every
    ``period``: reading PSS walks page tables (a few ms per Python
    process), so sampling faster would cost the measured run a
    noticeable share of a core."""

    def __init__(self, period: float = 0.5, rescan: float = 2.0):
        self.period = period
        self.rescan = rescan
        self.peak_kb = 0
        self._pids: list[int] = []
        self._scanned = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, force_scan: bool = False) -> None:
        now = time.monotonic()
        if force_scan or now - self._scanned >= self.rescan:
            self._pids = tree_pids(os.getpid())
            self._scanned = now
        total = sum(_mem_kb(p) for p in self._pids)
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self):
        self._sample(force_scan=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample(force_scan=True)
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
