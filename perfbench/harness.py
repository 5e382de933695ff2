"""Shared pieces of the benchmark: spans, percentiles, the box, memory.

Nothing here imports Spark or the package under test, so the helpers
stay usable in the smoke test and in the directory check that runs the
benchmark without the program beside it.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager


# --------------------------------------------------------------- statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], p: int) -> float:
    """The ``p``-th percentile, interpolated between samples (the
    inclusive method never reads past the largest sample); with a single
    sample that sample is every percentile."""
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def supported_percentile(n: int, want: int = 90) -> int:
    """The highest percentile up to ``want`` with at least ten samples
    beyond it; 50 when the sample is too small for any tail."""
    for p in range(want, 49, -1):
        if n * (100 - p) / 100 >= 10:
            return p
    return 50


def timing(values: list[float], want: int = 90) -> dict:
    """A timing as reported: median, tail percentile and sample count."""
    p = supported_percentile(len(values), want)
    return {
        "p50": median(values),
        f"p{p}": percentile(values, p),
        "p90": percentile(values, 90),
        "tail_percentile": p,
        "n": len(values),
    }


# -------------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory and written out when the run ends.

    A span records its name, layer, start, end, parent and the trace id
    of the operation (one batch or one query) it belongs to. Each thread
    keeps its own stack; a span opened inside a streaming callback names
    its parent explicitly.

    ``active`` switches recording per operation: the traced run records
    every other operation and leaves the rest untraced, which measures
    the tracing overhead inside the same run.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._t0 = time.perf_counter()

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, layer: str, root: bool = False, parent: dict | None = None, **attrs):
        """Record one span; ``root`` starts a new trace id (an operation).
        ``parent`` names the enclosing span explicitly, for a span opened
        on another thread (a streaming callback) on behalf of it."""
        if not self.active:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        if parent is None and stack and not root:
            parent = stack[-1]
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "name": name,
            "layer": layer,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> dict[int, float]:
        """Span id → its duration minus the time its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered = 0.0
            last_end = s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last_end = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def layer_self_seconds(self) -> dict[str, float]:
        """Summed self time per layer."""
        selfs = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["layer"]] = out.get(s["layer"], 0.0) + selfs[s["id"]]
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")


# ---------------------------------------------------------------------- box


def box() -> dict:
    """CPUs this process may use and the memory the kernel reports free."""
    cpus = len(os.sched_getaffinity(0))
    avail_kb = total_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
            elif line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    avail_gb = avail_kb / 2**20
    # a quarter of what is free, between 1 and 4 GB: the inputs are small,
    # and the machine may be shared
    heap_gb = max(1, min(4, math.floor(avail_gb / 4)))
    return {
        "cpus": cpus,
        "mem_total_gb": round(total_kb / 2**20, 2),
        "mem_available_gb": round(avail_gb, 2),
        "jvm_heap_gb": heap_gb,
    }


# ------------------------------------------------------------------ process


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this one)."""
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return 0
    f = stat[stat.rindex(")") + 2 :].split()
    # utime, stime, and those of reaped children (fields 14-17)
    return int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def cpu_seconds() -> float:
    """CPU time used so far by this process and every process below it:
    the Spark JVM, the Python worker daemon and its workers. Time the
    hypervisor steals from the machine is not in it, which keeps it
    steady where wall time is not."""
    pids = [os.getpid(), *descendants()]
    return sum(_cpu_ticks(p) for p in pids) / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Summed peak resident memory of this process and all below it: the
    Spark JVM, the Python worker daemon and its workers."""
    pids = [os.getpid(), *descendants()]
    return sum(_hwm_kb(p) for p in pids) / 1024.0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive
