"""Span tracing and process/JVM probes for the benchmark.

Spans are recorded from outside the package: the workloads wrap each
call they make into a package module in ``Tracer.span``. A span has a
name, start, end, parent span and the id of the operation (request or
batch) it belongs to; spans live in memory and are written out once,
when the run ends. A layer's self time is its duration minus the part
covered by its child spans.

With tracing off, ``Tracer.span`` is a no-op context manager, so the
untraced run measures the program without the tracer's bookkeeping.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool, spark=None) -> None:
        """``spark`` enables counting Spark jobs and tasks per span."""
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._jobs = JobCounter(spark) if (enabled and spark is not None) else None

    def op(self, op_id: int) -> None:
        """Spans opened from now on belong to operation ``op_id``."""
        self._op = op_id

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        # jobs are counted on top-level spans only: each count costs a
        # few calls into the JVM
        jobs0 = self._jobs.snapshot() if self._jobs and not self._stack else None
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs0 is not None:
                rec["jobs"], rec["tasks"] = self._jobs.delta(jobs0)

    def self_times(self) -> dict[str, list[float]]:
        """name -> self time in seconds of each span with that name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if s["end"] is not None:
                out.setdefault(s["name"], []).append(
                    s["end"] - s["start"] - child[s["id"]]
                )
        return out

    def totals(self, key: str) -> int:
        """Sum of a per-span count (``jobs`` or ``tasks``) over the
        top-level spans, the only ones that carry it."""
        return sum(s.get(key, 0) for s in self.spans)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class JobCounter:
    """Spark jobs and tasks started, read from the status tracker."""

    def __init__(self, spark) -> None:
        self._tracker = spark.sparkContext.statusTracker()

    def snapshot(self) -> set[int]:
        return set(self._tracker.getJobIdsForGroup(None))

    def delta(self, before: set[int]) -> tuple[int, int]:
        new = set(self._tracker.getJobIdsForGroup(None)) - before
        tasks = 0
        for j in new:
            info = self._tracker.getJobInfo(j)
            for st in info.stageIds if info else ():
                sinfo = self._tracker.getStageInfo(st)
                tasks += sinfo.numTasks if sinfo else 0
        return len(new), tasks


def _steal_and_total() -> tuple[int, int]:
    """CPU time stolen by the hypervisor and all CPU time, in ticks,
    from the first line of /proc/stat; (0, 0) where it is missing."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) == 8 else 0), sum(ticks)


class StealGate:
    """Runs a timed loop of whole operations and decides which count.

    On a shared host the hypervisor now and then gives this machine's
    CPUs to other guests for tens of seconds, visible as "steal" in
    /proc/stat; while it steals more than a few percent, one client's
    request latency roughly doubles. An operation during which more
    than ``MAX_STEAL`` of all CPU time was stolen is run again instead
    of counted, for at most ``MAX_EXTRA_S`` seconds past the loop's
    length; after that every operation counts. Usage::

        gate = StealGate(seconds, min_ops)
        while gate.more():
            gate.start()
            ok = do_one_operation()
            wall = gate.end(ok)   # None: not counted
    """

    MAX_STEAL = 0.05
    MAX_EXTRA_S = 10.0

    def __init__(self, seconds: float, min_ops: int) -> None:
        self.seconds, self.min_ops = seconds, min_ops
        self.t_start = time.perf_counter()
        self.ops = 0  # operations that ended the loop's need for one
        self.skipped = 0  # operations run again for steal
        self.busy = 0.0  # wall time of the counted operations

    def more(self) -> bool:
        return self.ops < self.min_ops or time.perf_counter() - self.t_start < self.seconds

    def start(self) -> None:
        self._steal0, self._total0 = _steal_and_total()
        self._t0 = time.perf_counter()

    def end(self, ok: bool = True) -> float | None:
        """The operation's wall time when it counts, else None. A failed
        operation (``ok`` false) is not run again."""
        now = time.perf_counter()
        if not ok:
            self.ops += 1
            return None
        steal, total = _steal_and_total()
        share = (steal - self._steal0) / max(1, total - self._total0)
        if share > self.MAX_STEAL and now - self.t_start < self.seconds + self.MAX_EXTRA_S:
            self.skipped += 1
            return None
        self.ops += 1
        self.busy += now - self._t0
        return now - self._t0


class JvmProbe:
    """GC time and heap use of the driver JVM through its MXBeans."""

    def __init__(self, spark) -> None:
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        # the old generation only: eden's fill level follows the
        # collector's young-generation sizing, not what the program keeps
        self._old = [p for p in mf.getMemoryPoolMXBeans() if "Old Gen" in p.getName()]
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms(self) -> float:
        return float(sum(g.getCollectionTime() for g in self._gcs))

    def heap_peak_mb(self) -> float:
        """Peak old-generation use: heap that survived a collection."""
        return sum(p.getPeakUsage().getUsed() for p in self._old) / 2**20


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of each live process."""
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024
        except FileNotFoundError:
            continue
    return total


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100 * len(s) + 0.5)) - 1))
    return s[k]


def p50(values: list[float]) -> float:
    return statistics.median(values)


def supported_percentile(n: int) -> int | None:
    """The highest of p99/p90 with at least ten samples beyond it."""
    for q in (99, 90):
        if n * (100 - q) / 100 >= 10:
            return q
    return None
