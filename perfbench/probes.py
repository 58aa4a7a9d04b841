"""Measurement helpers: spans, Spark job and plan probes, peak RSS.

Spans are recorded only around the benchmark's own calls into the
package's public functions; nothing inside the package is patched.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans ``(name, start, end, parent, op_id)``.

    ``enabled`` marks a traced run; within it, spans are kept only
    while ``recording`` is set, so a traced run can interleave
    untraced ops. Untraced ops pay one attribute check per span.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.recording = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.recording:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def self_times(self, op_ids: set[int]) -> dict[str, float]:
        """Total self time per span name over the given ops: each
        span's duration minus the time its direct children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for name, start, end, parent, op in self.spans:
            if parent is not None and op in op_ids:
                child_time[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _parent, op) in enumerate(self.spans):
            if op in op_ids:
                out[name] += end - start - child_time[i]
        return dict(out)

    def dump(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "summary": summary,
                    "fields": ["name", "start", "end", "parent", "op_id"],
                    "spans": self.spans,
                },
                fh,
            )


class JobProbe:
    """Counts Spark jobs and their stages between two snapshots.

    Job ids come from the status tracker's jobs without a job group,
    which is every job the package issues today.
    """

    def __init__(self, spark) -> None:
        self._tracker = spark.sparkContext.statusTracker()

    def snapshot(self) -> set[int]:
        return set(self._tracker.getJobIdsForGroup(None))

    def delta(self, before: set[int], after: set[int]) -> tuple[int, int]:
        new = after - before
        stages = 0
        for job in new:
            info = self._tracker.getJobInfo(job)
            if info is not None:
                stages += len(info.stageIds)
        return len(new), stages


_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: [^,]*, value: (-?\d+)\)")


def plan_stats(df) -> dict[str, float]:
    """Per-layer SQL metrics of the executed plan of a DataFrame that
    has run, keyed by benchmark metric name.

    Walks the final adaptive plan, stepping into every query stage and
    subquery: plan node count, shuffle bytes written, spill bytes, the
    largest per-node peak memory, broadcast time, and the parquet
    scans' bytes, time and output rows.
    """
    out: dict[str, float] = defaultdict(float)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        out["plans.plan_nodes"] += 1
        m = {k: int(v) for k, v in _METRIC.findall(node.metrics().toString())}
        if cls == "ShuffleExchangeExec":
            out["operators.shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        elif cls == "BroadcastExchangeExec":
            out["operators.broadcast_s"] += (
                m.get("collectTime", 0) + m.get("buildTime", 0) + m.get("broadcastTime", 0)
            ) / 1e3
        elif cls == "FileSourceScanExec":
            out["sources.scan_bytes"] += m.get("filesSize", 0)
            out["sources.scan_s"] += m.get("scanTime", 0) / 1e3
            out["sources.rows_scanned"] += m.get("numOutputRows", 0)
        out["operators.spill_bytes"] += m.get("spillSize", 0)
        out["operators.peak_memory_bytes"] = max(
            out["operators.peak_memory_bytes"], m.get("peakMemory", 0)
        )
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                stack.append(seq.apply(i))
    return dict(out)


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc: the JVM is a child
    of this process, the Python workers are children of the JVM."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants:
    user plus system time, including that of reaped children. Time the
    hypervisor gives to other guests (steal) is not in it."""
    ticks = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ticks += sum(int(x) for x in stat[stat.rindex(b")") + 2 :].split()[11:15])
    return ticks / _TICK


def _tree_pss_kb(root: int) -> dict[int, int]:
    """Proportional set size per process of ``root`` and all its
    descendants. Proportional, so pages the forked Python workers share
    are counted once."""
    out = {}
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        out[pid] = int(line.split()[1])
                        break
        except OSError:
            continue
    return out


class PeakRss:
    """Samples the process tree's memory on a thread between ``start``
    and ``stop``. ``peak_mb`` is the largest total seen; ``breakdown``
    splits that sample into the Python process, its largest child (the
    JVM) and everything else."""

    def __init__(self, interval: float = 0.25) -> None:
        self._interval = interval
        self._stop = threading.Event()
        self._peak: dict[int, int] = {}
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            sample = _tree_pss_kb(pid)
            if sum(sample.values()) > sum(self._peak.values()):
                self._peak = sample
            self._stop.wait(self._interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        """Ends sampling; a no-op when sampling is not running."""
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return sum(self._peak.values()) / 1024.0

    @property
    def breakdown(self) -> dict[str, float]:
        own = self._peak.get(os.getpid(), 0)
        others = sorted(v for p, v in self._peak.items() if p != os.getpid())
        jvm = others[-1] if others else 0
        return {
            "python_mb": own / 1024.0,
            "jvm_mb": jvm / 1024.0,
            "workers_mb": (sum(others) - jvm) / 1024.0,
            "processes": len(self._peak),
        }
