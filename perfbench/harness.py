"""Timing, statistics, tracing and process plumbing shared by the workloads.

The tracer records spans from outside the engine: each span wraps a call
into one layer's public function.  With tracing on, a span also

- sets the Spark job group to a unique id for that span, so the jobs,
  stages and tasks it launched are read back from ``statusTracker()``;
- materialises the layer's output at the boundary (``localCheckpoint``),
  so the span covers that layer's own execution and not later layers'.

With tracing off every call is a plain pass-through: the end-to-end
numbers come from that mode only.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def rss_peak_mb(pid: int | None) -> float:
    """Peak resident set (VmHWM) of this process plus ``pid``, in MB."""
    total = 0
    for p in ("self", str(pid) if pid else None):
        if p is None:
            continue
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


class Tracer:
    """Spans and per-span Spark counters, kept in memory until the run ends."""

    def __init__(self, spark: SparkSession, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._counter_ops: dict[str, set] = {}
        self._stack: list[dict] = []
        self._seq = 0
        self.op_id = ""

    # -- counters -------------------------------------------------------
    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0.0) + value
            self._counter_ops.setdefault(name, set()).add(self.op_id)

    def count(self, name: str) -> float:
        """Counter ``name`` averaged over the operations that added to it."""
        ops = self._counter_ops.get(name)
        return self.counters[name] / len(ops) if ops else 0.0

    def gc_seconds(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def _job_counts(self, group: str) -> dict[str, int]:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "tasks_failed": failed}

    # -- spans ----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """Time a block; with tracing on, also attribute its Spark jobs."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"{name}#{self._seq}"
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name, "id": self._seq, "op": self.op_id,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(), "group": group,
        }
        self._stack.append(rec)
        sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec.update(self._job_counts(group))
            self.spans.append(rec)

    def materialize(self, df: DataFrame) -> DataFrame:
        """Pin ``df`` at a layer boundary (tracing only)."""
        return df.localCheckpoint(eager=True) if self.enabled else df

    # -- aggregation ----------------------------------------------------
    def _own(self) -> dict[int, float]:
        """Per span id: its duration minus the time its children cover."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] = children.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        return {
            s["id"]: (s["end"] - s["start"]) - children.get(s["id"], 0.0)
            for s in self.spans
        }

    def per_op(self, names: tuple[str, ...], key: str | None = None) -> float:
        """Self time (or the counter ``key``) of the named spans, averaged
        over the operations that ran them: one build pass for set-up spans,
        each traced query or pass otherwise."""
        own = self._own() if key is None else None
        picked = [s for s in self.spans if s["name"] in names]
        ops = {s["op"] for s in picked}
        if not ops:
            return 0.0
        total = sum(own[s["id"]] if key is None else s[key] for s in picked)
        return total / len(ops)

    def spark_counts(self, key: str) -> float:
        """Spark ``key`` (jobs, stages, ...) per traced operation, set-up
        excluded."""
        picked = [s for s in self.spans if s["op"] != "setup"]
        ops = {s["op"] for s in picked}
        return sum(s[key] for s in picked) / len(ops) if ops else 0.0

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters, **extra},
                      f, indent=1, default=str)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under a local directory tree."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def settle(
    run_once, max_passes: int, min_passes: int = 1, tolerance: float = 0.1
) -> list[float]:
    """Run untimed warm-up passes until, after at least ``min_passes``, one
    pass is within ``tolerance`` of the one before it (or ``max_passes``
    ran).  Returns every pass's time."""
    times: list[float] = []
    while len(times) < max_passes:
        t = time.perf_counter()
        run_once()
        times.append(time.perf_counter() - t)
        if (len(times) >= max(2, min_passes)
                and abs(times[-1] - times[-2]) <= tolerance * times[-2]):
            break
    return times
