"""Spans around the benchmark's calls into the engine, and the offline
reading of Spark's event log that supplies task-level counts per span.

A span is (name, start, end, parent). While a span is open, every Spark
job this process launches carries the job group `bench:<name>`, so the
event log attributes each task to the innermost open span. Spans live in
memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

import pyarrow as pa


class Tracer:
    """Records spans and sets Spark job groups. A disabled tracer records
    nothing and leaves the job group alone, so the same pass code runs
    traced and untraced."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "parent": self._stack[-1]["name"] if self._stack else None}
        self._stack.append(rec)
        self.sc.setJobGroup(f"bench:{name}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            parent = self._stack[-1]["name"] if self._stack else None
            self.sc.setLocalProperty("spark.jobGroup.id", f"bench:{parent}" if parent else None)

    def seconds(self, name: str) -> float:
        """Duration of the last closed span called `name`."""
        rec = next(s for s in reversed(self.spans) if s["name"] == name)
        return rec["end"] - rec["start"]

    def subtree(self, name: str) -> set[str]:
        """`name` and every span opened inside it."""
        out = {name}
        for s in reversed(self.spans):  # a parent closes after its children
            if s["parent"] in out:
                out.add(s["name"])
        return out

    def with_self_time(self) -> list[dict]:
        """Spans with `self_s`: duration minus the time its direct
        children cover (children of one span never overlap here, because
        the benchmark makes one call at a time)."""
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == s["name"])
            out.append({**s, "duration_s": dur, "self_s": dur - kids})
        return out


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the one application logged under `log_dir`. Spark 4
    writes rolling, zstd-compressed files (eventlog_v2_*/events_*.zstd)."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*.zstd")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    events = []
    for path in files:
        with pa.CompressedInputStream(pa.OSFile(path), "zstd") as fh:
            text = fh.read().decode()
        events.extend(json.loads(line) for line in text.splitlines() if line.strip())
    return events


# SQL metric units by metricType; the rest ("sum", "size", ...) are counts
# or bytes already
_TO_SECONDS = {"timing": 1e-3, "nsTiming": 1e-9}


class GroupStats:
    """Task-level totals of the jobs of one job group."""

    def __init__(self):
        self.jobs: set[int] = set()
        self.stages: set[int] = set()
        self.task_run_s: list[float] = []
        self.cpu_s = self.gc_s = self.deserialize_s = self.fetch_wait_s = 0.0
        self.shuffle_write_bytes = self.spill_bytes = 0
        # (node kind, metric name) -> value. Kinds: "kernel" for Python
        # nodes whose output has frame_idx, "python" for other Python
        # nodes, "scan" for file scans
        self.sql: dict[tuple[str, str], float] = defaultdict(float)

    @property
    def tasks(self) -> int:
        return len(self.task_run_s)

    @property
    def run_s(self) -> float:
        return sum(self.task_run_s)

    def metric(self, name: str, kind: str | None = None) -> float:
        """Sum of a SQL metric over the nodes of `kind` (any kind if None)."""
        return sum(v for (k, m), v in self.sql.items() if m == name and kind in (None, k))

    def skew(self) -> float:
        """Slowest task's run time over the median task's."""
        med = statistics.median(self.task_run_s) if self.task_run_s else 0.0
        return max(self.task_run_s) / med if med > 0 else 1.0


def group_stats(events: list[dict]) -> dict[str, GroupStats]:
    """Job group id -> GroupStats, from one application's events."""
    # SQL accumulator id -> (node kind, metric name, metric type)
    accum: dict[int, tuple[str, str, str]] = {}

    def walk(node: dict) -> None:
        metrics = {m["name"] for m in node["metrics"]}
        if "time to run Python workers" in metrics:  # a Python UDF node
            kind = "kernel" if "frame_idx" in node.get("simpleString", "") else "python"
            for m in node["metrics"]:
                accum[m["accumulatorId"]] = (kind, m["name"], m["metricType"])
        elif node["nodeName"].startswith("Scan "):
            for m in node["metrics"]:
                if m["name"] == "size of files read":
                    accum[m["accumulatorId"]] = ("scan", m["name"], m["metricType"])
        for child in node["children"]:
            walk(child)

    stage_group: dict[int, str] = {}
    exec_group: dict[str, str] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    for e in events:
        kind = e["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            walk(e["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            stats[group].jobs.add(e["Job ID"])
            exec_group.setdefault(props.get("spark.sql.execution.id"), group)
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, group)

    def add(g: GroupStats, acc_id: int, update) -> None:
        if acc_id in accum:
            node, name, mtype = accum[acc_id]
            g.sql[(node, name)] += float(update) * _TO_SECONDS.get(mtype, 1.0)

    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            continue
        if kind.endswith("DriverAccumUpdates"):
            # scan sizes are reported per SQL execution, not per task
            g = stats[exec_group.get(str(e["executionId"]), "")]
            for acc_id, update in e["accumUpdates"]:
                add(g, acc_id, update)
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            g = stats[stage_group.get(e["Stage ID"], "")]
            g.stages.add(e["Stage ID"])
            m = e["Task Metrics"]
            g.task_run_s.append(m["Executor Run Time"] / 1e3)
            g.cpu_s += m["Executor CPU Time"] / 1e9
            g.gc_s += m["JVM GC Time"] / 1e3
            g.deserialize_s += m["Executor Deserialize Time"] / 1e3
            g.fetch_wait_s += m["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3
            g.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            g.spill_bytes += m["Disk Bytes Spilled"]
            for a in e["Task Info"].get("Accumulables", []):
                if "Update" in a:
                    add(g, a["ID"], a["Update"])
    return stats


def merge(stats: dict[str, GroupStats], groups: set[str]) -> GroupStats:
    """One GroupStats over several job groups."""
    out = GroupStats()
    for name in groups:
        g = stats.get(f"bench:{name}")
        if g is None:
            continue
        out.jobs |= g.jobs
        out.stages |= g.stages
        out.task_run_s += g.task_run_s
        for f in ("cpu_s", "gc_s", "deserialize_s", "fetch_wait_s", "shuffle_write_bytes",
                  "spill_bytes"):
            setattr(out, f, getattr(out, f) + getattr(g, f))
        for k, v in g.sql.items():
            out.sql[k] += v
    return out
