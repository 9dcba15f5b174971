"""Per-layer tracing: wall-clock spans around calls into the program's
modules, and a stdlib roll-up of Spark's uncompressed JSON event log keyed
by the job description each span sets.

A span is opened with ``Tracer.span(label)``: it sets the label as the
Spark job description, so every Spark job the call starts carries it into
``SparkListenerJobStart``, and records the span's wall time. After the
session stops, ``rollup`` sums task metrics and the Python-worker SQL
metrics per label.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

MiB = 1 << 20
EVENT_LOG_CONF = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false"}

# SQL metrics the Python-worker boundary reports (ArrowEvalPython and
# MapInPandas both emit these names)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
SCAN_BYTES = "size of files read"


class Tracer:
    """Spans keyed by label: wall seconds, and the JVM's garbage-collection
    seconds over the span (local mode runs driver and executors in one JVM,
    so this counts every collection the span paid for)."""

    def __init__(self, sc):
        self.sc = sc
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.gc: dict[str, float] = defaultdict(float)

    def _gc_s(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    @contextlib.contextmanager
    def span(self, label: str):
        self.sc.setJobDescription(label)
        gc0, t = self._gc_s(), time.perf_counter()
        try:
            yield
        finally:
            self.walls[label].append(time.perf_counter() - t)
            self.gc[label] += self._gc_s() - gc0
            self.sc.setJobDescription(None)


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not path.endswith(".inprogress.crc"):
            with open(path) as fh:
                for line in fh:
                    yield json.loads(line)


def _plan_metric_names(node: dict, names: dict[int, str]):
    for m in node.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for c in node.get("children", []):
        _plan_metric_names(c, names)


def rollup(log_dir: str) -> dict[str, dict]:
    """Per job-description label: job count, summed task metrics, bytes the
    file scans read, Python worker bytes and time, and per-stage task times
    (for skew).

    Scan bytes come from the scan nodes' driver-side "size of files read"
    metric: a task's own input metric misses reads made on the thread that
    feeds a Python worker."""
    stage_label: dict[int, str] = {}
    exec_label: dict[str, str] = {}
    metric_names: dict[int, str] = {}
    scan_bytes: dict[str, int] = defaultdict(int)
    out: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "tasks": 0,
            "task_s": 0.0,
            "cpu_s": 0.0,
            "input_mb": 0.0,
            "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0,
            "spill_mb": 0.0,
            "python_mb": 0.0,
            "python_s": 0.0,
            "python_reported": False,
            "stage_tasks": defaultdict(list),
        }
    )
    for e in _events(log_dir):
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metric_names(e["sparkPlanInfo"], metric_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                if metric_names.get(acc_id) == SCAN_BYTES:
                    scan_bytes[str(e["executionId"])] += value
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            label = props.get("spark.job.description")
            if label:
                out[label]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_label[sid] = label
                if props.get("spark.sql.execution.id") is not None:
                    exec_label[str(props["spark.sql.execution.id"])] = label
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if label is None or not m:
                continue
            r = out[label]
            r["tasks"] += 1
            r["task_s"] += m["Executor Run Time"] / 1e3
            r["cpu_s"] += m["Executor CPU Time"] / 1e9
            r["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MiB
            sr = m["Shuffle Read Metrics"]
            r["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / MiB
            r["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / MiB
            r["stage_tasks"][e["Stage ID"]].append(m["Executor Run Time"] / 1e3)
            for a in e["Task Info"].get("Accumulables", []):
                name, upd = a.get("Name"), a.get("Update")
                if upd is None:
                    continue
                if name in (PY_SENT, PY_RETURNED):
                    r["python_mb"] += int(upd) / MiB
                    r["python_reported"] = True
                elif name == PY_RUN:
                    r["python_s"] += int(upd) / 1e3
    for ex, label in exec_label.items():
        out[label]["input_mb"] += scan_bytes.get(ex, 0) / MiB
    return out


def task_skew(r: dict) -> float:
    """Max over median task time in the label's stage with the most task
    time."""
    if not r["stage_tasks"]:
        return 0.0
    times = max(r["stage_tasks"].values(), key=sum)
    med = statistics.median(times)
    return max(times) / med if med > 0 else 1.0
