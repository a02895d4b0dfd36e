"""Spans recorded by the benchmark around the engine's public calls, and
the Spark event-log totals attributed to them.

A span is (name, job group, start, end, parent). Every span runs alone,
so a stage belongs to the span whose job group it carries; stages with no
group (jobs started from the engine's helper threads or the streaming
thread) belong to the span whose wall-clock window holds their
submission time.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, trace_id: str):
        self.sc, self.trace_id = sc, trace_id
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        group = f"{self.trace_id}/{len(self.spans)}/{name}"
        rec = {"name": name, "group": group, "parent": parent, "trace_id": self.trace_id}
        self.sc.setJobGroup(group, name)
        rec["start_ms"] = time.time() * 1000
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1000
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)


def _zero() -> dict:
    return dict(jobs=0, stages=0, tasks=0, run_ms=0, cpu_ns=0, gc_ms=0, shuffle_write_bytes=0,
                spill_bytes=0, input_bytes=0, table_input_bytes=0)


def _scan_size_metrics(plan: dict, table_dir: str, out: dict) -> None:
    """Map the accumulator id of every file scan's "size of files read"
    metric to whether the scan reads ``table_dir``."""
    if plan["nodeName"].startswith("Scan "):
        location = plan.get("metadata", {}).get("Location", "")
        for m in plan["metrics"]:
            if m["name"] == "size of files read":
                out[m["accumulatorId"]] = table_dir in location
    for child in plan["children"]:
        _scan_size_metrics(child, table_dir, out)


def attribute(event_log: str, spans: list[dict], table_dir: str) -> None:
    """Add the Spark totals of each span to it, under ``"spark"``.

    Input bytes are the sizes of the files each scan opened (the SQL
    scan metric; the task input metrics stay 0 for the vectorized parquet
    reader), split out for the scans of ``table_dir``."""
    by_group = {s["group"]: s for s in spans}
    for s in spans:
        s["spark"] = _zero()

    def owner(group, t_ms):
        if group in by_group:
            return by_group[group]
        for s in spans:
            if s["start_ms"] <= t_ms <= s["end_ms"]:
                return s
        return None

    stage_owner, exec_owner, scan_sizes = {}, {}, {}
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerSQLExecutionStart":
                exec_owner[ev["executionId"]] = owner(None, ev["time"])
            if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                _scan_size_metrics(ev["sparkPlanInfo"], table_dir, scan_sizes)
            elif kind == "SparkListenerDriverAccumUpdates":
                s = exec_owner.get(ev["executionId"])
                for acc_id, value in ev["accumUpdates"]:
                    if s is not None and acc_id in scan_sizes:
                        s["spark"]["input_bytes"] += value
                        if scan_sizes[acc_id]:
                            s["spark"]["table_input_bytes"] += value
            elif kind == "SparkListenerJobStart":
                s = owner(ev.get("Properties", {}).get("spark.jobGroup.id"), ev["Submission Time"])
                if s:
                    s["spark"]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                s = owner(
                    (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    info.get("Submission Time", 0),
                )
                stage_owner[info["Stage ID"]] = s
                if s:
                    s["spark"]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                s = stage_owner.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if s is None or not m:
                    continue
                t = s["spark"]
                t["tasks"] += 1
                t["run_ms"] += m["Executor Run Time"]
                t["cpu_ns"] += m["Executor CPU Time"]
                t["gc_ms"] += m["JVM GC Time"]
                t["spill_bytes"] += m["Disk Bytes Spilled"]
                t["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]


def event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    done = [f for f in files if not f.endswith(".inprogress")]
    if len(done) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return done[0]


def write(path: str, spans: list[dict], metrics: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spans": spans, "per_layer": metrics}, f, indent=1)
