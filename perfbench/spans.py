"""Spans around the benchmark's calls into the program, and a Spark
event-log reader that attributes engine work to those spans.

Every op the harness runs is timed through ``Tracer.span``; with the
tracer enabled the spans are also kept (in memory, written out once at
the end of the run).  Spark jobs are assigned to an op by time window:
ops run one at a time, and job groups/descriptions are not inherited by
the thread pools some entries submit from, so the window is the only
attribution that sees every job.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

SPARK_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "busy_s",
    "driver_gap_s",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_s",
)
STREAMING_METRICS = ("batches", "input_rows", "add_batch_s", "commit_s")

# Spark 4.1 PythonSQLMetrics: a millisecond timing metric per task that
# spans the worker's whole share of the task (it overlaps the
# "time to start/initialize Python workers" metrics, which are not added)
PYTHON_TIME_METRIC = "time to run Python workers"


class Tracer:
    """Times every span; records them only while ``enabled``.

    A span record holds its name, wall-clock ``start``/``end`` (epoch
    seconds, comparable with event-log timestamps), ``dur`` (from the
    monotonic clock), its parent's id and the op id shared by all spans
    of one op."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        rec = {"name": name, "start": time.time()}
        p0 = time.perf_counter()
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            rec["id"] = len(self.spans)
            rec["parent"] = parent["id"] if parent else None
            rec["op"] = op if op is not None else (parent["op"] if parent else None)
            self.spans.append(rec)
            self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - p0
            rec["end"] = time.time()
            if self.enabled:
                self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_events(log_dir: str) -> list[dict]:
    """Every event of every (uncompressed) log under ``log_dir``."""
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.startswith("appstatus"):
                continue
            with open(os.path.join(root, name)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def attribute(events: list[dict], windows: dict[int, tuple[float, float]]) -> dict[int, dict]:
    """Per-op engine metrics for op windows ``{op_id: (start_s, end_s)}``.

    A job belongs to the op whose window holds its submission time; its
    stages and tasks follow it.  ``busy_s`` is the union of the op's job
    intervals, ``driver_gap_s`` the rest of the op's wall time.  A
    streaming progress event belongs to the op whose window holds its
    trigger timestamp."""

    def owner(t_s: float) -> int | None:
        for op, (s, e) in windows.items():
            if s <= t_s <= e:
                return op
        return None

    out = {op: dict.fromkeys(SPARK_METRICS + STREAMING_METRICS, 0) for op in windows}
    job_op: dict[int, int] = {}
    stage_op: dict[int, int] = {}
    job_start: dict[int, float] = {}
    intervals: dict[int, list] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            op = owner(ev["Submission Time"] / 1000.0)
            if op is None:
                continue
            jid = ev["Job ID"]
            job_op[jid] = op
            job_start[jid] = ev["Submission Time"] / 1000.0
            out[op]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_op[sid] = op
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_op:
            jid = ev["Job ID"]
            intervals[job_op[jid]].append((job_start[jid], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            op = stage_op.get(ev["Stage Info"]["Stage ID"])
            if op is not None:
                out[op]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev["Stage ID"])
            if op is None:
                continue
            m = out[op]
            tm = ev.get("Task Metrics") or {}
            m["tasks"] += 1
            m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PYTHON_TIME_METRIC:
                    m["python_s"] += float(acc.get("Update", 0)) / 1e3
        elif kind.endswith("QueryProgressEvent"):
            prog = ev["progress"]
            op = owner(_epoch_s(prog["timestamp"]))
            if op is None:
                continue
            m = out[op]
            dur = prog.get("durationMs") or {}
            m["batches"] += 1
            m["input_rows"] += sum(s.get("numInputRows", 0) for s in prog.get("sources", []))
            m["add_batch_s"] += dur.get("addBatch", 0) / 1e3
            m["commit_s"] += (dur.get("walCommit", 0) + dur.get("commitOffsets", 0)) / 1e3
    for op, (s, e) in windows.items():
        busy = _union_s([(max(a, s), min(b, e)) for a, b in intervals[op] if b > s and a < e])
        out[op]["busy_s"] = busy
        out[op]["driver_gap_s"] = max(0.0, (e - s) - busy)
    return out
