"""Spans, Spark event-log folding and the streaming listener.

Spans are recorded in every run: they are the benchmark's timers
(``perf_counter`` around each call into a layer) and cost microseconds.
A *traced* run adds what does cost time: a Spark job group per call and
phase (``<call>:build``, ``<call>:plan``, ``<call>:exec``), a separate
planning step, the Spark event log, and a ``StreamingQueryListener``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None


@dataclass
class Trace:
    sc: object = None  # SparkContext; job groups are set only when traced
    traced: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, layer: str, group: str | None = None):
        if self.traced and group is not None:
            self.sc.setJobGroup(group, group)
        idx = len(self.spans)
        now = time.perf_counter()
        self.spans.append(Span(name, layer, now, now, self._stack[-1] if self._stack else None))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def total(self, layer: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.layer == layer)

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the time their children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child[i]
        return out

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {"id": i, "name": s.name, "layer": s.layer, "start_s": round(s.start - t0, 6),
             "end_s": round(s.end - t0, 6), "parent": s.parent}
            for i, s in enumerate(self.spans)
        ]


# --- Spark event log -------------------------------------------------------

EXEC_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def fold_event_log(log_dir: str, app_id: str, t0_ms: float, t1_ms: float) -> dict:
    """Task metrics of the jobs submitted in ``[t0_ms, t1_ms]``, in total
    and per job group (``None`` for jobs outside any benchmark group, such
    as streaming micro-batches)."""
    paths = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*")))
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "events_*"))) if os.path.isdir(p) else [p]
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stage_acc: dict[int, dict] = {}
    for p in files:
        with open(p, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if not t0_ms <= ev["Submission Time"] <= t1_ms:
                        continue
                    job = ev["Job ID"]
                    job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    if sid not in stage_job:
                        continue
                    m = ev.get("Task Metrics") or {}
                    a = stage_acc.setdefault(sid, dict.fromkeys(EXEC_KEYS[2:], 0.0))
                    a["tasks"] += 1
                    a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    groups: dict[str | None, dict] = {}

    def acc(g):
        return groups.setdefault(g, dict.fromkeys(EXEC_KEYS, 0.0))

    for job, g in job_group.items():
        acc(g)["jobs"] += 1
    for sid, a in stage_acc.items():
        tgt = acc(job_group[stage_job[sid]])
        tgt["stages"] += 1
        for k, v in a.items():
            tgt[k] += v
    total = dict.fromkeys(EXEC_KEYS, 0.0)
    for g in groups.values():
        for k in EXEC_KEYS:
            total[k] += g[k]
    return {"total": total, "groups": groups, "files": len(files)}


# --- streaming listener ----------------------------------------------------


def make_listener():
    """A ``StreamingQueryListener`` that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started = 0
            self.terminated = 0
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            with self.lock:
                self.started += 1

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self.lock:
                self.progress.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated += 1

        def settle(self, timeout_s: float = 20.0) -> None:
            """Wait until every started query's termination was delivered
            (listener events arrive asynchronously)."""
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                with self.lock:
                    if self.terminated >= self.started:
                        return
                time.sleep(0.05)

    return ProgressLog()


def fold_progress(progress: list[dict]) -> dict:
    def ms(p, k):
        return (p.get("durationMs") or {}).get(k, 0) / 1e3

    last_by_query: dict[str, dict] = {}
    for p in progress:
        last_by_query[p["id"]] = p
    ops = [op for p in last_by_query.values() for op in p.get("stateOperators") or []]
    return {
        "batches": len(progress),
        "trigger_s": sum(ms(p, "triggerExecution") for p in progress),
        "add_batch_s": sum(ms(p, "addBatch") for p in progress),
        "planning_s": sum(ms(p, "queryPlanning") for p in progress),
        "wal_commit_s": sum(ms(p, "walCommit") + ms(p, "commitOffsets") for p in progress),
        "state_commit_s": sum(
            op.get("commitTimeMs", 0) / 1e3 for p in progress for op in p.get("stateOperators") or []
        ),
        "state_rows": sum(op.get("numRowsTotal", 0) for op in ops),
        "state_bytes": sum(op.get("memoryUsedBytes", 0) for op in ops),
    }
