"""Spans, self time and Spark counters for the traced run.

Spans are recorded only from the benchmark's own files, around calls into
each layer's public functions. A span has a name, start, end, parent and
run id; spans are kept in memory and written as JSONL when the run ends.
A layer's self time is its span's duration minus the part of that
interval its child spans cover.

Spark's own numbers come from its event log (enabled only for the traced
run): every job carries the job group the benchmark set for its
operation, so each task's metrics fold into the operation that caused it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "name": name,
            "run_id": self.run_id,
            "id": self._next_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self._next_id += 1
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = fn
        return traced

    def write_jsonl(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], []))
        for s in spans
    }


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    st = self_times(spans)
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def sum_attr(spans: list[dict], name: str, key: str) -> float:
    return sum(s["attrs"].get(key, 0) for s in spans if s["name"] == name)


# ------------------------------------------------------------ Spark jobs


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@contextmanager
def count_jobs(tracer: Tracer, spark, group: str, attrs: dict):
    """Record in ``attrs['jobs']`` the Spark jobs started in the block
    (nothing when the tracer is off)."""
    if not tracer.enabled:
        yield
        return
    before = jobs_in_group(spark, group)
    try:
        yield
    finally:
        attrs["jobs"] = jobs_in_group(spark, group) - before


def plan_phases(df) -> dict[str, float]:
    """Force the physical plan and return Spark's own phase timings (s)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    jvm = df.sparkSession._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
    return {str(k): phases.get(k).durationMs() / 1000.0 for k in phases.keySet()}


# ------------------------------------------------------------ event log


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every log file under ``log_dir`` (a rolling log is a
    directory of ``events_*`` files)."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    events.append(json.loads(line))
    return events


def spark_counters(events: list[dict], groups: set[str], cores: int) -> dict:
    """Fold the tasks of every job whose group is in ``groups``."""
    stage_of_job: dict[int, list[int]] = {}
    job_span: dict[int, list[float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get("spark.jobGroup.id") in groups:
                jid = ev["Job ID"]
                stage_of_job[jid] = list(ev.get("Stage IDs", []))
                job_span[jid] = [ev["Submission Time"], None]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = ev["Completion Time"]
    stages = {s for ids in stage_of_job.values() for s in ids}
    c = {
        "tasks": 0,
        "tasks_failed": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "jvm_gc_s": 0.0,
    }
    task_times: dict[int, list[float]] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd" or ev["Stage ID"] not in stages:
            continue
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        c["tasks"] += 1
        c["tasks_failed"] += int(bool(info.get("Failed")))
        rd = m.get("Shuffle Read Metrics") or {}
        c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
        task_times.setdefault(ev["Stage ID"], []).append(
            info["Finish Time"] - info["Launch Time"]
        )
    done = [(s / 1e3, e / 1e3) for s, e in job_span.values() if e is not None]
    c["jobs"] = len(job_span)
    c["exec_s"] = covered(done)
    c["core_busy_ratio"] = (
        c["executor_cpu_s"] / (c["exec_s"] * cores) if c["exec_s"] > 0 else 0.0
    )
    c["task_skew_max"] = task_skew_max(task_times)
    return c


def task_skew_max(task_times: dict[int, list[float]]) -> float:
    """Largest max/median task-time ratio over stages with >= 2 tasks."""
    worst = 1.0
    for times in task_times.values():
        if len(times) >= 2:
            # task times are whole milliseconds; floor the median at 1 ms
            worst = max(worst, max(times) / max(statistics.median(times), 1.0))
    return worst
