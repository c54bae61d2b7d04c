"""Profile registered queries: one JSONL row per query with its frame
build, Catalyst-phase and execute times and Spark's own per-stage and
per-plan-node metrics.

    python tools/query_profile.py SF_DIR [QUERY ...] [--skip a,b] [--runs N]
                                  [--out FILE] [--plans DIR]

No QUERY means every registered query. ``--runs N`` > 1: the first run is
a warm-up, the row holds the median of the rest. ``--out`` appends each
row as its query ends and skips queries already in FILE (a killed run
resumes), else rows go to stdout. ``--plans``: ``DIR/<query>.txt`` ``explain("formatted")``.

A row: ``build_s``/``build_jobs`` (frame construction and the jobs it
starts), Catalyst's ``analysis_s``/``optimization_s``/``planning_s``,
``exec_s`` (a noop write), ``sec`` = build + plan + first execute (as in
``SCALEAUDIT*.jsonl``), or ``error``/``trace_tail``. Jobs run under
``setJobGroup(name, name)``; after ``stop_session`` (the event log is
complete only then) each row gets its group's ``spark`` counters, ``stages``
and ``nodes`` (SQL-metric nodes of the final AQE plans), warm-ups included.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from perfbench.run import build_session, setup_env, stop_session  # noqa: E402
from perfbench.trace import jobs_in_group, plan_phases, read_event_log, spark_counters  # noqa: E402

_SQL = "org.apache.spark.sql.execution.ui."
SQL_START = _SQL + "SparkListenerSQLExecutionStart"
AQE_UPDATE = _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUMS = _SQL + "SparkListenerDriverAccumUpdates"


def profile_query(spark, specs, name: str, sf_dir: str, runs: int, plans: str | None) -> dict:
    """Build, plan and execute a query ``runs`` times under its job group."""
    spark.sparkContext.setJobGroup(name, name)
    row: dict = {"query": name, "runs": runs}
    samples, t0 = [], time.perf_counter()
    try:
        for i in range(runs):
            jobs0, t0 = jobs_in_group(spark, name), time.perf_counter()
            df = specs[name].fn(spark, sf_dir)
            t1, jobs1 = time.perf_counter(), jobs_in_group(spark, name)
            phases = {f"{k}_s": v for k, v in plan_phases(df).items()}
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            samples.append(dict(build_s=t1 - t0, build_jobs=jobs1 - jobs0, **phases, exec_s=t3 - t2, sec=t3 - t0))
            if plans and i == 0:
                mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                with open(os.path.join(plans, f"{name}.txt"), "w") as fh:
                    fh.write(df._jdf.queryExecution().explainString(mode))
        timed = samples[1:] or samples
        row.update({k: round(statistics.median(s[k] for s in timed), 4) for k in timed[0]})
    except Exception as e:  # noqa: BLE001 -- a failing query gets a row, the loop goes on
        row["sec"] = round(time.perf_counter() - t0, 4)
        row["error"] = f"{type(e).__name__}: {e}"[:500]
        row["trace_tail"] = traceback.format_exc().splitlines()[-1][:300]
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    return row


def stage_metrics(task_ends: list[dict]) -> list[dict]:
    by_stage: dict[int, list[dict]] = {}
    for ev in task_ends:
        by_stage.setdefault(ev["Stage ID"], []).append(ev)
    out = []
    for sid, evs in sorted(by_stage.items()):
        ms = [e["Task Info"]["Finish Time"] - e["Task Info"]["Launch Time"] for e in evs]
        tm = [e.get("Task Metrics") or {} for e in evs]
        rd = [m.get("Shuffle Read Metrics") or {} for m in tm]
        wr = [m.get("Shuffle Write Metrics") or {} for m in tm]
        out.append({
            "stage": sid,
            "tasks": len(evs),
            "run_s": sum(m.get("Executor Run Time", 0) for m in tm) / 1e3,
            "cpu_s": sum(m.get("Executor CPU Time", 0) for m in tm) / 1e9,
            "gc_s": sum(m.get("JVM GC Time", 0) for m in tm) / 1e3,
            "shuffle_read_bytes": sum(r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0) for r in rd),
            "shuffle_write_bytes": sum(w.get("Shuffle Bytes Written", 0) for w in wr),
            "spill_bytes": sum(m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0) for m in tm),
            "task_ms_max": max(ms),
            "task_ms_median": statistics.median(ms),
        })
    return out


def plan_nodes(plan: dict, values: dict[int, int]) -> list[dict]:
    """The nodes of a plan-info tree that have SQL metrics, pre-order."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.get("metrics"):
            metrics = {m["name"]: values.get(m["accumulatorId"], 0) for m in node["metrics"]}
            out.append({"node": node["nodeName"], "metrics": metrics})
        stack.extend(reversed(node.get("children") or []))
    return out


def fold(events: list[dict], groups: set[str], cores: int) -> dict[str, dict]:
    """Job group -> ``spark``, ``stages`` and ``nodes`` of its jobs."""
    group_of_job: dict[int, str] = {}
    group_of_stage: dict[int, str] = {}
    group_of_exec: dict[int, str] = {}
    plan_of_exec: dict[int, dict] = {}
    values: dict[int, int] = {}  # SQL metric accumulator id -> sum of updates
    evs_of: dict[str, list[dict]] = {g: [] for g in groups}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g in groups:
                group_of_job[ev["Job ID"]] = g
                evs_of[g].append(ev)
                group_of_stage.update((s, g) for s in ev.get("Stage IDs", []))
                if props.get("spark.sql.execution.id") is not None:
                    group_of_exec[int(props["spark.sql.execution.id"])] = g
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in group_of_job:
            evs_of[group_of_job[ev["Job ID"]]].append(ev)
        elif kind == "SparkListenerTaskEnd":
            if ev["Stage ID"] in group_of_stage:
                evs_of[group_of_stage[ev["Stage ID"]]].append(ev)
            for acc in ev["Task Info"].get("Accumulables") or []:
                if acc.get("Metadata") == "sql":  # SQL metric updates are logged as strings
                    values[acc["ID"]] = values.get(acc["ID"], 0) + int(acc["Update"])
        elif kind in (SQL_START, AQE_UPDATE):  # an AQE update replaces the plan
            plan_of_exec[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind == DRIVER_ACCUMS:
            for acc_id, v in ev["accumUpdates"]:
                values[acc_id] = values.get(acc_id, 0) + int(v)
    return {
        g: {
            "spark": spark_counters(evs, {g}, cores),
            "stages": stage_metrics([e for e in evs if e["Event"] == "SparkListenerTaskEnd"]),
            "nodes": [
                {"execution": x, **n}
                for x in sorted(x for x, xg in group_of_exec.items() if xg == g and x in plan_of_exec)
                for n in plan_nodes(plan_of_exec[x], values)
            ],
        }
        for g, evs in evs_of.items()
    }


def read_rows(path: str | None) -> list[dict]:
    if not path or not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="*", help="registered query names (default: all)")
    ap.add_argument("--skip", default="", help="comma-separated names to leave out")
    ap.add_argument("--runs", type=int, default=1, help="runs per query; > 1: the first is a warm-up")
    ap.add_argument("--out", help="JSONL file to append to; the queries already in it are skipped")
    ap.add_argument("--plans", help="directory for <query>.txt formatted plans")
    args = ap.parse_args(argv)
    if args.runs < 1:
        ap.error("--runs must be >= 1")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    from trading_data_pipeline_spark.registry import all_queries

    requested = args.queries or list(all_queries())
    done = {r["query"] for r in read_rows(args.out)} | set(args.skip.split(","))
    names = [n for n in requested if n not in done]
    if not names:
        return 0
    work_dir = os.path.join(os.getcwd(), ".profile_work", str(os.getpid()))
    setup_env(work_dir)
    # Python workers unpickle the registered UDFs by module, from any cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))
    rows, spark = [], None
    try:
        spark = build_session(work_dir, os.path.join(work_dir, "eventlog"))
        for name in names:
            rows.append(profile_query(spark, all_queries(), name, args.sf_dir, args.runs, args.plans))
            if args.out:
                with open(args.out, "a", encoding="utf-8") as fh:
                    fh.write(json.dumps(rows[-1]) + "\n")
            print(json.dumps({k: rows[-1].get(k) for k in ("query", "sec", "error")}), file=sys.stderr)
        stop_session(spark)
        spark = None
        events = read_event_log(os.path.join(work_dir, "eventlog"))
        folded = fold(events, set(names), int(os.environ["SPARK_GRAFT_CPUS"]))
        merged = {r["query"]: {**r, **folded[r["query"]]} for r in rows}
        if not args.out:
            print("\n".join(json.dumps(r) for r in merged.values()))
            return 0
        with open(f"{args.out}.tmp", "w", encoding="utf-8") as fh:
            fh.writelines(json.dumps(merged.get(r["query"], r)) + "\n" for r in read_rows(args.out))
        os.replace(f"{args.out}.tmp", args.out)
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
