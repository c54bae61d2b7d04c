"""tools/query_profile.py: the event-log folds on a hand-written event list, and
one run of the command over two registered queries and an unknown name."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "query_profile.py")

_spec = importlib.util.spec_from_file_location("query_profile", TOOL)
query_profile = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(query_profile)


def _job(jid, group, stages, execution):
    return [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": jid,
            "Submission Time": 1000 * jid,
            "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group, "spark.sql.execution.id": str(execution)},
        },
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": 1000 * jid + 100},
    ]


def _task(stage, ms, spill=0, accums=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": 5,
            "Finish Time": 5 + ms,
            "Failed": False,
            # SQL metric updates are logged as strings
            "Accumulables": [{"ID": i, "Update": str(v), "Metadata": "sql"} for i, v in accums],
        },
        "Task Metrics": {
            "Executor Run Time": ms,
            "Executor CPU Time": ms * 1_000_000,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
        },
    }


def _node(name, accums=(), children=()):
    return {
        "nodeName": name,
        "metrics": [{"name": m, "accumulatorId": i} for m, i in accums],
        "children": list(children),
    }


SMJ_PLAN = _node("SortMergeJoin", [("number of output rows", 7)], [_node("Scan parquet", [("number of output rows", 8)])])
BHJ_PLAN = _node(
    "AdaptiveSparkPlan",
    children=[_node("BroadcastHashJoin", [("number of output rows", 7)], [_node("Scan parquet", [("number of output rows", 8)])])],
)

EVENTS = [
    {"Event": query_profile.SQL_START, "executionId": 0, "sparkPlanInfo": SMJ_PLAN},
    *_job(1, "q_a", [1, 2], 0),
    _task(1, 10, accums=[(8, 100)]),
    _task(1, 10, accums=[(8, 50)]),
    _task(1, 40),
    _task(2, 7, spill=4096, accums=[(7, 3)]),
    _task(2, 9, accums=[(7, 4)]),
    {"Event": query_profile.AQE_UPDATE, "executionId": 0, "sparkPlanInfo": BHJ_PLAN},
    {"Event": query_profile.DRIVER_ACCUMS, "executionId": 0, "accumUpdates": [[7, 5]]},
    # another query's job: none of it may reach q_a's row
    {"Event": query_profile.SQL_START, "executionId": 1, "sparkPlanInfo": _node("Filter", [("n", 9)])},
    *_job(2, "q_b", [3], 1),
    _task(3, 1000, spill=1, accums=[(9, 1)]),
]


@pytest.fixture(scope="module")
def folded():
    return query_profile.fold(EVENTS, {"q_a", "q_b"}, cores=4)


def test_fold_stage_task_times(folded):
    stages = {s["stage"]: s for s in folded["q_a"]["stages"]}
    assert set(stages) == {1, 2}
    assert (stages[1]["tasks"], stages[1]["task_ms_max"], stages[1]["task_ms_median"]) == (3, 40, 10)
    assert (stages[2]["tasks"], stages[2]["task_ms_max"], stages[2]["task_ms_median"]) == (2, 9, 8)
    assert stages[1]["run_s"] == pytest.approx(0.06)
    assert stages[1]["cpu_s"] == pytest.approx(0.06)
    assert stages[1]["gc_s"] == pytest.approx(0.003)


def test_fold_spill(folded):
    stages = {s["stage"]: s for s in folded["q_a"]["stages"]}
    assert (stages[1]["spill_bytes"], stages[2]["spill_bytes"]) == (0, 4096)
    assert folded["q_a"]["spark"]["spill_bytes"] == 4096
    assert folded["q_a"]["spark"]["jobs"] == 1
    assert folded["q_a"]["spark"]["tasks"] == 5
    assert folded["q_b"]["spark"]["spill_bytes"] == 1


def test_fold_sql_metric_sums_tasks_and_driver_updates(folded):
    nodes = {n["node"]: n for n in folded["q_a"]["nodes"]}
    # two task updates (3 + 4) plus one driver update (5)
    assert nodes["BroadcastHashJoin"]["metrics"] == {"number of output rows": 12}
    assert nodes["Scan parquet"]["metrics"] == {"number of output rows": 150}
    assert [n["node"] for n in folded["q_b"]["nodes"]] == ["Filter"]
    assert folded["q_b"]["nodes"][0]["metrics"] == {"n": 1}


def test_fold_aqe_update_replaces_plan_info(folded):
    names = [n["node"] for n in folded["q_a"]["nodes"]]
    # AdaptiveSparkPlan declares no metric, so it has no row
    assert names == ["BroadcastHashJoin", "Scan parquet"]
    assert all(n["execution"] == 0 for n in folded["q_a"]["nodes"])


def test_profile_command_rows_and_resume(tmp_path, sf_dir):
    out = tmp_path / "rows.jsonl"
    cmd = [sys.executable, TOOL, sf_dir, "q_topn", "q_report1", "q_no_such_query", "--out", str(out)]
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g"}
    proc = subprocess.run(cmd, cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = {r["query"]: r for r in map(json.loads, out.read_text().splitlines())}
    assert set(rows) == {"q_topn", "q_report1", "q_no_such_query"}
    assert "error" in rows["q_no_such_query"]
    for name in ("q_topn", "q_report1"):
        r = rows[name]
        assert "error" not in r, r
        assert r["spark"]["jobs"] >= 1
        assert r["stages"] and r["nodes"]
        for k in ("build_s", "analysis_s", "optimization_s", "planning_s", "exec_s"):
            assert r[k] >= 0
        assert r["sec"] >= r["build_s"] + r["exec_s"] - 1e-3  # rounded to 0.1 ms

    again = subprocess.run(cmd, cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert again.returncode == 0, again.stderr[-2000:]
    assert len(out.read_text().splitlines()) == 3
