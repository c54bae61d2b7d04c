"""Global physical-plan invariants over the committed PLANAUDIT.json.

`tools/plan_audit.py` sweeps every registered query's physical plan and
records the scale-relevant counters. These tests make the artifact part of
the contract:

- the registry and the artifact may not drift (a query added without
  re-running the audit fails here — run `python tools/plan_audit.py`),
- zero row-at-a-time Python UDFs anywhere in the engine,
- every cartesian / broadcast-nested-loop join appears in the audited
  allowlist with a bounded-side justification,
- a sample of size-independent plans re-derived live must match the
  recorded shuffle budgets (a rewrite that silently adds an exchange to a
  flagship query fails here before it ships).
"""

from __future__ import annotations

import json
import os

import pytest

from plan_audit import (
    LOWCARD_WINDOW_ALLOWLIST,
    PRODUCT_JOIN_ALLOWLIST,
    audit_plan,
    lowcard_windows,
)

from trading_data_pipeline_spark.registry import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def audit() -> dict:
    path = os.path.join(REPO, "PLANAUDIT.json")
    with open(path) as f:
        return json.load(f)


def test_artifact_covers_registry(audit):
    registered = set(all_queries())
    audited = set(audit["queries"])
    missing = registered - audited
    stale = audited - registered
    assert not missing, (
        f"queries missing from PLANAUDIT.json (run tools/plan_audit.py): {sorted(missing)}"
    )
    assert not stale, f"stale audit entries for removed queries: {sorted(stale)}"


def test_no_audit_errors(audit):
    errs = {k: v["err"] for k, v in audit["queries"].items() if v.get("err")}
    assert not errs, errs


def test_no_row_python_udfs_anywhere(audit):
    offenders = {
        k: v["row_python_udf"]
        for k, v in audit["queries"].items()
        if v.get("err") is None and v["row_python_udf"]
    }
    assert not offenders, (
        f"row-at-a-time Python UDFs found (use Arrow pandas UDFs): {offenders}"
    )


def test_product_joins_are_allowlisted(audit):
    offenders = sorted(
        k
        for k, v in audit["queries"].items()
        if v.get("err") is None
        and (v["cartesian"] or v["bnlj"])
        and k not in PRODUCT_JOIN_ALLOWLIST
    )
    assert not offenders, (
        "unapproved CartesianProduct/BroadcastNestedLoopJoin (add to "
        f"PRODUCT_JOIN_ALLOWLIST with a bounded-side justification): {offenders}"
    )


def test_allowlist_has_no_dead_entries(audit):
    """Every allowlisted name still exists and still has a product join —
    keeps the allowlist honest as queries get rewritten."""
    qs = audit["queries"]
    dead = sorted(
        name
        for name in PRODUCT_JOIN_ALLOWLIST
        if name not in qs
        or (qs[name].get("err") is None and not (qs[name]["cartesian"] or qs[name]["bnlj"]))
    )
    assert not dead, f"allowlist entries with no product join in the plan: {dead}"


def test_no_lowcard_windows_over_raw_facts(audit):
    """No Window may sort an un-aggregated fact scan under a bounded
    partition key set (event_type ~5, source ~5, or empty = global):
    that is one sort task per key value at 100× — the round-7 tick
    quartet's scale-killer class. Fix = the q_dollar_bars two-pass
    decomposition (within-(key, day) window + calendar-sized per-day
    offset/boundary join-back), never an allowlist entry."""
    offenders = {
        k: v["lowcard_windows"]
        for k, v in audit["queries"].items()
        if v.get("err") is None
        and v.get("lowcard_windows")
        and k not in LOWCARD_WINDOW_ALLOWLIST
    }
    assert not offenders, (
        f"low-cardinality-partition windows over raw fact scans: {offenders}"
    )


def test_lowcard_window_detector_flags_the_bad_shape(spark, sf_dir):
    """The detector itself must keep seeing the shape it exists for: a
    per-type raw-event window (the pre-round-8 q_vpin formulation) is
    flagged; the fixed two-pass q_vpin is clean — live, not from the
    artifact, so a detector regression can't hide behind a stale
    PLANAUDIT.json."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from trading_data_pipeline_spark.registry import load

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    bad = ev.withColumn("_l", F.lag("value").over(w))
    hits = lowcard_windows(bad._jdf.queryExecution().executedPlan().toString())
    assert hits and hits[0]["partition_by"] == ["event_type"], hits

    specs = all_queries()
    for name in ("q_vpin", "q_markout", "q_flow_persistence", "q_interarrival"):
        df = specs[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not lowcard_windows(plan), f"{name} regressed to a raw-event window"


# Size-independent plans: no join whose strategy could flip between the
# audit's sf0.01 and the test fixture's sf0.001 (single-table pipelines or
# hinted-broadcast joins only).
_SAMPLE = ("q_report1", "q_dedup_exact", "q_groupby_agg", "q_topn", "q_text_stats")


def test_sample_shuffle_budgets_match_live(audit, spark, sf_dir):
    specs = all_queries()
    for name in _SAMPLE:
        df = specs[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        live = audit_plan(plan, "")["shuffles"]
        recorded = audit["queries"][name]["shuffles"]
        assert live == recorded, (
            f"{name}: live plan has {live} shuffle exchanges, PLANAUDIT.json "
            f"records {recorded} — re-run tools/plan_audit.py if the change "
            "is intentional"
        )
