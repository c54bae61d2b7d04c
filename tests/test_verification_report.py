"""VERIFICATION.md telemetry (round-8 verdict task 7): the generated
report must reconcile with the registry — every registered query either
has a driver row, sits in the live window, or sits in EXACTLY ONE staged
future window; no red rows linger unaccounted."""

import os

REPO = os.path.join(os.path.dirname(__file__), "..")


def test_debt_accounting_is_closed():
    from verification_report import load_driver_rows, staged_windows

    from trading_data_pipeline_spark.registry import _PRIORITY, all_queries

    qs = all_queries()
    rows = load_driver_rows(REPO)
    live_round = max(r for r, _ in rows.values()) + 1
    never = {n for n in qs if n not in rows}
    future = {
        name: set(win)
        for name, win in staged_windows().items()
        if int(name[1:]) > live_round
    }
    # staged windows must not overlap each other or the live window —
    # except the two canaries, which by design lead EVERY window
    canaries = {"q_report1", "q_dedup_near"}
    seen: set[str] = set(_PRIORITY)
    for name, win in sorted(future.items()):
        dup = (win & seen) - canaries
        assert not dup, f"{name} window overlaps an earlier one: {sorted(dup)}"
        seen |= win
    # every never-verified query is covered exactly once
    uncovered = never - seen
    assert not uncovered, f"never-verified queries with no window: {sorted(uncovered)}"


def test_no_outstanding_red_rows():
    from verification_report import load_driver_rows

    rows = load_driver_rows(REPO)
    fails = sorted(n for n, (_, s) in rows.items() if s == "FAIL")
    assert not fails, f"latest driver row is red for: {fails}"


def test_report_file_is_fresh():
    """VERIFICATION.md must exist and reflect the current registry size
    (regenerate via tools/verification_report.py after registry edits)."""
    from trading_data_pipeline_spark.registry import all_queries

    path = os.path.join(REPO, "VERIFICATION.md")
    assert os.path.exists(path), "run: PYTHONPATH=. python tools/verification_report.py"
    content = open(path).read()
    assert f"Registered queries: **{len(all_queries())}**" in content, (
        "VERIFICATION.md is stale — regenerate it"
    )
    assert "Unstaged (MUST be zero): 0" in content
    assert "Double-staged (MUST be zero): 0" in content
