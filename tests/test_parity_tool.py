"""tools/parity.py with query names: it counts only those, and a name
that is not registered stops it before Spark starts."""

from __future__ import annotations

import sys

import parity

import trading_data_pipeline_spark.session as session


def test_parity_rejects_a_misspelt_query_before_spark(monkeypatch, sf_dir, capsys):
    def no_spark(*args, **kwargs):
        raise AssertionError("parity started Spark")

    monkeypatch.setattr(session, "build_session", no_spark)
    monkeypatch.setattr(sys, "argv", ["parity.py", sf_dir, "q_report1", "q_reprot1"])
    assert parity.main() != 0
    assert "q_reprot1" in capsys.readouterr().err


def test_parity_counts_the_selected_queries(monkeypatch, spark, sf_dir, capsys):
    monkeypatch.setattr(session, "build_session", lambda *args, **kwargs: spark)
    monkeypatch.setattr(sys, "argv", ["parity.py", sf_dir, "q_report1"])
    assert parity.main() == 0
    assert "\n1/1 parity-clean" in capsys.readouterr().out
