"""Tests of the benchmark's own arithmetic, generators and checks. None of
them starts Spark: ``python3 -m pytest perfbench/tests -q`` from the repo
root."""

from __future__ import annotations

import glob
import os
from datetime import date

import duckdb
import pandas as pd
import pytest

from perfbench import checks, gen
from perfbench.layers import pass_time, per_op_medians
from perfbench.run import Section, percentile, tail_percentile, unstolen_factor
from perfbench.trace import Tracer, covered, self_time_by_name, self_times, spark_counters


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "attrs": {}}


# ------------------------------------------------------------- spans


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "build", 1.0, 4.0, parent=0),
        _span(2, "load", 1.5, 2.0, parent=1),
        _span(3, "load", 2.5, 3.5, parent=1),
        _span(4, "exec", 5.0, 9.0, parent=0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 4.0)
    assert st[1] == pytest.approx(3.0 - 1.5)
    assert st[4] == pytest.approx(4.0)
    by_name = self_time_by_name(spans)
    assert by_name["load"] == pytest.approx(1.5)
    # the self times of a tree add up to its root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_overlapping_children_are_counted_once():
    assert covered([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == pytest.approx(4.0)
    assert covered([]) == 0.0


def test_tracer_records_parents_and_a_disabled_tracer_records_nothing():
    tr = Tracer("r1")
    with tr.span("op", op="q"):
        with tr.span("build") as a:
            a["jobs"] = 2
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["build"]["parent"] == by_name["op"]["id"]
    assert by_name["build"]["attrs"] == {"jobs": 2}
    assert {s["run_id"] for s in tr.spans} == {"r1"}
    off = Tracer("r2", enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_spark_counters_fold_only_the_chosen_groups():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "other"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 9000},
    ]
    for stage, ms in ((0, 100), (0, 300), (0, 100), (1, 50)):
        events.append(
            {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
             "Task Info": {"Launch Time": 0, "Finish Time": ms, "Failed": False},
             "Task Metrics": {"Executor Run Time": ms, "Executor CPU Time": ms * 10**6,
                              "JVM GC Time": 1, "Memory Bytes Spilled": 0,
                              "Disk Bytes Spilled": 0,
                              "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5},
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}}
        )
    c = spark_counters(events, {"g"}, cores=4)
    assert (c["jobs"], c["tasks"]) == (1, 3)
    assert c["exec_s"] == pytest.approx(2.0)
    assert c["executor_cpu_s"] == pytest.approx(0.5)
    assert c["core_busy_ratio"] == pytest.approx(0.5 / (2.0 * 4))
    assert c["task_skew_max"] == pytest.approx(3.0)
    assert (c["shuffle_read_bytes"], c["shuffle_write_bytes"]) == (15, 21)


# ------------------------------------------------------------- tail


@pytest.mark.parametrize(
    "n, p", [(5, None), (14, None), (99, None), (100, 90), (200, 95), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond_it(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        values = list(range(n))
        beyond = [v for v in values if v > percentile(values, p)]
        assert len(beyond) >= 10


# ------------------------------------------------------------- stolen time


def test_unstolen_factor_is_the_share_of_cpu_time_the_machine_got():
    assert unstolen_factor(3.0, 1.0) == pytest.approx(0.75)
    assert unstolen_factor(2.0, 0.0) == 1.0
    assert unstolen_factor(0.0, 0.0) == 1.0


def test_pass_time_sums_per_op_medians_measured_or_unstolen():
    sec = Section()
    sec.passes = [{"a": 1.0, "b": 2.0}, {"a": 3.0, "b": 4.0}, {"a": 2.0, "b": 9.0}]
    sec.unstolen = [{"a": 1.0, "b": 2.0}, {"a": 1.5, "b": 2.0}, {"a": 1.2, "b": 2.5}]
    assert per_op_medians(sec) == {"a": 2.0, "b": 4.0}
    assert pass_time(sec) == pytest.approx(6.0)
    assert pass_time(sec, unstolen=True) == pytest.approx(1.2 + 2.0)


# ------------------------------------------------------------- generators


def test_tables_are_one_output_per_seed():
    a, b, c = gen.make_tables(7), gen.make_tables(7), gen.make_tables(8)
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["lineitem"].equals(c["lineitem"])
    assert {n: len(t) for n, t in a.items() if n in gen.SF01_ROWS} == gen.SF01_ROWS


def test_documents_plant_duplicate_families():
    docs = gen.make_tables(3)["documents"]
    families = checks.duplicate_families(docs)
    assert sum(len(f) - 1 for f in families) == gen.N_NEAR_DUPS + gen.N_EXACT_DUPS
    assert (docs["n_chars"] == docs["text"].str.len()).all()


def test_xetra_layout_and_determinism(tmp_path):
    today = date(2026, 10, 14)  # a Wednesday
    spec = gen.XetraSpec(isins=5, calendar_days=10, hours=(8, 9), trades_per_hour=0.2)
    info = gen.write_xetra(str(tmp_path / "a"), 5, today, spec)
    again = gen.write_xetra(str(tmp_path / "b"), 5, today, spec)
    assert info == again
    dirs = sorted(os.listdir(tmp_path / "a"))
    # weekdays only, from the warm-up day before the first extract date
    assert dirs == [d.isoformat() for d in gen.trading_days(date(2026, 10, 4), today)]
    for d in dirs:
        assert sorted(os.listdir(tmp_path / "a" / d)) == [f"{d}_BINS_XETR08.csv", f"{d}_BINS_XETR09.csv"]
    frames = [pd.read_csv(f, dtype=str) for f in glob.glob(str(tmp_path / "a" / "*" / "*.csv"))]
    df = pd.concat(frames)
    assert list(df.columns) == [c.split()[0] for c in _csv_schema().split(", ")]
    assert not df.duplicated(["ISIN", "Date", "Time"]).any()
    for a_file in glob.glob(str(tmp_path / "a" / "*" / "*.csv")):
        b_file = a_file.replace(str(tmp_path / "a"), str(tmp_path / "b"))
        assert open(a_file).read() == open(b_file).read()


def _csv_schema() -> str:
    from trading_data_pipeline_spark.etl import CSV_SCHEMA_XETRA

    return CSV_SCHEMA_XETRA


# ------------------------------------------------------------- checks


def test_spark_round_is_half_up_on_the_decimal_form():
    assert checks.spark_round(0.125, 2) == 0.13
    assert checks.spark_round(2.675, 2) == 2.68  # binary 2.67499..., Spark gives 2.68
    assert checks.spark_round(-1.005, 2) == -1.01


def test_oracle_check_allows_only_a_rounding_tie():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT 1.005::DOUBLE AS x")  # binary 1.00499...
    sql = "SELECT round(x, 2) AS r FROM t"
    assert con.execute(sql).fetchone()[0] == 1.0
    assert checks.check_oracle(con, sql, pd.DataFrame({"r": [1.0]})) == []
    assert checks.check_oracle(con, sql, pd.DataFrame({"r": [1.01]})) == []  # Spark's HALF_UP
    assert checks.check_oracle(con, sql, pd.DataFrame({"r": [1.02]}))


def test_etl_check_rejects_a_report_with_one_changed_price(tmp_path):
    today = date(2026, 10, 14)
    spec = gen.XetraSpec(isins=4, calendar_days=6, hours=(8, 9), trades_per_hour=0.3)
    gen.write_xetra(str(tmp_path), 11, today, spec)
    files = sorted(glob.glob(str(tmp_path / "*" / "*.csv")))
    cutoff = gen.first_extract_date(today, spec).isoformat()
    expected = checks.expected_report1(files, cutoff)
    assert len(expected) > 0 and (expected["Date"] >= cutoff).all()
    assert checks.check_report(expected.copy(), expected) == []
    changed = expected.copy()
    changed.loc[3, "closing_price_eur"] = changed.loc[3, "closing_price_eur"] + 0.01
    assert checks.check_report(changed, expected)


def test_expected_report_matches_a_hand_computed_day(tmp_path):
    d0, d1 = "2026-10-12", "2026-10-13"
    header = (
        "ISIN,Mnemonic,Currency,SecurityType,Date,Time,StartPrice,MaxPrice,"
        "MinPrice,EndPrice,TradedVolume,NumberOfTrades"
    )
    rows = {
        d0: ["X,M,EUR,s,{d},08:00,20.21,20.42,18.21,18.27,633,1"],
        d1: ["X,M,EUR,s,{d},09:00,19.27,21.14,19.27,21.14,1220,1",
             "X,M,EUR,s,{d},08:00,20.58,20.58,18.89,19.27,9066,1"],
    }
    files = []
    for d, lines in rows.items():
        path = tmp_path / f"{d}.csv"
        path.write_text("\n".join([header] + [ln.format(d=d) for ln in lines]) + "\n")
        files.append(str(path))
    got = checks.expected_report1(files, d1)
    assert got.to_dict("records") == [
        {"ISIN": "X", "Date": d1, "opening_price_eur": 20.58, "closing_price_eur": 19.27,
         "minimum_price_eur": 18.89, "maximum_price_eur": 21.14,
         "daily_traded_volume": 10286, "change_prev_closing_%": 1.83}
    ]


def test_meta_check_names_missing_and_extra_dates():
    assert checks.check_meta_dates(["a", "b"], ["b", "a"]) == []
    assert checks.check_meta_dates(["a", "c"], ["a", "b"])


def test_exact_jaccard_pairs_match_a_naive_loop():
    docs = pd.DataFrame(
        {"doc_id": [0, 1, 2, 3], "text": ["a b c", "a b c d", "a b", "x y z"]}
    )
    got = checks.exact_token_jaccard_pairs(docs, 0.5)
    want = []
    toks = {i: set(t.split()) for i, t in zip(docs["doc_id"], docs["text"])}
    for i in toks:
        for j in toks:
            if i < j:
                jac = len(toks[i] & toks[j]) / len(toks[i] | toks[j])
                if jac >= 0.5:
                    want.append((i, j, checks.spark_round(jac, 4)))
    assert list(got.itertuples(index=False, name=None)) == want


def test_shingle_check_flags_wrong_values_and_missing_planted_pairs():
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["a b c d e", "a b c d e dup", "p q r s t"],
        }
    )
    exact = checks.spark_round(3 / 4, 4)
    good = pd.DataFrame({"doc_a": [0], "doc_b": [1], "jaccard": [exact]})
    assert checks.check_shingle_pairs(good, docs, "jaccard", 0.5) == []
    wrong = good.assign(jaccard=[0.9])
    assert checks.check_shingle_pairs(wrong, docs, "jaccard", 0.5)
    assert checks.check_shingle_pairs(good.iloc[:0], docs, "jaccard", 0.5)
