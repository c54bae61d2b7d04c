"""``bars.ohlc`` against a sort-then-first/last brute force on adversarial
inputs, and the plan evidence that a bar output nobody reads costs
nothing."""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from trading_data_pipeline_spark.operators.bars import ohlc
from trading_data_pipeline_spark.operators.indicators_queries import daily_close
from trading_data_pipeline_spark.registry import load

COLS = ["k", "ts", "event_id", "price", "lo", "hi", "q"]
SCHEMA = (
    "k string, ts long, event_id long, price double, lo double, hi double, "
    "q long"
)


@st.composite
def bar_rows(draw):
    """Few keys (NULL among them) so groups repeat and single-row groups
    occur; ts from 0..3 so ties are common and event_id decides them;
    prices NULL often enough that a group's first row has none."""
    n = draw(st.integers(1, 12))
    eids = draw(st.permutations(range(n)))
    key = st.sampled_from([None, "a", "b", "c"])
    price = st.one_of(st.none(), st.integers(0, 40).map(lambda c: c / 4))
    return [
        (draw(key), draw(st.integers(0, 3)), eid, draw(price), draw(price),
         draw(price), draw(st.integers(0, 9)))
        for eid in eids
    ]


def brute(rows, low: str, high: str) -> dict:
    pdf = pd.DataFrame(rows, columns=COLS).sort_values(
        ["ts", "event_id"], kind="mergesort"
    )
    out = {}
    for k, g in pdf.groupby("k", dropna=False, sort=False):
        bar = (
            g.price.iloc[0], g[high].max(), g[low].min(), g.price.iloc[-1],
            int(g.q.sum()),
        )
        out[None if pd.isna(k) else k] = tuple(
            None if pd.isna(v) else v for v in bar
        )
    return out


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=bar_rows(), own_range=st.booleans())
def test_ohlc_matches_sorted_first_last(spark, rows, own_range):
    low, high = ("lo", "hi") if own_range else ("price", "price")
    want = brute(rows, low, high)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")  # > groups
    try:
        for order in (rows, rows[::-1]):  # input order must not matter
            bars = ohlc(
                spark.createDataFrame(order, SCHEMA),
                ["k"],
                ["ts", "event_id"],
                "price",
                F.sum("q").alias("vol"),
                **({"low": "lo", "high": "hi"} if own_range else {}),
            )
            got = {
                r.k: (r.open, r.high, r.low, r.close, r.vol)
                for r in bars.collect()
            }
            assert got == want
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_ohlc_of_empty_input_keeps_the_schema(spark):
    bars = ohlc(
        spark.createDataFrame([], SCHEMA), ["k"], ["ts", "event_id"], "price",
        F.sum("q").alias("vol"),
    )
    assert bars.collect() == []
    assert bars.columns == ["k", "open", "high", "low", "close", "vol"]


def test_unused_bar_outputs_are_pruned(spark, sf_dir):
    """daily_close reads only the close of ``daily_ohlcv``: its day
    Window computes ``last`` alone, its aggregate is one ``min``, and the
    volume's JSON parse never runs."""
    plan = (
        daily_close(load(spark, sf_dir, "events"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    windows = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert len(windows) == 1, plan
    assert "last(" in windows[0], plan
    assert "nth_value(" not in windows[0] and "first(" not in windows[0], plan
    aggs = re.findall(r"HashAggregate\(keys=\[[^\]]*\], functions=\[([^\]]*)\]", plan)
    assert aggs and all(re.fullmatch(r"(partial_)?min\([^,]*\)", a) for a in aggs), plan
    assert "get_json_object" not in plan, plan
