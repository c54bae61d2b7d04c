"""``bars.ohlc`` against a sort-then-first/last brute force on adversarial
inputs, the daily bar's DuckDB twin against its Spark form (and the cent
rule on Spark, DuckDB and pandas), the check
that no oracle writes its own daily bar, and the plan evidence that a
bar output nobody reads costs nothing."""

from __future__ import annotations

import datetime as dt
import re
import uuid

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from trading_data_pipeline_spark.operators.bars import (
    _BARS_SQL,
    _CENTS,
    _MOVES_SQL,
    cents,
    daily_bars,
    daily_moves,
    daily_ohlcv,
    ohlc,
    pandas_cents,
)
from trading_data_pipeline_spark.operators.indicators_queries import daily_close
from trading_data_pipeline_spark.registry import all_queries, load

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


# The window that orders a day's events for its open and close.
BAR_WINDOW = "PARTITION BY event_type, day ORDER BY ts, event_id"
# Oracles that order a day's events without building a bar from them.
NOT_BARS = {"q_realized_vol": "tick-to-tick moves within a day"}


def _flat(sql: str) -> str:
    return " ".join(sql.split())


def test_oracles_take_the_daily_bar_from_bars():
    """An oracle that orders a day's events by (ts, event_id) builds a
    daily bar, and must take it from ``_BARS_SQL``: a copy of the window
    anywhere else in its text is a second bar definition."""
    bars_sql = _flat(_BARS_SQL)
    users, copies = [], []
    for name, spec in sorted(all_queries().items()):
        sql = _flat(spec.oracle or "")
        if BAR_WINDOW not in sql or name in NOT_BARS:
            continue
        users.append(name)
        if bars_sql not in sql or BAR_WINDOW in sql.replace(bars_sql, ""):
            copies.append(name)
    assert copies == []
    assert len(users) >= 70, users
    for name in NOT_BARS:
        sql = all_queries()[name].oracle
        assert "first_value" not in sql and "last_value" not in sql, name


EVENTS_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
# Half-cent boundaries: 1.005 * 100 is 100.49999999999999 in binary64,
# so every engine must round it down to 100 cents and 0.015 up to 2;
# 0.125 * 100 is exactly 12.5 and rounds up to 13.
PRICES = [None, 0.0, 0.005, 0.015, 0.125, 1.005, 2.675, 10.0, 99.995]
PROPS = [None, "{}", '{"k": 0}', '{"k": 3}', '{"k": 12}']


def _ev(eid, day, sec, etype, value, props):
    ts = dt.datetime(2021, 4, 15 + day, 9, 0, sec)
    return (eid, ts, 1, etype, value, props)


# One day each of: a ts tie broken by event_id, NULL in the first row, NULL
# in the last row, a single event, a missing or NULL props.$.k.
ADVERSARIAL = [
    _ev(1, 0, 0, "a", 1.005, '{"k": 3}'),
    _ev(0, 0, 0, "a", 0.005, "{}"),
    _ev(2, 0, 1, "a", 2.675, None),
    _ev(3, 1, 0, "a", None, '{"k": 12}'),
    _ev(4, 1, 1, "a", 0.015, '{"k": 0}'),
    _ev(5, 2, 0, "a", 99.995, '{"k": 3}'),
    _ev(6, 2, 1, "a", None, "{}"),
    _ev(7, 0, 1, "b", 10.0, None),
]


@st.composite
def events_rows(draw):
    """Two types over three days, ts from two seconds a day so ties are
    common and event_id (a permutation) decides them."""
    n = draw(st.integers(0, 14))
    return [
        _ev(
            eid,
            draw(st.integers(0, 2)),
            draw(st.integers(0, 1)),
            draw(st.sampled_from(["a", "b"])),
            draw(st.sampled_from(PRICES)),
            draw(st.sampled_from(PROPS)),
        )
        for eid in draw(st.permutations(range(n)))
    ]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=events_rows())
@example(rows=ADVERSARIAL)
@example(rows=[])
def test_bars_sql_equals_daily_bars(spark, sf_dir, tmp_path, rows):
    """``_BARS_SQL``/``_MOVES_SQL`` on DuckDB and ``daily_ohlcv``/
    ``daily_bars``/``daily_moves`` on Spark read the same parquet file
    (the test data's schema) and return the same rows; so do the cent
    rule's three forms, ``_CENTS``, ``cents`` and ``pandas_cents`` (fed
    the column as Arrow hands it to pandas, NULL as NaN)."""
    d = tmp_path / uuid.uuid4().hex
    d.mkdir()
    schema = pq.read_schema(f"{sf_dir}/events.parquet").remove_metadata()
    table = pa.Table.from_pandas(
        pd.DataFrame(rows, columns=EVENTS_COLS), schema=schema,
        preserve_index=False,
    )
    pq.write_table(table, d / "events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
    )
    events = load(spark, str(d), "events")
    for frame, ctes, cte, cols in (
        (daily_ohlcv, _BARS_SQL, "bars", "event_type, day, o_c, h_c, l_c, c_c, vol"),
        (daily_bars, _BARS_SQL, "moves", "event_type, day, c_c, vol, dc, prev_c"),
        (daily_moves, _MOVES_SQL, "mv", "event_type, day, x, vol"),
    ):
        got = frame(events).select(*cols.split(", ")).collect()
        want = con.execute(f"WITH {ctes} SELECT {cols} FROM {cte}").fetchall()
        assert sorted(map(tuple, got)) == sorted(want), frame.__name__
    spark_c = events.select("event_id", cents().alias("c")).collect()
    duck_c = con.execute(f"SELECT event_id, {_CENTS} FROM events").fetchall()
    pandas_c = zip(
        table.column("event_id").to_pylist(),
        pandas_cents(table.column("value").to_pandas()),
    )
    assert (
        sorted(map(tuple, spark_c))
        == sorted(duck_c)
        == sorted((e, None if pd.isna(c) else int(c)) for e, c in pandas_c)
    )


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
