"""Hand-built semantics for the round-7 indicator batch: stochastic
oscillator, Money Flow Index, dollar bars, and Sortino."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import functions as F

from trading_data_pipeline_spark.operators.bars import daily_ohlcv
from trading_data_pipeline_spark.operators.indicators2_queries import (
    dollar_bars,
    mfi,
    stochastic,
)
from trading_data_pipeline_spark.operators.risk_queries import sortino

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _ev(spark, rows):
    """rows: (event_id, day, price, qty) for a single 'x' instrument."""
    return spark.createDataFrame(
        [
            (
                eid,
                dt.datetime(2024, 1, day, 12, 0, 0),
                1,
                "x",
                float(price),
                json.dumps({"k": qty}),
            )
            for eid, day, price, qty in rows
        ],
        EVENT_SCHEMA,
    )


def test_ohlc_bars_first_last_min_max(spark):
    # two days; within-day order by (ts, event_id) -> event_id here
    ev = _ev(
        spark,
        [(1, 1, 10.0, 5), (2, 1, 14.0, 2), (3, 1, 8.0, 1), (4, 1, 12.0, 2),
         (5, 2, 20.0, 1)],
    )
    bars = {r.day.day: r for r in daily_ohlcv(ev).collect()}
    b1 = bars[1]
    assert (b1.o_c, b1.h_c, b1.l_c, b1.c_c, b1.vol) == (
        1000, 1400, 800, 1200, 10
    )
    assert (bars[2].o_c, bars[2].c_c, bars[2].vol) == (2000, 2000, 1)


def test_stochastic_hand_computed(spark):
    # n=3, d=2 over closes 10,20,30,40,25 (one event/day so h=l=c)
    rows = [(i, i, c, 1) for i, c in enumerate([10, 20, 30, 40, 25], 1)]
    out = {
        r.day.day: r
        for r in stochastic(_ev(spark, rows), n=3, d=2).collect()
    }
    # day4: window {20,30,40}: k=(40-20)/20=1.0; day3: {10,20,30} k=1.0
    # -> %D(day4) = 100*(1+1)/2 = 100
    assert out[4].pct_k == 100.0 and out[4].pct_d == 100.0
    # day5: window {30,40,25}: k=(25-25)/(40-25)=0 -> %K=0,
    # %D = 100*(1.0+0.0)/2 = 50
    assert out[5].pct_k == 0.0 and out[5].pct_d == 50.0
    assert set(out) == {4, 5}  # rn >= n+d-1 = 4


def test_stochastic_flat_range_pins_50(spark):
    rows = [(i, i, 7.0, 1) for i in range(1, 6)]
    out = stochastic(_ev(spark, rows), n=3, d=2).collect()
    assert out and all(r.pct_k == 50.0 and r.pct_d == 50.0 for r in out)


def test_mfi_hand_computed(spark):
    # n=2; one event/day: tp = 3*cents, flow = 3*cents*qty
    # closes 10(q1) 20(q2) 15(q3) 30(q4): dtp signs +,-,+
    rows = [(1, 1, 10.0, 1), (2, 2, 20.0, 2), (3, 3, 15.0, 3), (4, 4, 30.0, 4)]
    out = {r.day.day: r for r in mfi(_ev(spark, rows), n=2).collect()}
    f = lambda c, q: 3 * c * 100 * q
    # day3 frame {day2:+, day3:-}: pos=f(20,2), neg=f(15,3)
    assert out[3].pos_flow == f(20, 2) and out[3].neg_flow == f(15, 3)
    assert out[3].mfi == round(
        f(20, 2) * 100 / (f(20, 2) + f(15, 3)), 4
    )
    # day4 frame {day3:-, day4:+}
    assert out[4].pos_flow == f(30, 4) and out[4].neg_flow == f(15, 3)


def test_dollar_bars_assignment_and_conservation(spark):
    # threshold 1000 cents; dollars per trade: 600, 600, 600
    # gcum-before: 0, 600, 1200 -> bars 0,0,1
    rows = [(1, 1, 3.0, 2), (2, 1, 3.0, 2), (3, 1, 3.0, 2)]
    out = {r.bar_id: r for r in dollar_bars(_ev(spark, rows), 1000).collect()}
    assert out[0].n_trades == 2 and out[1].n_trades == 1
    assert out[0].bar_dollars == 1200 and out[1].bar_dollars == 600
    assert out[0].open == 3.0 and out[0].close == 3.0


def test_dollar_bars_two_pass_cumsum_spans_days(spark, sf_dir):
    """The two-pass (within-day + calendar-offset) running sum must be
    conservation-exact: bar dollars sum to the corpus total and trades
    partition cleanly across bars."""
    from trading_data_pipeline_spark.registry import load

    ev = load(spark, sf_dir, "events")
    out = dollar_bars(ev).collect()
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    qty = F.coalesce(F.get_json_object("props", "$.k").cast("long"), F.lit(0))
    tot = ev.select(F.sum(cents * qty).alias("t")).collect()[0].t
    assert sum(r.bar_dollars for r in out) == tot
    assert sum(r.n_trades for r in out) == ev.count()
    # every bar except each type's last must have crossed the threshold
    last = {
        t: max(r.bar_id for r in out if r.event_type == t)
        for t in {r.event_type for r in out}
    }
    for r in out:
        if r.bar_id < last[r.event_type]:
            assert r.bar_dollars >= 1  # non-empty closed bar


def test_sortino_hand_computed_and_no_loss_null(spark):
    # moves: +100, -200, +300 cents -> n=3, sx=200, sdd=40000
    rows = [(1, 1, 10.0, 1), (2, 2, 11.0, 1), (3, 3, 9.0, 1), (4, 4, 12.0, 1)]
    r = sortino(_ev(spark, rows)).collect()[0]
    import math

    dd = math.sqrt(40000 / 3)
    want = (200 / 3) / dd
    assert r.n_days == 3 and r.n_down_days == 1
    assert abs(r.sortino - want) < 1e-7
    # monotone up -> no losing day -> NULL
    rows_up = [(1, 1, 10.0, 1), (2, 2, 11.0, 1), (3, 3, 12.0, 1)]
    r2 = sortino(_ev(spark, rows_up)).collect()[0]
    assert r2.sortino is None and r2.n_down_days == 0


def test_rolling_beta_identity_on_single_type(spark):
    # one instrument -> index == its own moves -> beta == 1 exactly
    from trading_data_pipeline_spark.operators.indicators2_queries import (
        rolling_beta,
    )

    rows = [(i, i, float(10 + ((i * 7) % 5)), 1) for i in range(1, 16)]
    out = rolling_beta(_ev(spark, rows), n=5).collect()
    assert out and all(r.beta == 1.0 for r in out)
    # 14 moves, full frames from the 5th move
    assert len(out) == 10


def test_rolling_beta_inverse_type_scores_minus_share(spark):
    # two instruments with exactly opposite moves -> index m = 0 each day
    # -> flat index -> den = 0 -> NULL beta (documented degenerate case)
    import datetime as dt
    import json

    from trading_data_pipeline_spark.operators.indicators2_queries import (
        rolling_beta,
    )

    rows = []
    eid = 0
    for day in range(1, 13):
        px = 10 + (day % 3)
        for t, p in (("a", px), ("b", 20 - px)):
            eid += 1
            rows.append(
                (
                    eid,
                    dt.datetime(2024, 1, day, 12),
                    1,
                    t,
                    float(p),
                    json.dumps({"k": 1}),
                )
            )
    ev = spark.createDataFrame(rows, EVENT_SCHEMA)
    out = rolling_beta(ev, n=5).collect()
    assert out and all(r.beta is None for r in out)


def test_vpin_hand_computed(spark):
    """Tick rule + equal-volume buckets on a crafted tape: prices
    10,11,11,9,12 with volumes 3,4,2,5,6 — signs +,+(carried),-,+;
    first trade unclassified. Bucket size 6: classified stream (4,+)
    (2,+) (5,-) (6,+) cuts at cum-before 0,4,6,11 -> buckets 0,0,1,1."""
    from trading_data_pipeline_spark.operators.microstructure_queries import (
        vpin,
    )

    rows = [
        (1, 1, 10.0, 3),
        (2, 1, 11.0, 4),
        (3, 1, 11.0, 2),
        (4, 1, 9.0, 5),
        (5, 1, 12.0, 6),
    ]
    out = {
        r.bucket_id: r for r in vpin(_ev(spark, rows), v=6, k=1).collect()
    }
    assert set(out) == {0, 1}
    assert (out[0].buy, out[0].sell, out[0].imb) == (6, 0, 6)
    assert (out[1].buy, out[1].sell, out[1].imb) == (6, 5, 1)
    assert out[0].vpin == 1.0
    assert abs(out[1].vpin - 1 / 11) < 1e-6


def test_macd_constant_series_is_zero(spark):
    from trading_data_pipeline_spark.operators.indicators2_queries import macd

    rows = [(i, i, 25.0, 1) for i in range(1, 25)]
    out = macd(_ev(spark, rows)).collect()
    assert out and all(
        r.macd == 0.0 and r.signal == 0.0 and r.hist == 0.0 for r in out
    )


def test_macd_weights_have_no_engine_pow(spark):
    """The EMA weights must be plan literals — neither plan may contain
    a POWER/pow call (libm pow is not correctly rounded)."""
    from trading_data_pipeline_spark.operators.indicators2_queries import (
        _ema_weights,
        q_macd,
    )
    from trading_data_pipeline_spark.registry import all_queries

    w = _ema_weights(6)
    assert w[0] == 1.0 and all(b < a for a, b in zip(w, w[1:]))
    oracle = all_queries()["q_macd"].oracle
    assert "pow" not in oracle.lower()


def test_ewma_vol_constant_magnitude_moves(spark):
    # closes alternate +1/-1 dollars -> every dc^2 = 10000 cents^2
    # -> weighted mean = 10000 -> vol = 1.0 exactly
    from trading_data_pipeline_spark.operators.indicators2_queries import (
        ewma_vol,
    )

    rows = [(i, i, 10.0 + (i % 2), 1) for i in range(1, 28)]
    out = ewma_vol(_ev(spark, rows), L=10).collect()
    assert out and all(r.ewma_vol == 1.0 for r in out)
