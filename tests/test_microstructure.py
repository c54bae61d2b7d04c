"""Hand-built semantics for the microstructure estimators: realized
volatility, Roll spread, Kyle lambda, Amihud illiquidity, lead-lag
correlation, and the volume-weighted median."""

from __future__ import annotations

import datetime as dt
import math

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _ev(spark, rows, etype="click"):
    # rows: (day, hour, value, k) — one event type, fixed user
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, d, h), 1, etype, v, '{"k": %d}' % k)
            for i, (d, h, v, k) in enumerate(rows)
        ],
        EVENT_SCHEMA,
    )


def test_daily_bars_close_vol_and_moves(spark):
    from trading_data_pipeline_spark.operators.bars import daily_bars

    ev = _ev(
        spark,
        [(1, 9, 10.0, 5), (1, 15, 12.0, 7), (2, 9, 11.0, 3)],
    )
    rows = {r.day.day: r for r in daily_bars(ev).collect()}
    assert rows[1].c_c == 1200 and rows[1].vol == 12
    assert rows[2].c_c == 1100 and rows[2].vol == 3
    assert rows[1].dc is None and rows[2].dc == -100
    assert rows[2].prev_c == 1200


def test_realized_vol_hand_computed(spark):
    from trading_data_pipeline_spark.operators.microstructure_queries import (
        realized_vol,
    )

    # day 1 moves (cents): +100, -50 → rv = sqrt(100² + 50²)/100
    ev = _ev(spark, [(1, 9, 10.0, 1), (1, 12, 11.0, 1), (1, 15, 10.5, 1)])
    [r] = realized_vol(ev).collect()
    assert r.n_moves == 2
    assert r.rv == math.sqrt(100**2 + 50**2) / 100


def test_roll_spread_alternating_tape(spark):
    from trading_data_pipeline_spark.operators.microstructure_queries import (
        roll_spread,
    )

    # closes bounce ±10 cents around 10.00 → Δc alternates +10/−10:
    # x·y = −100 every pair, sx = ±10 or 0 — strongly negative autocov
    closes = [10.0 + (0.10 if d % 2 else 0.0) for d in range(9)]
    ev = _ev(spark, [(d + 1, 9, c, 1) for d, c in enumerate(closes)])
    [r] = roll_spread(ev).collect()
    # pairs: 7 of (x,y) from Δ = [+10,−10,...]: n=7, sxy=−700,
    # sx = Δ1..7 sums: +10−10+10−10+10−10+10 = +10; sy = Δ2..8 = −10
    n, sxy, sx, sy = 7, -700, 10, -10
    cov = (n * sxy - sx * sy) / (n * n)
    assert r.n_pairs == n and r.cov_c2 == cov
    assert r.roll_spread == 2 * math.sqrt(-cov) / 100


def test_kyle_lambda_exact_slope(spark):
    from trading_data_pipeline_spark.operators.microstructure_queries import (
        kyle_lambda,
    )

    # Construct Δc = 0.02 · signed-volume exactly: day closes move by
    # k-proportional amounts with alternating sign.
    rows, price = [], 50.0
    for d, (k, sign) in enumerate(
        [(10, 1), (20, -1), (5, 1), (40, -1), (25, 1)], start=2
    ):
        price += sign * 0.02 * k
        rows.append((d, 9, price, k))
    ev = _ev(spark, [(1, 9, 50.0, 1)] + rows)
    [r] = kyle_lambda(ev).collect()
    assert r.n_days == 5
    assert r.kyle_lambda == 2.0  # cents per unit signed volume


def test_amihud_hand_computed(spark):
    from trading_data_pipeline_spark.operators.microstructure_queries import (
        AMIHUD_SCALE,
        amihud,
    )

    # day2: |Δc|=100, prev=1000, vol=4 → ratio 100/4000
    # day3: |Δc|=50, prev=1100, vol=10 → ratio 50/11000
    ev = _ev(spark, [(1, 9, 10.0, 5), (2, 9, 11.0, 4), (3, 9, 10.5, 10)])
    [r] = amihud(ev).collect()
    q1 = math.floor(AMIHUD_SCALE * 100 / 4000 + 0.5)
    q2 = math.floor(AMIHUD_SCALE * 50 / 11000 + 0.5)
    assert r.n_days == 2
    assert r.amihud == (q1 + q2) / (2 * AMIHUD_SCALE)


def test_amihud_skips_zero_volume_days(spark):
    from trading_data_pipeline_spark.operators.microstructure_queries import (
        amihud,
    )

    ev = _ev(spark, [(1, 9, 10.0, 5), (2, 9, 11.0, 0), (3, 9, 10.5, 2)])
    [r] = amihud(ev).collect()
    assert r.n_days == 1  # only day 3 has prev close AND volume


def test_leadlag_perfectly_correlated(spark):
    from trading_data_pipeline_spark.operators.microstructure_queries import (
        leadlag_corr,
    )

    # purchase's move on day d+1 = 2 × click's move on day d → r = 1
    click_closes = [10.0, 10.5, 10.2, 10.8, 10.1, 10.6]
    a = _ev(
        spark,
        [(d + 1, 9, c, 1) for d, c in enumerate(click_closes)],
        etype="click",
    )
    purch, price = [], 20.0
    moves = [50, -30, 60, -70, 50]  # click Δcents, days 2..6
    purch.append((1, 9, price, 1))
    for d, m in enumerate(moves, start=2):
        price += 2 * m / 100.0
        purch.append((d + 1, 9, price, 1))  # day d+1 mirrors click day d
    b = _ev(spark, purch, etype="purchase")
    [r] = leadlag_corr(a.unionByName(b)).collect()
    # purchase closes land on days 1,3..7 → Δ days 3..7, all of which
    # pair with a click Δ on days 2..6
    assert r.n_pairs == 5
    assert r.xcorr == 1.0


def test_weighted_median_hand_computed(spark):
    from trading_data_pipeline_spark.operators.microstructure_queries import (
        weighted_median,
    )

    # prices (cents) with weights: 1000×1, 1100×2, 1200×5 → total 8,
    # half = 4 → cum at 1200 is 8 ≥ 4·... 2·cum≥tot first at 1200?
    # cum: 1000→1, 1100→3, 1200→8; 2·cum≥8 first at 1200.
    ev = _ev(
        spark,
        [(1, 9, 10.0, 1), (1, 10, 11.0, 2), (1, 11, 12.0, 5)],
    )
    [r] = weighted_median(ev).collect()
    assert r.total_vol == 8 and r.wmedian == 12.0

    # skewed the other way: 1000×5, 1100×2, 1200×1 → median 1000
    ev2 = _ev(
        spark,
        [(1, 9, 10.0, 5), (1, 10, 11.0, 2), (1, 11, 12.0, 1)],
    )
    [r2] = weighted_median(ev2).collect()
    assert r2.wmedian == 10.0
