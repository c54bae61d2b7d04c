"""Technical-indicator operators over the event stream (round-6 batch).

The reference's output is a daily OHLC report (xetra_transformer.py:
126-208); this module adds the indicator layer a trading lake computes on
top of exactly those daily bars — the queries a consumer of the report
runs next:

- **Bollinger bands** (``q_bollinger``): 5-day rolling mean ± 2σ around
  the daily close, with breakout flags. Variance comes from integer-cent
  power sums ``(Σx², Σx)`` inside the row frame, so the windowed math is
  exact integer arithmetic with ONE double sqrt at the end — identical
  association on both engines (the same trick q_zscore_outliers uses,
  applied to a moving frame).
- **RSI** (``q_rsi``): 14-day SMA-based relative strength index from
  integer-cent gains/losses — computed as ``100·gain/(gain+loss)``, one
  division, with the flat-market 0/0 pinned to 50.0 on both engines.
- **Candlestick patterns** (``q_candle_patterns``): doji / hammer /
  bullish-engulfing flags per daily bar, all in integer cents so every
  comparison is exact (doji's "body ≤ 10% of range" is written
  ``body·10 ≤ range`` — no division, no float).
- **Drawdown duration** (``q_drawdown_duration``): the TIME dimension of
  q_max_drawdown — longest consecutive underwater run per user via
  gaps-and-islands over the running-peak curve (DECIMAL-exact equity).

Scale design: every query groups the event stream once on a
(type, day)-shaped key and then stays in per-key windows — one hash
exchange carries the whole indicator chain; frames are ROWS-bounded so
state per key is O(window). At 100 TB the daily-bar table these windows
run over is ~5 orders of magnitude smaller than the event stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import _BARS_SQL, daily_ohlcv

BOLL_N = 5  # rolling window (days)
RSI_N = 14


def daily_close(events: DataFrame) -> DataFrame:
    """(event_type, day, close_c): integer-cent daily close, last event in
    (ts, event_id) order — one exchange on (event_type, day)."""
    return daily_ohlcv(events).select(
        "event_type", "day", F.col("c_c").alias("close_c")
    )


def bollinger(events: DataFrame, n: int = BOLL_N) -> DataFrame:
    """Mean ± 2σ bands from the PRIOR ``n`` daily closes, with flags for
    today's close breaking out of them.

    The frame deliberately EXCLUDES the current row: a close inside its
    own n-point window has max |z| = (n−1)/√n (< 2 for n ≤ 5), so
    same-window "breakouts" are vacuously impossible at small n — the
    tradeable signal is today's close versus yesterday's band. The frame
    carries integer power sums (Σx, Σx²) so mean/variance are exact
    until the final double division/sqrt — bit-identical across engines
    because the expression shapes match the oracle exactly. Rows before
    the prior window fills (rn ≤ n) are dropped (no partial bands).
    """
    wf = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-n, -1)
    )
    wr = Window.partitionBy("event_type").orderBy("day")
    df = (
        daily_close(events)
        .withColumn("s1", F.sum("close_c").over(wf))
        .withColumn("s2", F.sum(F.col("close_c") * F.col("close_c")).over(wf))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") > n)
    )
    var_c = (F.col("s2") - F.col("s1") * F.col("s1") / float(n)) / float(n - 1)
    mean_c = F.col("s1") / float(n)
    sd_c = F.sqrt(var_c)
    return df.select(
        "event_type",
        "day",
        (F.col("close_c") / 100.0).alias("close"),
        _q(mean_c / 100.0, 10000).alias("ma"),
        _q(sd_c / 100.0, 10000).alias("sd"),
        _q((mean_c + 2 * sd_c) / 100.0, 10000).alias("upper"),
        _q((mean_c - 2 * sd_c) / 100.0, 10000).alias("lower"),
        (F.col("close_c") > mean_c + 2 * sd_c).cast("int").alias("break_up"),
        (F.col("close_c") < mean_c - 2 * sd_c).cast("int").alias("break_dn"),
    )


@register(
    "q_bollinger",
    f"""
    WITH {_BARS_SQL}, roll AS (
      SELECT event_type, day, c_c AS close_c,
             CAST(sum(c_c) OVER f AS BIGINT) AS s1,
             CAST(sum(c_c * c_c) OVER f AS BIGINT) AS s2,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM bars
      WINDOW f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {BOLL_N} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day,
           close_c / 100.0 AS close,
           floor(s1 / {BOLL_N}.0 / 100.0 * 10000 + 0.5) / 10000 AS ma,
           floor(sqrt((s2 - s1 * s1 / {BOLL_N}.0) / {BOLL_N - 1}.0)
                 / 100.0 * 10000 + 0.5) / 10000 AS sd,
           floor((s1 / {BOLL_N}.0
                  + 2 * sqrt((s2 - s1 * s1 / {BOLL_N}.0) / {BOLL_N - 1}.0))
                 / 100.0 * 10000 + 0.5) / 10000 AS upper,
           floor((s1 / {BOLL_N}.0
                  - 2 * sqrt((s2 - s1 * s1 / {BOLL_N}.0) / {BOLL_N - 1}.0))
                 / 100.0 * 10000 + 0.5) / 10000 AS lower,
           CAST(close_c > s1 / {BOLL_N}.0
                + 2 * sqrt((s2 - s1 * s1 / {BOLL_N}.0) / {BOLL_N - 1}.0)
                AS INT) AS break_up,
           CAST(close_c < s1 / {BOLL_N}.0
                - 2 * sqrt((s2 - s1 * s1 / {BOLL_N}.0) / {BOLL_N - 1}.0)
                AS INT) AS break_dn
    FROM roll WHERE rn > {BOLL_N}
    """,
    doc=f"Bollinger bands from the PRIOR {BOLL_N} daily closes with "
    "breakout flags for today's close (the frame excludes the current "
    "row — in-window breakouts are vacuous at small n since max |z| = "
    "(n-1)/sqrt(n)). Integer-cent power sums inside the row frame keep "
    "the windowed variance exact (one double sqrt at the end); bands "
    "quantized 1e-4. One exchange: the daily-bar rollup and both "
    "frames share the event_type key",
)
def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bollinger(load(spark, sf_dir, "events"))


def rsi(events: DataFrame, n: int = RSI_N) -> DataFrame:
    """SMA-based RSI over daily closes: ``100·gain/(gain+loss)`` on
    integer-cent up/down moves in an ``n``-row frame; the all-flat 0/0
    case pins to 50.0."""
    wr = Window.partitionBy("event_type").orderBy("day")
    wf = Window.partitionBy("event_type").orderBy("day").rowsBetween(-(n - 1), 0)
    d = daily_close(events).withColumn(
        "delta", F.col("close_c") - F.lag("close_c").over(wr)
    )
    d = (
        d.withColumn("gain", F.greatest(F.col("delta"), F.lit(0)))
        .withColumn("loss", F.greatest(-F.col("delta"), F.lit(0)))
        .withColumn("rn", F.row_number().over(wr))
        .withColumn("sg", F.sum("gain").over(wf))
        .withColumn("sl", F.sum("loss").over(wf))
        # rn > n: the first row's delta is NULL, so a full frame of n
        # DELTAS needs n+1 closes
        .filter(F.col("rn") > n)
    )
    rsi_val = F.when(F.col("sg") + F.col("sl") == 0, F.lit(50.0)).otherwise(
        100.0 * F.col("sg") / (F.col("sg") + F.col("sl"))
    )
    return d.select(
        "event_type",
        "day",
        (F.col("close_c") / 100.0).alias("close"),
        _q(rsi_val, 10000).alias("rsi"),
    )


@register(
    "q_rsi",
    f"""
    WITH {_BARS_SQL}, d AS (
      SELECT event_type, day, c_c AS close_c,
             c_c - lag(c_c) OVER w AS delta,
             row_number() OVER w AS rn
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), g AS (
      SELECT event_type, day, close_c, rn,
             CAST(sum(greatest(delta, 0)) OVER f AS BIGINT) AS sg,
             CAST(sum(greatest(-delta, 0)) OVER f AS BIGINT) AS sl
      FROM d
      WINDOW f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {RSI_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, close_c / 100.0 AS close,
           CASE WHEN sg + sl = 0 THEN 50.0
                ELSE floor(100.0 * sg / (sg + sl) * 10000 + 0.5) / 10000
           END AS rsi
    FROM g WHERE rn > {RSI_N}
    """,
    doc=f"RSI-{RSI_N} (SMA form) per event type over daily closes: "
    "integer-cent gains/losses summed in a row frame, single division "
    "100·gain/(gain+loss), flat-market 0/0 pinned to 50.0 on both "
    "engines; quantized 1e-4. Same one-exchange shape as q_bollinger",
)
def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rsi(load(spark, sf_dir, "events"))


def candle_patterns(events: DataFrame) -> DataFrame:
    """Doji / hammer / bullish-engulfing flags per daily OHLC bar, all in
    exact integer cents (doji avoids division: ``body·10 ≤ range``)."""
    wp = Window.partitionBy("event_type").orderBy("day")
    body = F.abs(F.col("c_c") - F.col("o_c"))
    rng = F.col("h_c") - F.col("l_c")
    upper = F.col("h_c") - F.greatest("o_c", "c_c")
    lower = F.least("o_c", "c_c") - F.col("l_c")
    prev_o, prev_c = F.lag("o_c").over(wp), F.lag("c_c").over(wp)
    return (
        daily_ohlcv(events).withColumn("p_o", prev_o)
        .withColumn("p_c", prev_c)
        .select(
            "event_type",
            "day",
            (F.col("o_c") / 100.0).alias("open"),
            (F.col("c_c") / 100.0).alias("close"),
            ((rng > 0) & (body * 10 <= rng)).cast("int").alias("doji"),
            ((rng > 0) & (lower >= 2 * body) & (upper <= body))
            .cast("int")
            .alias("hammer"),
            (
                F.col("p_o").isNotNull()
                & (F.col("p_c") < F.col("p_o"))
                & (F.col("c_c") > F.col("o_c"))
                & (F.col("o_c") <= F.col("p_c"))
                & (F.col("c_c") >= F.col("p_o"))
            )
            .cast("int")
            .alias("bull_engulf"),
        )
    )


@register(
    "q_candle_patterns",
    f"""
    WITH {_BARS_SQL}, p AS (
      SELECT *,
             lag(o_c) OVER pw AS p_o,
             lag(c_c) OVER pw AS p_c
      FROM bars
      WINDOW pw AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day,
           o_c / 100.0 AS open, c_c / 100.0 AS close,
           CAST(h_c > l_c AND abs(c_c - o_c) * 10 <= h_c - l_c AS INT)
             AS doji,
           CAST(h_c > l_c
                AND least(o_c, c_c) - l_c >= 2 * abs(c_c - o_c)
                AND h_c - greatest(o_c, c_c) <= abs(c_c - o_c) AS INT)
             AS hammer,
           CAST(p_o IS NOT NULL AND p_c < p_o AND c_c > o_c
                AND o_c <= p_c AND c_c >= p_o AS INT) AS bull_engulf
    FROM p
    """,
    doc="Candlestick pattern flags (doji, hammer, bullish engulfing) per "
    "daily OHLC bar — report1's bars fed into exact integer-cent "
    "geometry tests; the engulfing pattern adds one LAG over the "
    "per-type day series. One exchange, shared by the bar rollup and "
    "the pattern window",
)
def q_candle_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return candle_patterns(load(spark, sf_dir, "events"))


def drawdown_duration(events: DataFrame) -> DataFrame:
    """Longest consecutive underwater run (equity < running peak) per
    user — gaps-and-islands over the DECIMAL-exact cumulative curve."""
    dec = F.col("value").cast("decimal(18,2)")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    curve = (
        events.select("user_id", "ts", "event_id", dec.alias("_v"))
        .withColumn("_eq", F.sum("_v").over(w))
        .withColumn("_peak", F.max(F.col("_eq")).over(w))
        .withColumn("_uw", (F.col("_eq") < F.col("_peak")).cast("int"))
    )
    runs = curve.withColumn(
        "_run",
        F.sum((F.col("_uw") == 0).cast("int")).over(wo),
    )
    per_run = (
        runs.filter(F.col("_uw") == 1)
        .groupBy("user_id", "_run")
        .agg(F.count(F.lit(1)).alias("_len"))
    )
    totals = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    longest = per_run.groupBy("user_id").agg(
        F.sum("_len").alias("n_underwater"),
        F.max("_len").alias("longest_run"),
    )
    return (
        totals.join(longest, "user_id", "left")
        .select(
            "user_id",
            "n_events",
            F.coalesce("n_underwater", F.lit(0)).alias("n_underwater"),
            F.coalesce("longest_run", F.lit(0)).alias("longest_run"),
        )
    )


@register(
    "q_drawdown_duration",
    """
    WITH c AS (
      SELECT user_id, ts, event_id,
             sum(CAST(value AS DECIMAL(18,2))) OVER w AS eq
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ), u AS (
      SELECT user_id, ts, event_id,
             CASE WHEN eq < max(eq) OVER w THEN 1 ELSE 0 END AS uw
      FROM c
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ), r AS (
      SELECT user_id, uw,
             CAST(sum(CASE WHEN uw = 0 THEN 1 ELSE 0 END) OVER w AS BIGINT)
               AS run
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ), per_run AS (
      SELECT user_id, run, count(*) AS len
      FROM r WHERE uw = 1 GROUP BY user_id, run
    ), agg AS (
      SELECT user_id, CAST(sum(len) AS BIGINT) AS n_underwater,
             max(len) AS longest_run
      FROM per_run GROUP BY user_id
    )
    SELECT t.user_id, t.n_events,
           coalesce(a.n_underwater, 0) AS n_underwater,
           coalesce(a.longest_run, 0) AS longest_run
    FROM (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id) t
    LEFT JOIN agg a USING (user_id)
    """,
    doc="Drawdown DURATION per user: longest consecutive underwater run "
    "(DECIMAL-exact equity below its running peak) via gaps-and-islands "
    "— the time dimension q_max_drawdown's magnitude metric lacks. All "
    "three windows and both aggregates share the user_id exchange",
)
def q_drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return drawdown_duration(load(spark, sf_dir, "events"))


# --------------------------------------------------- ATR / OBV / turnover

ATR_N = 14


def atr(events: DataFrame, n: int = ATR_N) -> DataFrame:
    """Average True Range: TR = max(h−l, |h−prev_c|, |l−prev_c|) per daily
    bar, SMA over an ``n``-row frame — the volatility denominator every
    position-sizing rule divides by. Integer cents end-to-end; one
    division at the end."""
    wp = Window.partitionBy("event_type").orderBy("day")
    wf = Window.partitionBy("event_type").orderBy("day").rowsBetween(-(n - 1), 0)
    prev_c = F.lag("c_c").over(wp)
    tr = F.greatest(
        F.col("h_c") - F.col("l_c"),
        F.abs(F.col("h_c") - prev_c),
        F.abs(F.col("l_c") - prev_c),
    )
    d = (
        daily_ohlcv(events)
        .withColumn("tr", tr)
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") >= 2)  # first bar has no prev close → no TR
        .withColumn("s", F.sum("tr").over(wf))
        .withColumn("k", F.count(F.lit(1)).over(wf))
        .filter(F.col("k") == n)
    )
    return d.select(
        "event_type",
        "day",
        (F.col("tr") / 100.0).alias("true_range"),
        _q(F.col("s") / float(n) / 100.0, 10000).alias("atr"),
    )


@register(
    "q_atr",
    f"""
    WITH {_BARS_SQL}, tr AS (
      SELECT event_type, day,
             greatest(h_c - l_c,
                      abs(h_c - lag(c_c) OVER pw),
                      abs(l_c - lag(c_c) OVER pw)) AS tr,
             row_number() OVER pw AS rn
      FROM bars
      WINDOW pw AS (PARTITION BY event_type ORDER BY day)
    ), s AS (
      SELECT event_type, day, tr,
             CAST(sum(tr) OVER f AS BIGINT) AS s,
             count(*) OVER f AS k
      FROM tr WHERE rn >= 2
      WINDOW f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {ATR_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, tr / 100.0 AS true_range,
           floor(s / {ATR_N}.0 / 100.0 * 10000 + 0.5) / 10000 AS atr
    FROM s WHERE k = {ATR_N}
    """,
    doc=f"Average True Range (ATR-{ATR_N}, SMA form): per daily bar "
    "TR = max(high−low, |high−prev close|, |low−prev close|) in exact "
    "integer cents, SMA'd over a full row frame — the volatility unit "
    "of position sizing. Same one-exchange bar chain as q_bollinger",
)
def q_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return atr(load(spark, sf_dir, "events"))


def obv(events: DataFrame) -> DataFrame:
    """On-Balance Volume per event type: running Σ sign(Δclose)·volume
    over daily bars — the classic accumulation/distribution indicator.
    Volume is the JSON ``props.$.k`` trade size; all-integer running sum.
    """
    wp = Window.partitionBy("event_type").orderBy("day")
    wrun = wp.rowsBetween(Window.unboundedPreceding, 0)
    signed = F.when(F.col("c_c") > F.lag("c_c").over(wp), F.col("vol")).when(
        F.col("c_c") < F.lag("c_c").over(wp), -F.col("vol")
    ).otherwise(F.lit(0))
    return (
        daily_ohlcv(events).withColumn("sv", signed)
        .withColumn("obv", F.sum("sv").over(wrun))
        .select("event_type", "day", (F.col("c_c") / 100.0).alias("close"),
                "vol", "obv")
    )


@register(
    "q_obv",
    f"""
    WITH {_BARS_SQL}, sv AS (
      SELECT event_type, day, c_c, vol,
             CASE WHEN c_c > lag(c_c) OVER pw THEN vol
                  WHEN c_c < lag(c_c) OVER pw THEN -vol
                  ELSE 0 END AS sv
      FROM bars
      WINDOW pw AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, c_c / 100.0 AS close, vol,
           CAST(sum(sv) OVER (PARTITION BY event_type ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
    FROM sv
    """,
    doc="On-Balance Volume per event type: running sum of "
    "sign(close change) × daily volume (props.$.k trade size) — "
    "accumulation/distribution pressure. Integer running sums; the bar "
    "rollup and both windows share the event_type exchange",
)
def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return obv(load(spark, sf_dir, "events"))


def turnover_hhi(events: DataFrame) -> DataFrame:
    """Per-type turnover concentration: Herfindahl–Hirschman index of
    user volume shares, Σ(qᵤ/Q)² = Σqᵤ²/Q², from exact integer sums —
    plus the top user's share. HHI → 1 means one account dominates flow
    (wash-trading / manipulation screen)."""
    qty = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(0)
    )
    per_user = (
        events.select("event_type", "user_id", qty.alias("q"))
        .groupBy("event_type", "user_id")
        .agg(F.sum("q").alias("qu"))
    )
    return (
        per_user.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("qu").alias("total_vol"),
            F.sum(F.col("qu") * F.col("qu")).alias("_sq"),
            F.max("qu").alias("_top"),
        )
        .select(
            "event_type",
            "n_users",
            "total_vol",
            _q(F.col("_sq") / (F.col("total_vol") * F.col("total_vol")), 1_000_000).alias("hhi"),
            _q(F.col("_top") / F.col("total_vol"), 1_000_000).alias("top_share"),
        )
    )


@register(
    "q_turnover_hhi",
    """
    WITH per_user AS (
      SELECT event_type, user_id,
             CAST(sum(coalesce(json_extract_string(props, '$.k')::BIGINT, 0))
                  AS BIGINT) AS qu
      FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           count(*) AS n_users,
           CAST(sum(qu) AS BIGINT) AS total_vol,
           floor(CAST(sum(qu * qu) AS BIGINT) * 1.0
                 / (CAST(sum(qu) AS BIGINT) * CAST(sum(qu) AS BIGINT))
                 * 1000000 + 0.5) / 1000000 AS hhi,
           floor(max(qu) * 1.0 / CAST(sum(qu) AS BIGINT) * 1000000 + 0.5)
             / 1000000 AS top_share
    FROM per_user GROUP BY event_type
    """,
    doc="Turnover concentration per event type: HHI of per-user volume "
    "shares (Σqu²/Q², exact integer sums, one quantized division) and "
    "the top account's share — the wash-trading / dominance screen. "
    "Two counting aggregates, partial-combined",
)
def q_turnover_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return turnover_hhi(load(spark, sf_dir, "events"))
