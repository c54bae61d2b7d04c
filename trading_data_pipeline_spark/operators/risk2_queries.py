"""Tail-risk and risk-adjusted-return ratios over daily bars (round-8
batch 5).

Consumers of the reference's daily OHLC report (xetra_transformer.py:
126-208) feed it straight into the risk-ratio layer; this module adds
the five classics that q_var_es / q_sharpe / q_sortino don't cover:

- **q_omega_ratio**: Omega(0) per type — Σ gains / Σ losses over daily
  close moves (Keating & Shadwick 2002). Pure integer sums, ONE
  division; the whole-distribution alternative to threshold-blind
  mean/σ ratios.
- **q_hill_tail**: Hill (1975) tail-index estimator over the worst 10%
  of daily down-moves: ``H = mean(ln(x_i / x_{k+1}))`` on the k largest
  losses, ``α = 1/H``. α ≲ 3 means variance-of-returns may not even
  exist — the fat-tail yardstick. Order statistics by row_number over
  the calendar-bounded loss table; the only floats are k ln() calls and
  one division, quantized.
- **q_kupiec_pof**: Kupiec (1995) proportion-of-failures test on the
  q_var_backtest split — the likelihood-ratio twin of its binomial z:
  ``LR = 2·[x·ln(x/(mα)) + (m−x)·ln((m−x)/(m(1−α)))]``, reject at the
  χ²₁ 95% cut 3.841. Shares the exact-order-statistic scored CTE with
  q_var_backtest (`risk_queries._VB_SCORED_SQL`).
- **q_ulcer_index**: Ulcer index per type (Martin 1987) — RMS of the
  running-peak drawdown percentage over daily closes. Depth × duration
  of pain in one number where max-drawdown keeps only the depth.
  Drawdowns fix to exact integer micro-fractions (``(peak−c)·10⁶ DIV
  peak`` — truncating integer division on non-negative operands is
  engine-exact), so the mean of squares is a BIGINT sum with one final
  sqrt.
- **q_calmar**: Calmar ratio per type — annualized mean daily return
  over max running-peak drawdown. Per-day returns fix to integer
  1e-8 fractions with the sign split off (``sign·(|dc|·10⁸ DIV
  prev_c)``) so the cross-day mean is an integer sum; one division by
  the exact max-drawdown fraction.

Scale design: everything runs on the (event_type, day) bar table built
with ONE fact-sized exchange (`bars.daily_bars`, the report1 shape);
per-type windows then cover calendar-bounded rows
(~10⁵× smaller than the stream at 100 TB). No libm call ever feeds
another aggregate — ln/sqrt chains terminate each query and are
quantized (floor(x·s+0.5)/s, functions/quantize.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import _BARS_SQL, daily_bars
from .risk_queries import _VB_SCORED_SQL, VB_ALPHA_DEN, VB_ALPHA_NUM, var_backtest

RATIO_SCALE = 10**6
HILL_PCT = 10          # tail fraction: k = ceil(pct·m/100)
KUPIEC_CHI2_95 = 3.841458820694124  # χ²₁ 0.95 quantile (literal both sides)
DD_SCALE = 10**6       # drawdown fixed-point: integer micro-fractions
RET_SCALE = 10**8      # per-day return fixed-point
ANN_DAYS = 252


# ------------------------------------------------------------- Omega


def omega_ratio(events: DataFrame) -> DataFrame:
    """Omega(0) per type: Σ max(dc,0) / Σ max(−dc,0) over daily close
    moves — integer cent sums, one division. Types with zero loss mass
    drop (Omega undefined)."""
    moves = daily_bars(events).filter(F.col("dc").isNotNull())
    agg = moves.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.when(F.col("dc") > 0, F.col("dc")).otherwise(0)).alias("gain"),
        F.sum(F.when(F.col("dc") < 0, -F.col("dc")).otherwise(0)).alias("loss"),
        F.sum(F.when(F.col("dc") > 0, 1).otherwise(0)).alias("n_up"),
        F.sum(F.when(F.col("dc") < 0, 1).otherwise(0)).alias("n_down"),
    )
    return agg.filter(F.col("loss") > 0).select(
        "event_type",
        "n_days",
        "n_up",
        "n_down",
        (F.col("gain") / 100.0).alias("gain_total"),
        (F.col("loss") / 100.0).alias("loss_total"),
        _q(F.col("gain") / F.col("loss"), RATIO_SCALE).alias("omega"),
    )


@register(
    "q_omega_ratio",
    f"""
    WITH {_BARS_SQL}, agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(CASE WHEN dc > 0 THEN dc ELSE 0 END) AS BIGINT)
               AS gain,
             CAST(sum(CASE WHEN dc < 0 THEN -dc ELSE 0 END) AS BIGINT)
               AS loss,
             CAST(sum(CASE WHEN dc > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_up,
             CAST(sum(CASE WHEN dc < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down
      FROM moves WHERE dc IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n_days, n_up, n_down,
           gain / 100.0 AS gain_total,
           loss / 100.0 AS loss_total,
           floor(gain * 1.0 / loss * {RATIO_SCALE} + 0.5) / {RATIO_SCALE}
             AS omega
    FROM agg WHERE loss > 0
    """,
    doc="Omega(0) ratio per type: total daily gains over total daily "
    "losses (the whole-distribution risk-return ratio) — exact integer "
    "cent sums from the one-exchange bar table, one division",
)
def q_omega_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return omega_ratio(load(spark, sf_dir, "events"))


# ------------------------------------------------------ Hill tail index


def hill_tail(events: DataFrame, pct: int = HILL_PCT) -> DataFrame:
    """Hill tail-index over the worst pct% of daily down-moves per type:
    H = mean(ln(x_i/x_{k+1})) for the k largest losses x_1..x_k,
    α = 1/H. Loss table is calendar-bounded; ln only on the k+1 tail
    rows, quantized 1e-4."""
    losses = (
        daily_bars(events)
        .filter(F.col("dc") < 0)
        .select("event_type", "day", (-F.col("dc")).alias("x"))
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc("x"), "day")
    wn = Window.partitionBy("event_type")
    ranked = losses.select(
        "event_type",
        "x",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wn).alias("m"),
    )
    k = F.expr(f"CAST((({HILL_PCT} * m) + 99) DIV 100 AS BIGINT)")
    ranked = ranked.withColumn("k", k).filter(F.col("m") >= F.col("k") + 1)
    top = ranked.filter(F.col("r") <= F.col("k")).groupBy(
        "event_type", "k", "m"
    ).agg(F.sum(F.log(F.col("x").cast("double"))).alias("sum_ln"))
    cut = ranked.filter(F.col("r") == F.col("k") + 1).select(
        "event_type", F.col("x").alias("x_cut")
    )
    h = F.col("sum_ln") / F.col("k") - F.log(F.col("x_cut").cast("double"))
    return (
        top.join(cut, "event_type")
        .select(
            "event_type",
            F.col("m").alias("n_loss"),
            "k",
            (F.col("x_cut") / 100.0).alias("cut_loss"),
            _q(h, 10000).alias("hill"),
            _q(F.lit(1.0) / F.nullif(h, F.lit(0.0)), 10000).alias("alpha"),
        )
    )


@register(
    "q_hill_tail",
    f"""
    WITH {_BARS_SQL}, losses AS (
      SELECT event_type, day, -dc AS x FROM moves WHERE dc < 0
    ), ranked AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY x DESC, day) AS r,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
      FROM losses
    ), sized AS (
      SELECT *, CAST((({HILL_PCT} * m) + 99) // 100 AS BIGINT) AS k
      FROM ranked WHERE m >= (({HILL_PCT} * m) + 99) // 100 + 1
    ), top AS (
      SELECT event_type, k, m, sum(ln(CAST(x AS DOUBLE))) AS sum_ln
      FROM sized WHERE r <= k GROUP BY event_type, k, m
    ), cut AS (
      SELECT event_type, x AS x_cut FROM sized WHERE r = k + 1
    )
    SELECT t.event_type, t.m AS n_loss, t.k,
           c.x_cut / 100.0 AS cut_loss,
           floor((t.sum_ln / t.k - ln(CAST(c.x_cut AS DOUBLE))) * 10000
                 + 0.5) / 10000 AS hill,
           floor(1.0 / nullif(t.sum_ln / t.k
                              - ln(CAST(c.x_cut AS DOUBLE)), 0.0)
                 * 10000 + 0.5) / 10000 AS alpha
    FROM top t JOIN cut c ON c.event_type = t.event_type
    """,
    doc=f"Hill tail-index per type over the worst {HILL_PCT}% of daily "
    "down-moves: H = mean ln(x_i/x_(k+1)), alpha = 1/H — the fat-tail "
    "yardstick (alpha <~ 3 means infinite variance). Exact order "
    "statistics on the calendar-bounded loss table; ln only on the "
    "k+1 tail rows, quantized",
)
def q_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hill_tail(load(spark, sf_dir, "events"))


# ---------------------------------------------------------- Kupiec POF


def kupiec_pof(events: DataFrame) -> DataFrame:
    """Kupiec proportion-of-failures LR test on the q_var_backtest
    split: x breaches in m held-out days vs coverage α. LR ~ χ²₁ under
    correct coverage; reject at the 95% cut. Degenerate x=0 / x=m terms
    pin to 0 (the 0·ln0 limit) identically on both engines."""
    vb = var_backtest(events).select("event_type", "n_test", "n_breach")
    alpha = VB_ALPHA_NUM / VB_ALPHA_DEN
    m = F.col("n_test").cast("double")
    x = F.col("n_breach").cast("double")
    t1 = F.when(
        F.col("n_breach") > 0, x * F.log(x / (m * F.lit(alpha)))
    ).otherwise(F.lit(0.0))
    t2 = F.when(
        F.col("n_breach") < F.col("n_test"),
        (m - x) * F.log((m - x) / (m * F.lit(1.0 - alpha))),
    ).otherwise(F.lit(0.0))
    lr = 2.0 * (t1 + t2)
    return vb.select(
        "event_type",
        "n_test",
        "n_breach",
        _q(lr, 10000).alias("lr_pof"),
        (lr > F.lit(KUPIEC_CHI2_95)).alias("reject_95"),
    )


@register(
    "q_kupiec_pof",
    f"""
    WITH {_VB_SCORED_SQL}, lr AS (
      SELECT event_type, n_test, n_breach,
             2.0 * (CASE WHEN n_breach > 0
                         THEN n_breach * ln(n_breach
                              / (n_test * {VB_ALPHA_NUM / VB_ALPHA_DEN}))
                         ELSE 0.0 END
                    + CASE WHEN n_breach < n_test
                           THEN (n_test - n_breach)
                                * ln((n_test - n_breach)
                                     / (n_test
                                        * {1.0 - VB_ALPHA_NUM / VB_ALPHA_DEN}))
                           ELSE 0.0 END) AS lr
      FROM scored
    )
    SELECT event_type, n_test, n_breach,
           floor(lr * 10000 + 0.5) / 10000 AS lr_pof,
           lr > {KUPIEC_CHI2_95} AS reject_95
    FROM lr
    """,
    doc="Kupiec POF likelihood-ratio test on the VaR backtest split: "
    "LR = 2[x ln(x/(m a)) + (m-x) ln((m-x)/(m(1-a)))] vs the chi2(1) "
    "95% cut — the regulator's coverage test, sharing the exact "
    "order-statistic scored CTE with q_var_backtest",
)
def q_kupiec_pof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kupiec_pof(load(spark, sf_dir, "events"))


# ---------------------------------------------------------- Ulcer index


def _dd_fx() -> F.Column:
    """Integer micro-fraction drawdown from the running peak:
    (peak−c)·10⁶ DIV peak — non-negative operands, truncating integer
    division, engine-exact."""
    return F.expr(f"(peak - c_c) * {DD_SCALE} DIV peak")


def _with_peak(events: DataFrame) -> DataFrame:
    wp = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily_bars(events).withColumn("peak", F.max("c_c").over(wp))


def ulcer_index(events: DataFrame) -> DataFrame:
    """Ulcer index per type: sqrt(mean(dd²)) of the running-peak
    percentage drawdown over daily closes — BIGINT sum of squared
    integer micro-fractions, one sqrt. Output in percent."""
    dd = _with_peak(events).select(
        "event_type", _dd_fx().alias("dd_fx")
    )
    agg = dd.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("dd_fx").alias("max_fx"),
        F.sum(F.col("dd_fx") * F.col("dd_fx")).alias("ss"),
    )
    ui = F.sqrt(F.col("ss") / F.col("n_days")) / (DD_SCALE / 100.0)
    return agg.select(
        "event_type",
        "n_days",
        (F.col("max_fx") / (DD_SCALE / 100.0)).alias("max_dd_pct"),
        _q(ui, 10000).alias("ulcer_pct"),
    )


_PEAK_SQL = f"""
    peaked AS (
      SELECT event_type, day, c_c, dc, prev_c,
             CAST(max(c_c) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS peak
      FROM moves
    ), dd AS (
      SELECT *, (peak - c_c) * {DD_SCALE} // peak AS dd_fx
      FROM peaked
    )
"""


@register(
    "q_ulcer_index",
    f"""
    WITH {_BARS_SQL}, {_PEAK_SQL}, agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(max(dd_fx) AS BIGINT) AS max_fx,
             CAST(sum(dd_fx * dd_fx) AS BIGINT) AS ss
      FROM dd GROUP BY event_type
    )
    SELECT event_type, n_days,
           max_fx / {DD_SCALE / 100.0} AS max_dd_pct,
           floor(sqrt(ss * 1.0 / n_days) / {DD_SCALE / 100.0} * 10000
                 + 0.5) / 10000 AS ulcer_pct
    FROM agg
    """,
    doc="Ulcer index per type: RMS percentage drawdown from the running "
    "peak of daily closes (depth x duration of pain, where max-drawdown "
    "keeps only depth). Drawdowns fixed to integer micro-fractions via "
    "truncating division, BIGINT sum of squares, one sqrt",
)
def q_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ulcer_index(load(spark, sf_dir, "events"))


# -------------------------------------------------------------- Calmar


def calmar(events: DataFrame) -> DataFrame:
    """Calmar ratio per type: annualized mean daily close-to-close
    return over the max running-peak drawdown fraction. Returns fix to
    signed integer 1e-8 fractions (sign·(|dc|·10⁸ DIV prev_c)) so the
    mean is a BIGINT sum; one final division. Flat-peak types (max
    drawdown 0) drop."""
    ret_fx = F.expr(
        f"CAST(sign(dc) AS BIGINT) * (abs(dc) * {RET_SCALE} DIV prev_c)"
    )
    d = _with_peak(events).withColumn("dd_fx", _dd_fx())
    agg = (
        d.filter(F.col("dc").isNotNull() & (F.col("prev_c") > 0))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(ret_fx).alias("sum_ret_fx"),
            F.max("dd_fx").alias("max_fx"),
        )
    )
    ann = (
        F.col("sum_ret_fx") * F.lit(ANN_DAYS)
        / (F.col("n_days") * F.lit(float(RET_SCALE)))
    )
    maxdd = F.col("max_fx") / F.lit(float(DD_SCALE))
    return agg.filter(F.col("max_fx") > 0).select(
        "event_type",
        "n_days",
        _q(ann * 100, 10000).alias("ann_ret_pct"),
        (F.col("max_fx") / (DD_SCALE / 100.0)).alias("max_dd_pct"),
        _q(ann / maxdd, 10000).alias("calmar"),
    )


@register(
    "q_calmar",
    f"""
    WITH {_BARS_SQL}, {_PEAK_SQL}, agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(CAST(sign(dc) AS BIGINT)
                      * (abs(dc) * {RET_SCALE} // prev_c)) AS BIGINT)
               AS sum_ret_fx,
             CAST(max(dd_fx) AS BIGINT) AS max_fx
      FROM dd WHERE dc IS NOT NULL AND prev_c > 0
      GROUP BY event_type
    )
    SELECT event_type, n_days,
           floor(sum_ret_fx * {ANN_DAYS} / (n_days * {RET_SCALE}.0)
                 * 100 * 10000 + 0.5) / 10000 AS ann_ret_pct,
           max_fx / {DD_SCALE / 100.0} AS max_dd_pct,
           floor(sum_ret_fx * {ANN_DAYS} / (n_days * {RET_SCALE}.0)
                 / (max_fx / {DD_SCALE}.0) * 10000 + 0.5) / 10000
             AS calmar
    FROM agg WHERE max_fx > 0
    """,
    doc=f"Calmar ratio per type: {ANN_DAYS}-day annualized mean daily "
    "return over max running-peak drawdown — the drawdown-denominated "
    "performance ratio. Signed fixed-point integer returns (BIGINT "
    "mean), exact integer drawdown fractions, one final division",
)
def q_calmar(spark: SparkSession, sf_dir: str) -> DataFrame:
    return calmar(load(spark, sf_dir, "events"))
