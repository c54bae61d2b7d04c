"""OHLC range-based volatility estimators, round-8 batch 9.

The published daily-range estimator family a risk desk runs on the
reference's daily OHLC report (ref xetra_transformer.py:126-208 is the
bar builder; these consume its output shape) — each 5-8× more
efficient than close-to-close variance at the same sample size:

- **q_parkinson**: Parkinson (1980) high-low estimator
  σ²_P = Σ ln²(H/L) / (4·ln2·n).
- **q_garman_klass**: Garman–Klass (1980)
  σ²_GK = mean[ ½·ln²(H/L) − (2ln2−1)·ln²(C/O) ].
- **q_rogers_satchell**: Rogers–Satchell (1991), drift-independent
  σ²_RS = mean[ ln(H/C)ln(H/O) + ln(L/C)ln(L/O) ].
- **q_yang_zhang**: Yang–Zhang (2000) combining overnight, open-close
  and RS terms: σ²_YZ = σ²_o + k·σ²_c + (1−k)·σ²_RS with
  k = 0.34 / (1.34 + (n+1)/(n−1)) — the minimum-variance
  drift-and-jump-robust estimator.
- **q_corwin_schultz**: Corwin–Schultz (2012) high-low SPREAD estimator
  from consecutive-day pairs: β = E[Σ_{j=0,1} ln²(H_j/L_j)],
  γ = ln²(H_2day/L_2day), α = (√(2β)−√β)/(3−2√2) − √(γ/(3−2√2)),
  S = 2(e^α−1)/(1+e^α) — bid-ask spread from daily data alone, no
  quotes needed.

All five consume the shared integer-cent OHLCV bar chain
(indicators3_queries._ohlcv — ONE fact-sized exchange, then
calendar-bounded rows only). Cent ratios equal price ratios, so every
ln argument is a ratio of exact BIGINTs; ln/exp/sqrt enter per
calendar-sized row with one final double chain per type (the
q_hill_tail precedent), outputs quantized via functions/quantize.py.
Flat bars (H = L) contribute ln 0 terms, not NULLs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import _BARS_SQL, daily_bars
from .indicators3_queries import _ohlcv

VOL_SCALE = 10**6
_LN2 = math.log(2.0)
_CS_DEN = 3.0 - 2.0 * math.sqrt(2.0)


def _pos_bars(events: DataFrame) -> DataFrame:
    """OHLCV bars restricted to positive-low days: a zero-cent print
    (price rounding to $0.00) makes every log-ratio term undefined —
    the published estimators assume strictly positive prices, so those
    bars are excluded on BOTH engines."""
    return _ohlcv(events).filter(F.col("l_c") > 0)


def _with_prev(events: DataFrame) -> DataFrame:
    """OHLCV bars + previous close per type (for overnight/2-day terms)."""
    w = Window.partitionBy("event_type").orderBy("day")
    b = _pos_bars(events)
    return b.select(
        "*",
        F.lag("c_c").over(w).alias("prev_c"),
        F.lag("h_c").over(w).alias("prev_h"),
        F.lag("l_c").over(w).alias("prev_l"),
    )


_PREV_SQL = f"""{_BARS_SQL}, pos0 AS (
      SELECT * FROM bars WHERE l_c > 0
    ), pb AS (
      SELECT *,
             lag(c_c) OVER (PARTITION BY event_type ORDER BY day) AS prev_c,
             lag(h_c) OVER (PARTITION BY event_type ORDER BY day) AS prev_h,
             lag(l_c) OVER (PARTITION BY event_type ORDER BY day) AS prev_l
      FROM pos0
    )"""


def _lhl() -> F.Column:
    return F.log(F.col("h_c") / F.col("l_c").cast("double"))


# ------------------------------------------------------------ Parkinson


def parkinson(events: DataFrame) -> DataFrame:
    """σ_P per type: √(Σ ln²(H/L) / (4·ln2·n))."""
    lhl = _lhl()
    return (
        _pos_bars(events)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(lhl * lhl).alias("s2"),
        )
        .select(
            "event_type",
            "n_days",
            _q(
                F.sqrt(F.col("s2") / (4.0 * _LN2 * F.col("n_days"))),
                VOL_SCALE,
            ).alias("sigma_p"),
        )
        .orderBy("event_type")
    )


@register(
    "q_parkinson",
    f"""
    WITH {_BARS_SQL}, pos AS (
      SELECT * FROM bars WHERE l_c > 0
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           floor(sqrt(sum(ln(h_c / CAST(l_c AS DOUBLE))
                          * ln(h_c / CAST(l_c AS DOUBLE)))
                      / (4 * ln(2) * count(*))) * {VOL_SCALE} + 0.5)
             / {VOL_SCALE} AS sigma_p
    FROM pos GROUP BY event_type ORDER BY event_type
    """,
    doc="Parkinson (1980) high-low range volatility per type: "
    "sqrt(sum(ln^2(H/L)) / (4 ln2 n)) over the daily OHLC bar chain — "
    "one fact exchange, calendar-bounded terms, final double chain "
    "only",
)
def q_parkinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parkinson(load(spark, sf_dir, "events"))


# --------------------------------------------------------- Garman–Klass


def garman_klass(events: DataFrame) -> DataFrame:
    """σ_GK per type: mean[½ln²(H/L) − (2ln2−1)ln²(C/O)]."""
    lhl = _lhl()
    lco = F.log(F.col("c_c") / F.col("o_c").cast("double"))
    term = 0.5 * lhl * lhl - (2.0 * _LN2 - 1.0) * lco * lco
    return (
        _pos_bars(events)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(term).alias("s"),
        )
        .select(
            "event_type",
            "n_days",
            _q(F.sqrt(F.col("s") / F.col("n_days")), VOL_SCALE).alias(
                "sigma_gk"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "q_garman_klass",
    f"""
    WITH {_BARS_SQL}, pos AS (
      SELECT * FROM bars WHERE l_c > 0
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           floor(sqrt(sum(0.5 * ln(h_c / CAST(l_c AS DOUBLE))
                                * ln(h_c / CAST(l_c AS DOUBLE))
                          - (2 * ln(2) - 1)
                            * ln(c_c / CAST(o_c AS DOUBLE))
                            * ln(c_c / CAST(o_c AS DOUBLE)))
                      / count(*)) * {VOL_SCALE} + 0.5)
             / {VOL_SCALE} AS sigma_gk
    FROM pos GROUP BY event_type ORDER BY event_type
    """,
    doc="Garman-Klass (1980) OHLC volatility per type: "
    "mean[0.5 ln^2(H/L) - (2ln2-1) ln^2(C/O)] — 7.4x close-to-close "
    "efficiency; same one-exchange bar chain as q_parkinson",
)
def q_garman_klass(spark: SparkSession, sf_dir: str) -> DataFrame:
    return garman_klass(load(spark, sf_dir, "events"))


# ------------------------------------------------------ Rogers–Satchell


def _rs_term() -> F.Column:
    lhc = F.log(F.col("h_c") / F.col("c_c").cast("double"))
    lho = F.log(F.col("h_c") / F.col("o_c").cast("double"))
    llc = F.log(F.col("l_c") / F.col("c_c").cast("double"))
    llo = F.log(F.col("l_c") / F.col("o_c").cast("double"))
    return lhc * lho + llc * llo


_RS_TERM_SQL = (
    "ln(h_c / CAST(c_c AS DOUBLE)) * ln(h_c / CAST(o_c AS DOUBLE)) "
    "+ ln(l_c / CAST(c_c AS DOUBLE)) * ln(l_c / CAST(o_c AS DOUBLE))"
)


def rogers_satchell(events: DataFrame) -> DataFrame:
    """σ_RS per type: mean[ln(H/C)ln(H/O) + ln(L/C)ln(L/O)] —
    drift-independent."""
    return (
        _pos_bars(events)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(_rs_term()).alias("s"),
        )
        .select(
            "event_type",
            "n_days",
            _q(F.sqrt(F.col("s") / F.col("n_days")), VOL_SCALE).alias(
                "sigma_rs"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "q_rogers_satchell",
    f"""
    WITH {_BARS_SQL}, pos AS (
      SELECT * FROM bars WHERE l_c > 0
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           floor(sqrt(sum({_RS_TERM_SQL}) / count(*)) * {VOL_SCALE} + 0.5)
             / {VOL_SCALE} AS sigma_rs
    FROM pos GROUP BY event_type ORDER BY event_type
    """,
    doc="Rogers-Satchell (1991) drift-independent OHLC volatility per "
    "type: mean[ln(H/C)ln(H/O) + ln(L/C)ln(L/O)]; one fact exchange",
)
def q_rogers_satchell(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rogers_satchell(load(spark, sf_dir, "events"))


# ----------------------------------------------------------- Yang–Zhang


def yang_zhang(events: DataFrame) -> DataFrame:
    """σ_YZ per type: σ²_o + k·σ²_c + (1−k)·σ²_RS over days with a
    previous close, k = 0.34/(1.34 + (n+1)/(n−1))."""
    d = _with_prev(events).filter(F.col("prev_c").isNotNull())
    lo = F.log(F.col("o_c") / F.col("prev_c").cast("double"))
    lc = F.log(F.col("c_c") / F.col("o_c").cast("double"))
    agg = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(lo).alias("so"),
        F.sum(lo * lo).alias("soo"),
        F.sum(lc).alias("sc"),
        F.sum(lc * lc).alias("scc"),
        F.sum(_rs_term()).alias("srs"),
    )
    n = F.col("n").cast("double")
    # nullif: a single overnight observation has no sample variance —
    # surface NULL, not a DIVIDE_BY_ZERO (ANSI) or a fabricated 0
    nm1 = F.nullif(n - 1.0, F.lit(0.0))
    var_o = (F.col("soo") - F.col("so") * F.col("so") / n) / nm1
    var_c = (F.col("scc") - F.col("sc") * F.col("sc") / n) / nm1
    var_rs = F.col("srs") / n
    k = 0.34 / (1.34 + (n + 1.0) / nm1)
    yz = var_o + k * var_c + (1.0 - k) * var_rs
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        _q(F.sqrt(var_o), VOL_SCALE).alias("sigma_overnight"),
        _q(F.sqrt(var_c), VOL_SCALE).alias("sigma_openclose"),
        _q(F.sqrt(var_rs), VOL_SCALE).alias("sigma_rs"),
        _q(k, VOL_SCALE).alias("k"),
        _q(F.sqrt(yz), VOL_SCALE).alias("sigma_yz"),
    ).orderBy("event_type")


@register(
    "q_yang_zhang",
    f"""
    WITH {_PREV_SQL}, t AS (
      SELECT event_type,
             ln(o_c / CAST(prev_c AS DOUBLE)) AS lo,
             ln(c_c / CAST(o_c AS DOUBLE)) AS lc,
             {_RS_TERM_SQL} AS rs
      FROM pb WHERE prev_c IS NOT NULL
    ), a AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(lo) AS so, sum(lo * lo) AS soo,
             sum(lc) AS sc, sum(lc * lc) AS scc, sum(rs) AS srs
      FROM t GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           floor(sqrt((soo - so * so / n) / nullif(n - 1, 0)) * {VOL_SCALE} + 0.5)
             / {VOL_SCALE} AS sigma_overnight,
           floor(sqrt((scc - sc * sc / n) / nullif(n - 1, 0)) * {VOL_SCALE} + 0.5)
             / {VOL_SCALE} AS sigma_openclose,
           floor(sqrt(srs / n) * {VOL_SCALE} + 0.5)
             / {VOL_SCALE} AS sigma_rs,
           floor(0.34 / (1.34 + (n + 1) / nullif(CAST(n - 1 AS DOUBLE), 0))
                 * {VOL_SCALE} + 0.5) / {VOL_SCALE} AS k,
           floor(sqrt((soo - so * so / n) / (n - 1)
                      + 0.34 / (1.34 + (n + 1) / nullif(CAST(n - 1 AS DOUBLE), 0))
                        * ((scc - sc * sc / n) / (n - 1))
                      + (1 - 0.34 / (1.34 + (n + 1)
                                     / nullif(CAST(n - 1 AS DOUBLE), 0)))
                        * (srs / n)) * {VOL_SCALE} + 0.5)
             / {VOL_SCALE} AS sigma_yz
    FROM a ORDER BY event_type
    """,
    doc="Yang-Zhang (2000) volatility per type: overnight + k*open-"
    "close + (1-k)*Rogers-Satchell variances, k = 0.34/(1.34 + "
    "(n+1)/(n-1)) — the drift-and-jump-robust minimum-variance "
    "estimator; one fact exchange + a per-type lag",
)
def q_yang_zhang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return yang_zhang(load(spark, sf_dir, "events"))


# ------------------------------------------------------- Corwin–Schultz


def corwin_schultz(events: DataFrame) -> DataFrame:
    """Corwin–Schultz (2012) high-low spread per type from
    consecutive-day pairs; overnight gaps NOT adjusted (the paper's
    base estimator)."""
    d = _with_prev(events).filter(F.col("prev_h").isNotNull())
    lhl = _lhl()
    lprev = F.log(F.col("prev_h") / F.col("prev_l").cast("double"))
    h2 = F.greatest("h_c", "prev_h")
    l2 = F.least("l_c", "prev_l")
    lg2 = F.log(h2 / l2.cast("double"))
    agg = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.avg(lhl * lhl + lprev * lprev).alias("beta"),
        F.avg(lg2 * lg2).alias("gamma"),
    )
    b, g = F.col("beta"), F.col("gamma")
    alpha = (F.sqrt(2.0 * b) - F.sqrt(b)) / _CS_DEN - F.sqrt(g / _CS_DEN)
    spread = 2.0 * (F.exp(alpha) - 1.0) / (F.exp(alpha) + 1.0)
    return agg.select(
        "event_type",
        "n_pairs",
        _q(b, VOL_SCALE).alias("beta"),
        _q(g, VOL_SCALE).alias("gamma"),
        _q(alpha, VOL_SCALE).alias("alpha_cs"),
        _q(spread, VOL_SCALE).alias("spread"),
        _q(F.greatest(spread, F.lit(0.0)), VOL_SCALE).alias(
            "spread_clamped"
        ),
    ).orderBy("event_type")


@register(
    "q_corwin_schultz",
    f"""
    WITH {_PREV_SQL}, t AS (
      SELECT event_type,
             ln(h_c / CAST(l_c AS DOUBLE)) AS l1,
             ln(prev_h / CAST(prev_l AS DOUBLE)) AS l0,
             ln(greatest(h_c, prev_h)
                / CAST(least(l_c, prev_l) AS DOUBLE)) AS l2
      FROM pb WHERE prev_h IS NOT NULL
    ), a AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
             avg(l1 * l1 + l0 * l0) AS beta, avg(l2 * l2) AS gamma
      FROM t GROUP BY event_type
    ), c AS (
      SELECT event_type, n_pairs, beta, gamma,
             (sqrt(2 * beta) - sqrt(beta)) / {_CS_DEN!r}
               - sqrt(gamma / {_CS_DEN!r}) AS alpha
      FROM a
    )
    SELECT event_type, n_pairs,
           floor(beta * {VOL_SCALE} + 0.5) / {VOL_SCALE} AS beta,
           floor(gamma * {VOL_SCALE} + 0.5) / {VOL_SCALE} AS gamma,
           floor(alpha * {VOL_SCALE} + 0.5) / {VOL_SCALE} AS alpha_cs,
           floor(2 * (exp(alpha) - 1) / (exp(alpha) + 1)
                 * {VOL_SCALE} + 0.5) / {VOL_SCALE} AS spread,
           floor(greatest(2 * (exp(alpha) - 1) / (exp(alpha) + 1), 0)
                 * {VOL_SCALE} + 0.5) / {VOL_SCALE} AS spread_clamped
    FROM c ORDER BY event_type
    """,
    doc="Corwin-Schultz (2012) high-low bid-ask spread estimator per "
    "type from consecutive-day OHLC pairs (beta/gamma/alpha -> "
    "S = 2(e^a-1)/(1+e^a)) — spread from daily bars alone, no quotes; "
    "raw and zero-clamped forms",
)
def q_corwin_schultz(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corwin_schultz(load(spark, sf_dir, "events"))


# ------------------------------------------- bipower variation / jumps

BPV_MU1SQ_INV = math.pi / 2.0  # 1/mu_1^2, mu_1 = sqrt(2/pi)


def bipower_variation(events: DataFrame) -> DataFrame:
    """Barndorff-Nielsen–Shephard bipower variation vs realized
    variance per type on daily close moves: RV = Σdc², BPV =
    (π/2)·Σ|dc_i||dc_{i−1}| — BOTH integer sums (cents²) scaled once;
    the relative jump measure is 1 − BPV/RV (≤0 clamped raw form kept).
    Jump-robust because a single jump enters BPV only linearly."""
    w = Window.partitionBy("event_type").orderBy("day")
    d = (
        daily_bars(events)
        .filter(F.col("dc").isNotNull())
        .select("event_type", "day", F.col("dc").alias("x"))
        .withColumn("px", F.lag("x").over(w))
    )
    a = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("x") * F.col("x")).cast("decimal(38,0)")
        ).alias("rv_i"),
        F.sum(
            F.when(
                F.col("px").isNotNull(),
                (F.abs("x") * F.abs("px")).cast("decimal(38,0)"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("bp_i"),
    )
    rv = F.col("rv_i").cast("double") / 10000.0
    bpv = F.lit(BPV_MU1SQ_INV) * F.col("bp_i").cast("double") / 10000.0
    return a.select(
        "event_type",
        "n",
        _q(rv, 10**6).alias("rv"),
        _q(bpv, 10**6).alias("bpv"),
        _q(1.0 - bpv / rv, 10**6).alias("jump_ratio"),
    ).orderBy("event_type")


@register(
    "q_bipower",
    f"""
    WITH {_BARS_SQL}, mv AS (
      SELECT event_type, day, dc AS x FROM moves WHERE dc IS NOT NULL
    ), lagged AS (
      SELECT event_type, day, x,
             lag(x) OVER (PARTITION BY event_type ORDER BY day) AS px
      FROM mv
    ), a AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x * x AS HUGEINT)) AS rv_i,
             sum(CASE WHEN px IS NOT NULL
                      THEN CAST(abs(x) * abs(px) AS HUGEINT)
                      ELSE CAST(0 AS HUGEINT) END) AS bp_i
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, n,
           floor(CAST(rv_i AS DOUBLE) / 10000.0 * 1000000 + 0.5)
             / 1000000 AS rv,
           floor({BPV_MU1SQ_INV!r} * CAST(bp_i AS DOUBLE) / 10000.0
                 * 1000000 + 0.5) / 1000000 AS bpv,
           floor((1 - ({BPV_MU1SQ_INV!r} * CAST(bp_i AS DOUBLE))
                      / CAST(rv_i AS DOUBLE)) * 1000000 + 0.5)
             / 1000000 AS jump_ratio
    FROM a ORDER BY event_type
    """,
    doc="Bipower variation vs realized variance per type "
    "(Barndorff-Nielsen & Shephard 2004): RV and (pi/2)*sum|dc||dc_-1| "
    "as exact HUGEINT sums, relative jump measure 1 - BPV/RV; "
    "daily-bar two-pass input",
)
def q_bipower(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bipower_variation(load(spark, sf_dir, "events"))
