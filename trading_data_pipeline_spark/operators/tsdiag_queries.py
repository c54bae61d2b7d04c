"""Time-series diagnostics, round-8 batch 12: long-memory, causality,
and distribution shape.

- **q_hurst**: Hurst exponent via rescaled-range (R/S) analysis on
  daily close moves per type. For block sizes b ∈ {8, 16} the
  rescaled range is computed EXACTLY: the cumulative-deviation
  numerator b·cumsum(x)_j − j·S is an integer (the n-scaled-deviation
  trick), so R/S = (max − min of that) / √(b·Σx² − S²) — integers
  under the square root, one double chain per block. H is the
  two-point log-log slope between the block sizes (Mandelbrot–Wallis
  R/S in its minimal exact form).
- **q_granger**: bivariate lag-1 Granger causality F-test — does the
  'view' move help predict the 'purchase' move beyond its own lag?
  Both OLS fits are closed forms of centered cross-moment sums
  (2-regressor normal equations by determinant), computed once per
  output row from exact integer day-aligned moves.
- **q_quantile_binning**: equal-frequency B-bin discretization of the
  raw value column — the feature-binning pass a training pipeline
  runs before count/target encoding. Bin edges are exact order
  statistics: the value grid's global cumulative (via
  plans/global_rank.global_cumsum — quantile-bucketed two-pass, NO
  SinglePartition window) assigns each distinct value the bin of its
  first rank, ties stay together, and the output is per-bin count +
  lo/hi edges. Runs on the raw stream with token-free integer-cent
  keys.

Scale notes: hurst/granger run on the daily-bar table (one
(event_type, day) exchange, then calendar-bounded rows); binning's
only fact-sized operations are the grid groupBy and the broadcast
bin-edge join-back.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..plans.global_rank import global_cumsum
from ..registry import load, register
from .bars import _BARS_SQL, _CENTS, _MOVES_SQL, cents, daily_bars, daily_moves

HURST_B1, HURST_B2 = 8, 16
GR_Y, GR_X = "purchase", "view"
BIN_B = 10
TS_SCALE = 10**4


# ------------------------------------------------------------------ Hurst


def _rs_mean(moves: DataFrame, b: int) -> DataFrame:
    """Mean R/S over full b-sized blocks per type: exact integer
    numerators, one sqrt per block."""
    w = Window.partitionBy("event_type").orderBy("day")
    d = moves.withColumn("rn", F.row_number().over(w)).withColumn(
        "blk", F.expr(f"(rn - 1) div {b}")
    )
    wb = Window.partitionBy("event_type", "blk").orderBy("day")
    wbf = wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    d = (
        d.withColumn("j", F.row_number().over(wb))
        .withColumn("cumx", F.sum("x").over(wb.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("s", F.sum("x").over(wbf))
        .withColumn("sxx", F.sum(F.col("x") * F.col("x")).over(wbf))
        .withColumn("cnt", F.count(F.lit(1)).over(wbf))
        .filter(F.col("cnt") == b)
    )
    num = b * F.col("cumx") - F.col("j") * F.col("s")
    blocks = d.groupBy("event_type", "blk").agg(
        F.max(num).alias("mx"),
        F.min(num).alias("mn"),
        F.first(
            (b * F.col("sxx") - F.col("s") * F.col("s")).cast("double")
        ).alias("den2"),
    )
    rs = (F.col("mx") - F.col("mn")) / F.sqrt(
        F.nullif(F.col("den2"), F.lit(0.0))
    )
    return blocks.groupBy("event_type").agg(
        F.count(F.lit(1)).alias(f"blocks_{b}"),
        F.avg(rs).alias(f"rs_{b}"),
    )


def hurst(events: DataFrame, b1: int = HURST_B1, b2: int = HURST_B2):
    """Two-point R/S Hurst exponent per type."""
    mv = daily_moves(events)
    a = _rs_mean(mv, b1).join(_rs_mean(mv, b2), "event_type")
    h = (F.log(F.col(f"rs_{b2}")) - F.log(F.col(f"rs_{b1}"))) / F.lit(
        math.log(b2) - math.log(b1)
    )
    return a.select(
        "event_type",
        F.col(f"blocks_{b1}").alias("blocks_small"),
        F.col(f"blocks_{b2}").alias("blocks_large"),
        _q(F.col(f"rs_{b1}"), TS_SCALE).alias("rs_small"),
        _q(F.col(f"rs_{b2}"), TS_SCALE).alias("rs_large"),
        _q(h, TS_SCALE).alias("hurst"),
    ).orderBy("event_type")


def _rs_sql(b: int, alias: str) -> str:
    return f"""
      SELECT event_type, CAST(count(*) AS BIGINT) AS blocks_{alias},
             avg((mx - mn) / sqrt(nullif(den2, 0))) AS rs_{alias}
      FROM (
        SELECT event_type, blk,
               max({b} * cumx - j * s) AS mx,
               min({b} * cumx - j * s) AS mn,
               min(CAST({b} * sxx - s * s AS DOUBLE)) AS den2
        FROM (
          SELECT event_type, blk,
                 row_number() OVER wb AS j,
                 sum(x) OVER (PARTITION BY event_type, blk ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS cumx,
                 sum(x) OVER wf AS s,
                 sum(x * x) OVER wf AS sxx,
                 count(*) OVER wf AS cnt
          FROM (
            SELECT event_type, day, x,
                   (row_number() OVER
                      (PARTITION BY event_type ORDER BY day) - 1)
                     // {b} AS blk
            FROM mv
          )
          WINDOW wb AS (PARTITION BY event_type, blk ORDER BY day),
                 wf AS (PARTITION BY event_type, blk
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING)
        ) WHERE cnt = {b}
        GROUP BY event_type, blk
      ) GROUP BY event_type
    """


@register(
    "q_hurst",
    f"""
    WITH {_MOVES_SQL},
    r1 AS ({_rs_sql(HURST_B1, 'small')}),
    r2 AS ({_rs_sql(HURST_B2, 'large')})
    SELECT r1.event_type, blocks_small, blocks_large,
           floor(rs_small * {TS_SCALE} + 0.5) / {TS_SCALE} AS rs_small,
           floor(rs_large * {TS_SCALE} + 0.5) / {TS_SCALE} AS rs_large,
           floor((ln(rs_large) - ln(rs_small))
                 / {math.log(HURST_B2) - math.log(HURST_B1)!r}
                 * {TS_SCALE} + 0.5) / {TS_SCALE} AS hurst
    FROM r1 JOIN r2 ON r1.event_type = r2.event_type
    ORDER BY r1.event_type
    """,
    doc=f"Hurst exponent via two-point R/S ({HURST_B1}/{HURST_B2}-day "
    "blocks) per type: exact integer cumulative-deviation range over "
    "sqrt of integer variance sum, ln only in the final slope",
)
def q_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hurst(load(spark, sf_dir, "events"))


# ---------------------------------------------------------------- Granger


def granger(events: DataFrame, y: str = GR_Y, x: str = GR_X) -> DataFrame:
    """Lag-1 Granger F: y_t ~ y_{t-1} vs y_t ~ y_{t-1} + x_{t-1},
    closed-form OLS from centered cross-moments."""
    mv = daily_moves(events)
    ym = mv.filter(F.col("event_type") == y).select(
        "day", F.col("x").alias("yv")
    )
    xm = mv.filter(F.col("event_type") == x).select(
        "day", F.col("x").alias("xv")
    )
    j = ym.join(xm, "day")
    w = Window.orderBy("day")
    # the aligned series is calendar-sized (≤ |days|): a single ordered
    # window over it is bounded, not a fact-stream sort
    d = (
        j.withColumn("y1", F.lag("yv").over(w))
        .withColumn("x1", F.lag("xv").over(w))
        .filter(F.col("y1").isNotNull())
    )
    a = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yv").alias("sy"),
        F.sum("y1").alias("s1"),
        F.sum("x1").alias("s2"),
        F.sum(F.col("yv") * F.col("yv")).alias("syy"),
        F.sum(F.col("y1") * F.col("y1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x1")).alias("s22"),
        F.sum(F.col("y1") * F.col("x1")).alias("s12"),
        F.sum(F.col("yv") * F.col("y1")).alias("s1y"),
        F.sum(F.col("yv") * F.col("x1")).alias("s2y"),
    )
    n = F.col("n").cast("double")
    # centered moments
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    rss_r = cyy - c1y * c1y / c11
    det = c11 * c22 - c12 * c12
    b1 = (c1y * c22 - c2y * c12) / det
    b2 = (c2y * c11 - c1y * c12) / det
    rss_u = cyy - b1 * c1y - b2 * c2y
    fstat = (rss_r - rss_u) * (n - 3.0) / rss_u
    return a.select(
        "n",
        _q(b1, TS_SCALE).alias("beta_own_lag"),
        _q(b2, TS_SCALE).alias("beta_cross_lag"),
        _q(rss_r, TS_SCALE).alias("rss_restricted"),
        _q(rss_u, TS_SCALE).alias("rss_unrestricted"),
        _q(fstat, TS_SCALE).alias("f_stat"),
    )


@register(
    "q_granger",
    f"""
    WITH {_MOVES_SQL}, j AS (
      SELECT a.day, a.x AS yv, b.x AS xv
      FROM (SELECT day, x FROM mv WHERE event_type = '{GR_Y}') a
      JOIN (SELECT day, x FROM mv WHERE event_type = '{GR_X}') b
        ON a.day = b.day
    ), lagged AS (
      SELECT yv, lag(yv) OVER (ORDER BY day) AS y1,
             lag(xv) OVER (ORDER BY day) AS x1
      FROM j
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(yv) AS DOUBLE) AS sy,
             CAST(sum(y1) AS DOUBLE) AS s1,
             CAST(sum(x1) AS DOUBLE) AS s2,
             CAST(sum(yv * yv) AS DOUBLE) AS syy,
             CAST(sum(y1 * y1) AS DOUBLE) AS s11,
             CAST(sum(x1 * x1) AS DOUBLE) AS s22,
             CAST(sum(y1 * x1) AS DOUBLE) AS s12,
             CAST(sum(yv * y1) AS DOUBLE) AS s1y,
             CAST(sum(yv * x1) AS DOUBLE) AS s2y
      FROM lagged WHERE y1 IS NOT NULL
    ), c AS (
      SELECT n,
             syy - sy * sy / n AS cyy, s11 - s1 * s1 / n AS c11,
             s22 - s2 * s2 / n AS c22, s12 - s1 * s2 / n AS c12,
             s1y - s1 * sy / n AS c1y, s2y - s2 * sy / n AS c2y
      FROM a
    ), o AS (
      SELECT n, cyy - c1y * c1y / c11 AS rss_r,
             (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
             (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2,
             c1y, c2y, cyy
      FROM c
    )
    SELECT n,
           floor(b1 * {TS_SCALE} + 0.5) / {TS_SCALE} AS beta_own_lag,
           floor(b2 * {TS_SCALE} + 0.5) / {TS_SCALE} AS beta_cross_lag,
           floor(rss_r * {TS_SCALE} + 0.5) / {TS_SCALE} AS rss_restricted,
           floor((cyy - b1 * c1y - b2 * c2y) * {TS_SCALE} + 0.5)
             / {TS_SCALE} AS rss_unrestricted,
           floor((rss_r - (cyy - b1 * c1y - b2 * c2y)) * (n - 3)
                 / (cyy - b1 * c1y - b2 * c2y) * {TS_SCALE} + 0.5)
             / {TS_SCALE} AS f_stat
    FROM o
    """,
    doc=f"Lag-1 Granger causality F ('{GR_X}' moves -> '{GR_Y}' "
    "moves): restricted vs unrestricted OLS as closed forms of "
    "centered cross-moment sums (2-regressor determinant solve); "
    "day-aligned calendar-sized input",
)
def q_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    return granger(load(spark, sf_dir, "events"))


# ------------------------------------------------------ quantile binning


def quantile_binning(events: DataFrame, b: int = BIN_B) -> DataFrame:
    """Equal-frequency B-bin discretization of value (integer cents):
    distinct-value grid + exact global cumulative; a value's bin is
    the bin of its first rank (ties stay together)."""
    grid = events.select(
        cents().alias("c")
    ).groupBy("c").agg(F.count(F.lit(1)).alias("cnt"))
    cum, n = global_cumsum(grid, ["c"], "cnt")
    binned = cum.select(
        "c",
        "cnt",
        F.least(
            F.lit(b - 1),
            F.expr(f"((_gcum - cnt) * {b}) div {n}"),
        ).alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.sum("cnt").alias("n"),
            (F.min("c") / 100.0).alias("lo"),
            (F.max("c") / 100.0).alias("hi"),
        )
        .orderBy("bin")
    )


@register(
    "q_quantile_binning",
    f"""
    WITH grid AS (
      SELECT {_CENTS} AS c, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ), cum AS (
      SELECT c, cnt,
             CAST(sum(cnt) OVER (ORDER BY c
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS gcum,
             CAST(sum(cnt) OVER () AS BIGINT) AS n
      FROM grid
    )
    SELECT least({BIN_B - 1}, ((gcum - cnt) * {BIN_B}) // n) AS bin,
           CAST(sum(cnt) AS BIGINT) AS n,
           min(c) / 100.0 AS lo, max(c) / 100.0 AS hi
    FROM cum GROUP BY 1 ORDER BY bin
    """,
    doc=f"Equal-frequency {BIN_B}-bin discretization of value: "
    "distinct-cent grid + exact global cumulative (plans/global_rank "
    "two-pass, no SinglePartition window); ties stay in one bin; "
    "per-bin count + lo/hi edges",
)
def q_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantile_binning(load(spark, sf_dir, "events"))


# ------------------------------------------------------- Mann–Kendall


def mann_kendall(events: DataFrame) -> DataFrame:
    """Mann–Kendall trend test per type on daily closes: S = Σ sign
    pairs (exact integers via a calendar-bounded self-join), variance
    with the tie correction Σt(t−1)(2t+5), one final z chain (the
    continuity-corrected normal approximation)."""
    b = daily_bars(events).select("event_type", "day", "c_c")
    a = b.alias("a")
    c = b.alias("c")
    pairs = a.join(
        c,
        (F.col("a.event_type") == F.col("c.event_type"))
        & (F.col("a.day") < F.col("c.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.signum(
            (F.col("c.c_c") - F.col("a.c_c")).cast("double")
        ).cast("long").alias("sg"),
    )
    s = pairs.groupBy("event_type").agg(F.sum("sg").alias("s"))
    nt = b.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        b.groupBy("event_type", "c_c")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie")
        )
    )
    j = s.join(nt, "event_type").join(ties, "event_type")
    n = F.col("n").cast("double")
    var = (n * (n - 1.0) * (2.0 * n + 5.0) - F.col("tie")) / 18.0
    z = F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var)).when(
        F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    return j.select(
        "event_type",
        "n",
        F.col("s").alias("s_stat"),
        _q(var, TS_SCALE).alias("var_s"),
        _q(z, TS_SCALE).alias("z_stat"),
    ).orderBy("event_type")


@register(
    "q_mann_kendall",
    f"""
    WITH {_BARS_SQL}, b AS (
      SELECT event_type, day, c_c FROM bars
    ), s AS (
      SELECT a.event_type, CAST(sum(sign(c.c_c - a.c_c)) AS BIGINT) AS s
      FROM b a JOIN b c
        ON a.event_type = c.event_type AND a.day < c.day
      GROUP BY a.event_type
    ), nt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM b
      GROUP BY event_type
    ), ties AS (
      SELECT event_type,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
      FROM (SELECT event_type, c_c, count(*) AS t FROM b
            GROUP BY event_type, c_c)
      GROUP BY event_type
    ), j AS (
      SELECT s.event_type, s.s, nt.n, ties.tie,
             (CAST(nt.n AS DOUBLE) * (nt.n - 1) * (2 * nt.n + 5)
              - ties.tie) / 18.0 AS var
      FROM s JOIN nt ON s.event_type = nt.event_type
             JOIN ties ON s.event_type = ties.event_type
    )
    SELECT event_type, n, s AS s_stat,
           floor(var * {TS_SCALE} + 0.5) / {TS_SCALE} AS var_s,
           floor(CASE WHEN s > 0 THEN (s - 1) / sqrt(var)
                      WHEN s < 0 THEN (s + 1) / sqrt(var)
                      ELSE 0 END * {TS_SCALE} + 0.5)
             / {TS_SCALE} AS z_stat
    FROM j ORDER BY event_type
    """,
    doc="Mann-Kendall trend test per type on daily closes: exact "
    "integer S over calendar-bounded day pairs, tie-corrected "
    "variance, continuity-corrected z — the non-parametric trend "
    "screen; pair cost bounded by |calendar|² per type",
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mann_kendall(load(spark, sf_dir, "events"))


# ------------------------------------------------------------------ ADF


def adf(events: DataFrame, etype: str = GR_Y) -> DataFrame:
    """Dickey–Fuller test (one lagged difference, with intercept) on
    one type's daily closes: Δy_t ~ α + γ·y_{t−1} + δ·Δy_{t−1}. The
    2-regressor OLS and the t-statistic of γ are closed forms of
    centered cross-moment sums; se(γ)² = s²·c22/det."""
    w = Window.orderBy("day")
    d = (
        daily_bars(events)
        .filter(F.col("event_type") == etype)
        .select("day", F.col("c_c").alias("y"))
        .withColumn("y1", F.lag("y").over(w))
        .withColumn("y2", F.lag("y", 2).over(w))
        .filter(F.col("y2").isNotNull())
        .select(
            (F.col("y") - F.col("y1")).alias("dy"),
            F.col("y1").alias("z1"),
            (F.col("y1") - F.col("y2")).alias("z2"),
        )
    )
    a = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dy").alias("sy"),
        F.sum("z1").alias("s1"),
        F.sum("z2").alias("s2"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("z1") * F.col("z1")).alias("s11"),
        F.sum(F.col("z2") * F.col("z2")).alias("s22"),
        F.sum(F.col("z1") * F.col("z2")).alias("s12"),
        F.sum(F.col("dy") * F.col("z1")).alias("s1y"),
        F.sum(F.col("dy") * F.col("z2")).alias("s2y"),
    )
    n = F.col("n").cast("double")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    g = (c1y * c22 - c2y * c12) / det
    dl = (c2y * c11 - c1y * c12) / det
    rss = cyy - g * c1y - dl * c2y
    s2v = rss / (n - 3.0)
    se_g = F.sqrt(s2v * c22 / det)
    return a.select(
        "n",
        _q(g, TS_SCALE).alias("gamma"),
        _q(dl, TS_SCALE).alias("delta_lag"),
        _q(g / se_g, TS_SCALE).alias("adf_t"),
    )


@register(
    "q_adf",
    f"""
    WITH {_BARS_SQL}, y AS (
      SELECT day, c_c AS y,
             lag(c_c) OVER (ORDER BY day) AS y1,
             lag(c_c, 2) OVER (ORDER BY day) AS y2
      FROM bars WHERE event_type = '{GR_Y}'
    ), d AS (
      SELECT CAST(y - y1 AS BIGINT) AS dy, CAST(y1 AS BIGINT) AS z1,
             CAST(y1 - y2 AS BIGINT) AS z2
      FROM y WHERE y2 IS NOT NULL
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dy) AS DOUBLE) AS sy, CAST(sum(z1) AS DOUBLE) AS s1,
             CAST(sum(z2) AS DOUBLE) AS s2,
             CAST(sum(dy * dy) AS DOUBLE) AS syy,
             CAST(sum(z1 * z1) AS DOUBLE) AS s11,
             CAST(sum(z2 * z2) AS DOUBLE) AS s22,
             CAST(sum(z1 * z2) AS DOUBLE) AS s12,
             CAST(sum(dy * z1) AS DOUBLE) AS s1y,
             CAST(sum(dy * z2) AS DOUBLE) AS s2y
      FROM d
    ), c AS (
      SELECT n, syy - sy * sy / n AS cyy, s11 - s1 * s1 / n AS c11,
             s22 - s2 * s2 / n AS c22, s12 - s1 * s2 / n AS c12,
             s1y - s1 * sy / n AS c1y, s2y - s2 * sy / n AS c2y
      FROM a
    ), o AS (
      SELECT n, c22, c11 * c22 - c12 * c12 AS det,
             (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS g,
             (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS dl,
             cyy, c1y, c2y
      FROM c
    )
    SELECT n,
           floor(g * {TS_SCALE} + 0.5) / {TS_SCALE} AS gamma,
           floor(dl * {TS_SCALE} + 0.5) / {TS_SCALE} AS delta_lag,
           floor(g / sqrt((cyy - g * c1y - dl * c2y) / (n - 3)
                          * c22 / det) * {TS_SCALE} + 0.5)
             / {TS_SCALE} AS adf_t
    FROM o
    """,
    doc=f"Augmented Dickey-Fuller (1 lagged difference, intercept) on "
    f"'{GR_Y}' daily closes: closed-form 2-regressor OLS from centered "
    "cross-moments, t-stat of the unit-root coefficient; "
    "calendar-sized input",
)
def q_adf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return adf(load(spark, sf_dir, "events"))
