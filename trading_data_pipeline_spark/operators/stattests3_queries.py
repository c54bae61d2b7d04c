"""Distributed exact statistical tests, round-8 batch 10: the
normality / serial-correlation / k-sample-location layer.

Extends stattests_queries / stattests2_queries with the remaining
textbook tests a research desk runs on daily close moves — each one
exact integer/DECIMAL arithmetic until a single final double chain
(the q_spearman / q_kruskal_wallis discipline):

- **q_jarque_bera**: JB = n/6·(S² + (K−3)²/4) per type, with skewness
  and excess kurtosis from raw power sums S1..S4 (BIGINT per-row
  powers, DECIMAL(38,0)/HUGEINT sums — |dc| ≤ 2¹⁵ cents keeps dc⁴
  within 2⁶³ per row).
- **q_ljung_box**: portmanteau Q = n(n+2)·Σ_{{k≤m}} ρ_k²/(n−k) per
  type. Each autocorrelation's numerator Σ(n·x_i − S)(n·x_{{i−k}} − S)
  and the common denominator Σ(n·x_i − S)² are exact integers (the
  n-scaled-deviation trick: deviations have denominator n, which
  cancels in ρ), lags via m fixed window-lag columns — one
  calendar-sized pass, no self-join.
- **q_durbin_watson**: DW = n²·Σ(Δx)²/Σ(n·x_i − S)² per type — the
  mean cancels in the numerator, so BOTH sides are exact integers
  with one final division.
- **q_anova**: one-way ANOVA F across event types from per-group
  (n_j, Σx, Σx²): SSB/SSW as rationals of exact sums, k−1 / N−k dof.
- **q_welch_t**: Welch's unequal-variance t between two chosen types
  + Welch–Satterthwaite dof + Cohen's d (pooled-sd effect size), all
  from exact group sums.
- **q_cohens_kappa**: inter-rater agreement κ between the price-move
  sign and the volume-move sign (3×3 confusion, pooled across types)
  — exact contingency counts, po/pe rationals, one final division.
- **q_bartlett**: Bartlett's equal-variance statistic across types:
  T = [(N−k)·ln(Sp²) − Σ(n_j−1)·ln(s_j²)]/C — variances are exact
  rationals of integer sums; ln enters only in the final k-term chain.

Scale notes: every test runs on the daily-bar table (ONE
(event_type, day) exchange over the raw stream via
bars._BARS_SQL / daily_bars, then calendar-bounded
rows — the q_dollar_bars two-pass contract). Group count k ≈ |types|
and n ≈ |calendar|, so the final double folds are over bounded rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import _BARS_SQL, _MOVES_SQL, daily_bars, daily_moves

ST_SCALE = 10**4
LB_LAGS = 5
WELCH_A, WELCH_B = "purchase", "view"

_DEC = "decimal(38,0)"


# ---------------------------------------------------------- Jarque–Bera


def jarque_bera(events: DataFrame) -> DataFrame:
    """JB per type from raw power sums; skew + excess kurtosis."""
    d = daily_moves(events).select(
        "event_type",
        "x",
        (F.col("x") * F.col("x")).alias("x2"),
    )
    agg = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(_DEC)).alias("s1"),
        F.sum(F.col("x2").cast(_DEC)).alias("s2"),
        F.sum((F.col("x2") * F.col("x")).cast(_DEC)).alias("s3"),
        F.sum((F.col("x2") * F.col("x2")).cast(_DEC)).alias("s4"),
    )
    n = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - m1 * m1
    m3 = (
        F.col("s3").cast("double") / n
        - 3.0 * m1 * (F.col("s2").cast("double") / n)
        + 2.0 * m1 * m1 * m1
    )
    m4 = (
        F.col("s4").cast("double") / n
        - 4.0 * m1 * (F.col("s3").cast("double") / n)
        + 6.0 * m1 * m1 * (F.col("s2").cast("double") / n)
        - 3.0 * m1 * m1 * m1 * m1
    )
    skew = m3 / F.sqrt(m2 * m2 * m2)
    exk = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (skew * skew + exk * exk / 4.0)
    return agg.select(
        "event_type",
        "n",
        _q(skew, ST_SCALE).alias("skewness"),
        _q(exk, ST_SCALE).alias("excess_kurtosis"),
        _q(jb, ST_SCALE).alias("jb_stat"),
    ).orderBy("event_type")


@register(
    "q_jarque_bera",
    f"""
    WITH {_MOVES_SQL}, a AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x AS HUGEINT)) AS s1,
             sum(CAST(x * x AS HUGEINT)) AS s2,
             sum(CAST(x * x * x AS HUGEINT)) AS s3,
             sum(CAST(x * x * x * x AS HUGEINT)) AS s4
      FROM mv GROUP BY event_type
    ), m AS (
      SELECT event_type, n,
             CAST(s1 AS DOUBLE) / n AS m1,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
      FROM a
    ), c AS (
      SELECT event_type, n,
             r2 - m1 * m1 AS m2,
             r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1 AS m3,
             r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2
               - 3 * m1 * m1 * m1 * m1 AS m4
      FROM m
    )
    SELECT event_type, n,
           floor(m3 / sqrt(m2 * m2 * m2) * {ST_SCALE} + 0.5)
             / {ST_SCALE} AS skewness,
           floor((m4 / (m2 * m2) - 3) * {ST_SCALE} + 0.5)
             / {ST_SCALE} AS excess_kurtosis,
           floor(n / 6.0 * ((m3 / sqrt(m2 * m2 * m2))
                            * (m3 / sqrt(m2 * m2 * m2))
                            + (m4 / (m2 * m2) - 3)
                              * (m4 / (m2 * m2) - 3) / 4.0)
                 * {ST_SCALE} + 0.5) / {ST_SCALE} AS jb_stat
    FROM c ORDER BY event_type
    """,
    doc="Jarque-Bera normality test per type on daily close moves: "
    "skew/kurtosis from exact DECIMAL(38,0)/HUGEINT power sums, one "
    "final double chain; daily-bar two-pass input",
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jarque_bera(load(spark, sf_dir, "events"))


# ------------------------------------------------------------ Ljung–Box


def ljung_box(events: DataFrame, m: int = LB_LAGS) -> DataFrame:
    """Q = n(n+2)·Σ ρ_k²/(n−k): exact-integer autocorrelations via the
    n-scaled-deviation trick, lags as fixed window columns."""
    w = Window.partitionBy("event_type").orderBy("day")
    d = daily_moves(events)
    for k in range(1, m + 1):
        d = d.withColumn(f"lx{k}", F.lag("x", k).over(w))
    tot = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    j = d.join(F.broadcast(tot), "event_type")
    dev = F.col("n") * F.col("x") - F.col("s")
    aggs = [
        F.first("n").alias("n"),
        F.sum((dev * dev).cast(_DEC)).alias("den"),
    ]
    for k in range(1, m + 1):
        devk = F.col("n") * F.col(f"lx{k}") - F.col("s")
        aggs.append(
            F.sum(
                F.when(
                    F.col(f"lx{k}").isNotNull(), (dev * devk).cast(_DEC)
                ).otherwise(F.lit(0).cast(_DEC))
            ).alias(f"num{k}")
        )
    a = j.groupBy("event_type").agg(*aggs)
    n = F.col("n").cast("double")
    qsum = None
    for k in range(1, m + 1):
        rho = F.col(f"num{k}").cast("double") / F.col("den").cast("double")
        # series shorter than the lag contributes nothing (guards the
        # n - k = 0 division on degenerate calendars)
        t = F.when(F.col("n") > k, rho * rho / (n - k)).otherwise(0.0)
        qsum = t if qsum is None else qsum + t
    rho1 = F.col("num1").cast("double") / F.col("den").cast("double")
    return a.select(
        "event_type",
        "n",
        F.lit(m).cast("long").alias("lags"),
        _q(rho1, ST_SCALE).alias("rho1"),
        _q(n * (n + 2.0) * qsum, ST_SCALE).alias("q_stat"),
    ).orderBy("event_type")


def _lb_oracle(m: int) -> str:
    lag_cols = ",\n             ".join(
        f"lag(x, {k}) OVER (PARTITION BY event_type ORDER BY day) AS lx{k}"
        for k in range(1, m + 1)
    )
    num_aggs = ",\n             ".join(
        f"sum(CASE WHEN lx{k} IS NOT NULL THEN "
        f"CAST((n * x - s) * (n * lx{k} - s) AS HUGEINT) "
        f"ELSE CAST(0 AS HUGEINT) END) AS num{k}"
        for k in range(1, m + 1)
    )
    q_terms = " + ".join(
        f"(CASE WHEN n > {k} THEN "
        f"(CAST(num{k} AS DOUBLE) / CAST(den AS DOUBLE))"
        f" * (CAST(num{k} AS DOUBLE) / CAST(den AS DOUBLE)) / (n - {k})"
        f" ELSE 0 END)"
        for k in range(1, m + 1)
    )
    return f"""
    WITH {_MOVES_SQL}, lagged AS (
      SELECT event_type, day, x,
             {lag_cols}
      FROM mv
    ), tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s
      FROM mv GROUP BY event_type
    ), a AS (
      SELECT lagged.event_type, min(n) AS n,
             sum(CAST((n * x - s) * (n * x - s) AS HUGEINT)) AS den,
             {num_aggs}
      FROM lagged JOIN tot ON lagged.event_type = tot.event_type
      GROUP BY lagged.event_type
    )
    SELECT event_type, n, CAST({m} AS BIGINT) AS lags,
           floor(CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE)
                 * {ST_SCALE} + 0.5) / {ST_SCALE} AS rho1,
           floor(n * (n + 2.0) * ({q_terms}) * {ST_SCALE} + 0.5)
             / {ST_SCALE} AS q_stat
    FROM a ORDER BY event_type
    """


@register(
    "q_ljung_box",
    _lb_oracle(LB_LAGS),
    doc=f"Ljung-Box portmanteau Q over {LB_LAGS} lags per type on "
    "daily close moves: exact-integer autocorrelations via the "
    "n-scaled-deviation trick (denominator n cancels in rho), fixed "
    "lag columns — one calendar-sized pass, no self-join",
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ljung_box(load(spark, sf_dir, "events"))


# -------------------------------------------------------- Durbin–Watson


def durbin_watson(events: DataFrame) -> DataFrame:
    """DW = n²·Σ(Δx)²/Σ(n·x−S)² — both sides exact integers (the mean
    cancels in the first difference)."""
    w = Window.partitionBy("event_type").orderBy("day")
    d = daily_moves(events).withColumn("dx", F.col("x") - F.lag("x").over(w))
    tot = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(
            F.when(
                F.col("dx").isNotNull(),
                (F.col("dx") * F.col("dx")).cast(_DEC),
            ).otherwise(F.lit(0).cast(_DEC))
        ).alias("sdx2"),
    )
    dev = F.col("n") * F.col("x") - F.col("s")
    den = (
        d.join(F.broadcast(tot.select("event_type", "n", "s")), "event_type")
        .groupBy("event_type")
        .agg(F.sum((dev * dev).cast(_DEC)).alias("den"))
    )
    out = tot.join(den, "event_type")
    nn = F.col("n").cast("double")
    dw = (
        nn
        * nn
        * F.col("sdx2").cast("double")
        / F.col("den").cast("double")
    )
    return out.select(
        "event_type", "n", _q(dw, ST_SCALE).alias("dw_stat")
    ).orderBy("event_type")


@register(
    "q_durbin_watson",
    f"""
    WITH {_MOVES_SQL}, dd AS (
      SELECT event_type, day, x,
             x - lag(x) OVER (PARTITION BY event_type ORDER BY day) AS dx
      FROM mv
    ), tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             sum(CASE WHEN dx IS NOT NULL THEN CAST(dx * dx AS HUGEINT)
                      ELSE CAST(0 AS HUGEINT) END) AS sdx2
      FROM dd GROUP BY event_type
    ), den AS (
      SELECT dd.event_type,
             sum(CAST((n * x - s) * (n * x - s) AS HUGEINT)) AS den
      FROM dd JOIN tot ON dd.event_type = tot.event_type
      GROUP BY dd.event_type
    )
    SELECT tot.event_type, n,
           floor(CAST(n AS DOUBLE) * n * CAST(sdx2 AS DOUBLE)
                 / CAST(den.den AS DOUBLE) * {ST_SCALE} + 0.5)
             / {ST_SCALE} AS dw_stat
    FROM tot JOIN den ON tot.event_type = den.event_type
    ORDER BY tot.event_type
    """,
    doc="Durbin-Watson serial-correlation statistic per type on daily "
    "close moves: n^2 * sum(first-difference^2) / sum((n*x - S)^2) — "
    "both sums exact HUGEINT integers, one final division",
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    return durbin_watson(load(spark, sf_dir, "events"))


# ----------------------------------------------------------------- ANOVA


def anova(events: DataFrame) -> DataFrame:
    """One-way ANOVA F across types on daily moves from exact
    (n_j, Σx, Σx²) group sums."""
    g = daily_moves(events).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nj"),
        F.sum(F.col("x").cast(_DEC)).alias("sj"),
        F.sum((F.col("x") * F.col("x")).cast(_DEC)).alias("ssj"),
    )
    nj = F.col("nj").cast("double")
    sj = F.col("sj").cast("double")
    ssj = F.col("ssj").cast("double")
    a = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("nj").alias("n"),
        F.sum(sj).alias("s_all"),
        F.sum(ssj - sj * sj / nj).alias("ssw"),
        F.sum(sj * sj / nj).alias("sb_raw"),
    )
    n = F.col("n").cast("double")
    ssb = F.col("sb_raw") - F.col("s_all") * F.col("s_all") / n
    fstat = (ssb / (F.col("k") - 1)) / (F.col("ssw") / (n - F.col("k")))
    return a.select(
        "k",
        "n",
        _q(ssb, ST_SCALE).alias("ss_between"),
        _q(F.col("ssw"), ST_SCALE).alias("ss_within"),
        _q(fstat, ST_SCALE).alias("f_stat"),
    )


@register(
    "q_anova",
    f"""
    WITH {_MOVES_SQL}, g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS nj,
             sum(CAST(x AS HUGEINT)) AS sj,
             sum(CAST(x * x AS HUGEINT)) AS ssj
      FROM mv GROUP BY event_type
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(nj) AS BIGINT) AS n,
             sum(CAST(sj AS DOUBLE)) AS s_all,
             sum(CAST(ssj AS DOUBLE)
                 - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE) / nj) AS ssw,
             sum(CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE) / nj) AS sb_raw
      FROM g
    )
    SELECT k, n,
           floor((sb_raw - s_all * s_all / n) * {ST_SCALE} + 0.5)
             / {ST_SCALE} AS ss_between,
           floor(ssw * {ST_SCALE} + 0.5) / {ST_SCALE} AS ss_within,
           floor(((sb_raw - s_all * s_all / n) / (k - 1))
                 / (ssw / (n - k)) * {ST_SCALE} + 0.5)
             / {ST_SCALE} AS f_stat
    FROM a
    """,
    doc="One-way ANOVA F across event types on daily close moves: "
    "SSB/SSW from exact per-group (n, sum, sum-of-squares); the "
    "k-row final fold is bounded by |types|",
)
def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    return anova(load(spark, sf_dir, "events"))


# --------------------------------------------------------------- Welch t


def welch_t(
    events: DataFrame, a: str = WELCH_A, b: str = WELCH_B
) -> DataFrame:
    """Welch's t + Welch–Satterthwaite dof + Cohen's d between two
    types' daily moves, from exact group sums."""
    g = (
        daily_moves(events)
        .filter(F.col("event_type").isin(a, b))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("nj"),
            F.sum(F.col("x").cast(_DEC)).alias("sj"),
            F.sum((F.col("x") * F.col("x")).cast(_DEC)).alias("ssj"),
        )
    )
    p = g.groupBy().pivot("event_type", [a, b]).agg(
        F.first("nj").alias("n"),
        F.first(F.col("sj").cast("double")).alias("s"),
        F.first(F.col("ssj").cast("double")).alias("ss"),
    )
    n1, s1, ss1 = F.col(f"{a}_n"), F.col(f"{a}_s"), F.col(f"{a}_ss")
    n2, s2, ss2 = F.col(f"{b}_n"), F.col(f"{b}_s"), F.col(f"{b}_ss")
    m1, m2 = s1 / n1, s2 / n2
    v1 = (ss1 - s1 * s1 / n1) / (n1 - 1)
    v2 = (ss2 - s2 * s2 / n2) / (n2 - 1)
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)
    )
    sp = F.sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
    return p.select(
        n1.cast("long").alias("n_a"),
        n2.cast("long").alias("n_b"),
        _q(m1 - m2, ST_SCALE).alias("mean_diff"),
        _q(t, ST_SCALE).alias("t_stat"),
        _q(dof, ST_SCALE).alias("dof"),
        _q((m1 - m2) / sp, ST_SCALE).alias("cohens_d"),
    )


@register(
    "q_welch_t",
    f"""
    WITH {_MOVES_SQL}, g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS nj,
             CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sj,
             CAST(sum(CAST(x * x AS HUGEINT)) AS DOUBLE) AS ssj
      FROM mv WHERE event_type IN ('{WELCH_A}', '{WELCH_B}')
      GROUP BY event_type
    ), p AS (
      SELECT
        max(CASE WHEN event_type = '{WELCH_A}' THEN nj END) AS n1,
        max(CASE WHEN event_type = '{WELCH_A}' THEN sj END) AS s1,
        max(CASE WHEN event_type = '{WELCH_A}' THEN ssj END) AS ss1,
        max(CASE WHEN event_type = '{WELCH_B}' THEN nj END) AS n2,
        max(CASE WHEN event_type = '{WELCH_B}' THEN sj END) AS s2,
        max(CASE WHEN event_type = '{WELCH_B}' THEN ssj END) AS ss2
      FROM g
    ), c AS (
      SELECT n1, n2, s1 / n1 - s2 / n2 AS md,
             (ss1 - s1 * s1 / n1) / (n1 - 1) AS v1,
             (ss2 - s2 * s2 / n2) / (n2 - 1) AS v2
      FROM p
    )
    SELECT n1 AS n_a, n2 AS n_b,
           floor(md * {ST_SCALE} + 0.5) / {ST_SCALE} AS mean_diff,
           floor(md / sqrt(v1 / n1 + v2 / n2) * {ST_SCALE} + 0.5)
             / {ST_SCALE} AS t_stat,
           floor((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
                 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                    + (v2 / n2) * (v2 / n2) / (n2 - 1))
                 * {ST_SCALE} + 0.5) / {ST_SCALE} AS dof,
           floor(md / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                           / (n1 + n2 - 2))
                 * {ST_SCALE} + 0.5) / {ST_SCALE} AS cohens_d
    FROM c
    """,
    doc=f"Welch's unequal-variance t between '{WELCH_A}' and "
    f"'{WELCH_B}' daily moves + Welch-Satterthwaite dof + Cohen's d "
    "(pooled sd): exact HUGEINT group sums, final double chain",
)
def q_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    return welch_t(load(spark, sf_dir, "events"))


# ---------------------------------------------------------- Cohen's κ


def cohens_kappa(events: DataFrame) -> DataFrame:
    """κ between the daily price-move sign and volume-move sign (3×3
    confusion pooled over types): exact counts, one final division."""
    w = Window.partitionBy("event_type").orderBy("day")
    d = (
        daily_bars(events)
        .withColumn("dv", F.col("vol") - F.lag("vol").over(w))
        .filter(F.col("dc").isNotNull() & F.col("dv").isNotNull())
        .select(
            F.signum(F.col("dc").cast("double")).cast("long").alias("ra"),
            F.signum(F.col("dv").cast("double")).cast("long").alias("rb"),
        )
    )
    cells = d.groupBy("ra", "rb").agg(F.count(F.lit(1)).alias("c"))
    tot = cells.agg(F.sum("c").alias("n"))
    ma = cells.groupBy("ra").agg(F.sum("c").alias("ca"))
    mb = cells.groupBy("rb").agg(F.sum("c").alias("cb"))
    po = (
        cells.filter(F.col("ra") == F.col("rb"))
        .agg(F.sum("c").alias("agree"))
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            (F.col("agree") / F.col("n")).alias("po"),
        )
    )
    pe = (
        ma.join(mb, ma["ra"] == mb["rb"])
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("ca")
                * F.col("cb")
                / (F.col("n").cast("double") * F.col("n"))
            ).alias("pe")
        )
    )
    out = po.crossJoin(F.broadcast(pe))
    return out.select(
        "n",
        _q(F.col("po"), 10**6).alias("po"),
        _q(F.col("pe"), 10**6).alias("pe"),
        _q(
            (F.col("po") - F.col("pe")) / (1.0 - F.col("pe")), 10**6
        ).alias("kappa"),
    )


@register(
    "q_cohens_kappa",
    f"""
    WITH {_BARS_SQL}, dd AS (
      SELECT event_type, day, dc,
             vol - lag(vol) OVER (PARTITION BY event_type ORDER BY day)
               AS dv
      FROM moves
    ), r AS (
      SELECT CAST(sign(dc) AS BIGINT) AS ra, CAST(sign(dv) AS BIGINT) AS rb
      FROM dd WHERE dc IS NOT NULL AND dv IS NOT NULL
    ), cells AS (
      SELECT ra, rb, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY ra, rb
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    po AS (
      SELECT coalesce(sum(CASE WHEN ra = rb THEN c END), 0)
               / CAST(n AS DOUBLE) AS po, n
      FROM cells, tot GROUP BY n
    ), pe AS (
      SELECT sum(ca * cb / (CAST(n AS DOUBLE) * n)) AS pe
      FROM (SELECT ra, CAST(sum(c) AS BIGINT) AS ca FROM cells GROUP BY ra) a
      JOIN (SELECT rb, CAST(sum(c) AS BIGINT) AS cb FROM cells GROUP BY rb) b
        ON a.ra = b.rb, tot
    )
    SELECT n,
           floor(po * 1000000 + 0.5) / 1000000 AS po,
           floor(pe * 1000000 + 0.5) / 1000000 AS pe,
           floor((po - pe) / (1 - pe) * 1000000 + 0.5) / 1000000 AS kappa
    FROM po, pe
    """,
    doc="Cohen's kappa between daily price-move sign and volume-move "
    "sign (3x3 confusion pooled across types): exact integer "
    "contingency counts, po/pe rationals, one final division",
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cohens_kappa(load(spark, sf_dir, "events"))


# --------------------------------------------------------------- Bartlett


def bartlett(events: DataFrame) -> DataFrame:
    """Bartlett's equal-variance T across types: variances as exact
    rationals of integer sums; ln in the final k-term chain only."""
    g = daily_moves(events).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nj"),
        F.sum(F.col("x").cast(_DEC)).alias("sj"),
        F.sum((F.col("x") * F.col("x")).cast(_DEC)).alias("ssj"),
    )
    nj = F.col("nj").cast("double")
    sj = F.col("sj").cast("double")
    ssj = F.col("ssj").cast("double")
    vj = (ssj - sj * sj / nj) / (nj - 1.0)
    a = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("nj").alias("n"),
        F.sum((nj - 1.0) * vj).alias("sw"),
        F.sum((nj - 1.0) * F.log(vj)).alias("slnv"),
        F.sum(1.0 / (nj - 1.0)).alias("sinv"),
    )
    n = F.col("n").cast("double")
    k = F.col("k").cast("double")
    sp2 = F.col("sw") / (n - k)
    c = 1.0 + (F.col("sinv") - 1.0 / (n - k)) / (3.0 * (k - 1.0))
    t = ((n - k) * F.log(sp2) - F.col("slnv")) / c
    return a.select(
        "k",
        "n",
        _q(sp2, ST_SCALE).alias("pooled_var"),
        _q(t, ST_SCALE).alias("t_stat"),
    )


@register(
    "q_bartlett",
    f"""
    WITH {_MOVES_SQL}, g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS nj,
             CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sj,
             CAST(sum(CAST(x * x AS HUGEINT)) AS DOUBLE) AS ssj
      FROM mv GROUP BY event_type
    ), v AS (
      SELECT nj, (ssj - sj * sj / nj) / (nj - 1) AS vj FROM g
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(nj) AS BIGINT) AS n,
             sum((nj - 1) * vj) AS sw,
             sum((nj - 1) * ln(vj)) AS slnv,
             sum(1.0 / (nj - 1)) AS sinv
      FROM v
    )
    SELECT k, n,
           floor(sw / (n - k) * {ST_SCALE} + 0.5) / {ST_SCALE}
             AS pooled_var,
           floor(((n - k) * ln(sw / (n - k)) - slnv)
                 / (1 + (sinv - 1.0 / (n - k)) / (3 * (k - 1)))
                 * {ST_SCALE} + 0.5) / {ST_SCALE} AS t_stat
    FROM a
    """,
    doc="Bartlett's equal-variance test across types on daily close "
    "moves: group variances as exact rationals of HUGEINT sums, ln "
    "only in the final |types|-term chain",
)
def q_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bartlett(load(spark, sf_dir, "events"))
