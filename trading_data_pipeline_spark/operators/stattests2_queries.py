"""Distributed exact statistical tests, continued (round-8 batch 7).

Extends stattests_queries (KS / χ² / Spearman / Mann-Whitney /
variance-ratio / Kendall) with the k-sample and resampling layer — each
test statistic exact integer/decimal arithmetic until one final double
chain, quantized (functions/quantize.py):

- **q_kruskal_wallis**: Kruskal–Wallis H across event types over
  integer-cent prices, with mid-rank ties and the tie correction.
  Pooled mid-ranks come DOUBLED from ``plans/global_rank.
  doubled_midranks`` over the value histogram (exact BIGINTs, the
  q_spearman primitive), the per-group rank sums square in
  DECIMAL(38,0) (HUGEINT on the DuckDB side), and so does the tie term
  Σ(t³−t). A NULL price is not an observation.
- **q_brown_forsythe**: Brown–Forsythe (median-centered Levene) equal-
  variance test across types on daily close moves. Group medians are
  exact DOUBLED order statistics (lo+hi middle, no interpolation), the
  absolute deviations stay integral, and W's numerator/denominator are
  rationals of BIGINT sums.
- **q_cramers_v**: Cramér's V effect size for event_type × weekday —
  q_chi_square's cell table (``_chi2_terms`` / ``_CHI2_SQL``: exact
  (O·T−R·C)²/(T·R·C) terms fixed to 1e-9 BIGINTs) normalized by
  N·(min(r,c)−1) with one final sqrt.
- **q_jackknife_sharpe**: leave-one-day-out jackknife standard error of
  the per-type Sharpe ratio. Each deleted-day Sharpe is a closed form
  of (Σx−x_i, Σx²−x_i², n−1) — one pass builds the totals, one row-
  parallel projection builds all n replicates (no n× re-aggregation) —
  then replicates fix to 1e-6 BIGINTs so the jackknife variance
  ``(n−1)/n·Σ(θ_i−θ̄)²`` is exact integer arithmetic (DECIMAL/HUGEINT
  cross terms) with one final sqrt.
- **q_runs_test**: Wald–Wolfowitz runs test on the SIGN sequence of
  daily close moves per type (zeros dropped) — is the tape streakier
  than coin flips. Run count via one lag comparison; μ and σ are
  closed forms of the integer (n₊, n₋); one double chain.

Scale notes: KW is the only query that touches raw-event values — its
ranks run over the distinct-value grid via ``doubled_midranks``'s
unkeyed path (quantile-bucketed two-pass cumsum, NO SinglePartition
window), and every other input is the calendar-bounded daily-bar
table. Group count k is small (|event_type| ≈ 5): the final k-row
double folds are quantization-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..plans.global_rank import doubled_midranks
from ..registry import load, register
from .bars import _BARS_SQL, _CENTS, cents, daily_bars
from .stattests_queries import _CHI2_SQL, CHI2_SCALE, _chi2_terms

JK_SCALE = 10**6


# ----------------------------------------------------- Kruskal–Wallis


def kruskal_wallis(df: DataFrame, group_col: str, value_col) -> DataFrame:
    """H across groups with mid-rank ties: doubled pooled mid-ranks and
    tie terms t³−t from :func:`doubled_midranks` over the value grid,
    per-group doubled rank sums squared in DECIMAL(38,0), tie correction
    Σ(t³−t)/(N³−N). A NULL value is not an observation."""
    cells = df.groupBy(
        F.col(group_col).alias("g"), value_col.alias("c")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    grid = cells.groupBy("c").agg(F.sum("cnt").alias("tot"))
    ranked = doubled_midranks(grid, [], "c", "tot")
    r2 = (
        cells.join(ranked.select("c", "_mid2"), "c")
        .groupBy("g")
        .agg(
            F.sum("cnt").alias("n_g"),
            F.sum(F.col("cnt") * F.col("_mid2")).alias("r2"),
        )
    )
    # Σ_j R_j²/n_j on doubled ranks = Σ_j R2_j²/(4·n_j); H = 12/(N(N+1))·
    # that − 3(N+1) = 3/(N(N+1))·Σ R2_j²/n_j − 3(N+1)
    term = (
        (F.col("r2").cast("decimal(38,0)") * F.col("r2"))
        .cast("double")
        / F.col("n_g")
    )
    ties = ranked.agg(F.sum("_tie3").alias("t3"))
    agg = r2.agg(
        F.sum("n_g").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(term).alias("s_term"),
    ).crossJoin(F.broadcast(ties))
    nn = F.col("n").cast("double")
    h = F.lit(3.0) / (nn * (nn + 1.0)) * F.col("s_term") - 3.0 * (nn + 1.0)
    corr = F.lit(1.0) - F.col("t3").cast("double") / (nn * nn * nn - nn)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k_groups"),
        (F.col("k") - 1).cast("long").alias("dof"),
        _q(h, 10000).alias("h"),
        _q(h / corr, 10000).alias("h_tie_corrected"),
    )


@register(
    "q_kruskal_wallis",
    f"""
    WITH cells AS (
      SELECT event_type AS g, {_CENTS} AS c,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), grid AS (
      SELECT c, CAST(sum(cnt) AS BIGINT) AS tot FROM cells GROUP BY c
    ), mid AS (
      SELECT c,
             2 * CAST(sum(tot) OVER (ORDER BY c
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               - tot + 1 AS mid2
      FROM grid
    ), r2 AS (
      SELECT g, CAST(sum(cnt) AS BIGINT) AS n_g,
             CAST(sum(cnt * mid2) AS BIGINT) AS r2
      FROM cells JOIN mid USING (c) GROUP BY g
    ), tt AS (
      SELECT sum(CAST(tot AS HUGEINT) * tot * tot - tot) AS t3,
             CAST(sum(tot) AS BIGINT) AS n
      FROM grid
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             sum(CAST(CAST(r2 AS HUGEINT) * r2 AS DOUBLE) / n_g) AS s_term
      FROM r2
    )
    SELECT n, k AS k_groups, k - 1 AS dof,
           floor((3.0 / (n * (n + 1.0)) * s_term - 3.0 * (n + 1.0))
                 * 10000 + 0.5) / 10000 AS h,
           floor((3.0 / (n * (n + 1.0)) * s_term - 3.0 * (n + 1.0))
                 / (1.0 - t3 / (CAST(n AS DOUBLE) * n * n - n))
                 * 10000 + 0.5) / 10000 AS h_tie_corrected
    FROM agg, tt
    """,
    doc="Kruskal-Wallis H across event types over integer-cent prices "
    "with mid-rank ties + tie correction — doubled mid-ranks from the "
    "value-grid cumulative (two-pass global cumsum, no SinglePartition "
    "window), DECIMAL-exact rank-sum squares, one double chain",
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return kruskal_wallis(
        ev, "event_type", cents()
    )


# ---------------------------------------------------- Brown–Forsythe


def brown_forsythe(events: DataFrame) -> DataFrame:
    """Median-centered Levene across types on daily close moves: z =
    |2·x − doubled group median| (exact order statistics), W from
    BIGINT sums of z and z²."""
    moves = daily_bars(events).filter(F.col("dc").isNotNull()).select(
        "event_type", "day", "dc"
    )
    wr = Window.partitionBy("event_type").orderBy("dc", "day")
    wn = Window.partitionBy("event_type")
    r = moves.select(
        "event_type",
        "dc",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_g"),
    )
    lo = F.expr("CAST((n_g + 1) DIV 2 AS BIGINT)")
    hi = F.expr("CAST(n_g DIV 2 + 1 AS BIGINT)")
    med2 = r.groupBy("event_type").agg(
        (
            F.sum(F.when(F.col("rn") == lo, F.col("dc"))).alias("m_lo")
            + F.sum(F.when(F.col("rn") == hi, F.col("dc"))).alias("m_hi")
        ).alias("med2")
    )
    z = moves.join(med2, "event_type").select(
        "event_type",
        F.abs(2 * F.col("dc") - F.col("med2")).alias("z2"),
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("z2").alias("s_g"),
        F.sum(F.col("z2") * F.col("z2")).alias("q_g"),
    )
    tot = g.agg(
        F.sum("n_g").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("s_g").alias("s"),
        F.sum(
            F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g")
        ).alias("sj2"),
        F.sum(
            F.col("q_g").cast("double")
            - F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g")
        ).alias("den"),
    )
    num = F.col("sj2") - F.col("s").cast("double") * F.col("s") / F.col("n")
    w = (
        (F.col("n") - F.col("k")).cast("double")
        / (F.col("k") - 1).cast("double")
        * num
        / F.nullif(F.col("den"), F.lit(0.0))
    )
    return tot.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k_groups"),
        (F.col("k") - 1).cast("long").alias("dof1"),
        (F.col("n") - F.col("k")).cast("long").alias("dof2"),
        _q(w, 10000).alias("bf_w"),
    )


@register(
    "q_brown_forsythe",
    f"""
    WITH {_BARS_SQL}, mv AS (
      SELECT event_type, day, dc FROM moves WHERE dc IS NOT NULL
    ), r AS (
      SELECT event_type, dc,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY dc, day) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_g
      FROM mv
    ), med AS (
      SELECT event_type,
             CAST(sum(CASE WHEN rn = (n_g + 1) // 2 THEN dc END)
                  + sum(CASE WHEN rn = n_g // 2 + 1 THEN dc END)
                  AS BIGINT) AS med2
      FROM r GROUP BY event_type
    ), z AS (
      SELECT m.event_type, abs(2 * v.dc - m.med2) AS z2
      FROM mv v JOIN med m ON m.event_type = v.event_type
    ), g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(z2) AS BIGINT) AS s_g,
             CAST(sum(z2 * z2) AS BIGINT) AS q_g
      FROM z GROUP BY event_type
    ), tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(s_g) AS BIGINT) AS s,
             sum(CAST(s_g AS DOUBLE) * s_g / n_g) AS sj2,
             sum(CAST(q_g AS DOUBLE)
                 - CAST(s_g AS DOUBLE) * s_g / n_g) AS den
      FROM g
    )
    SELECT n, k AS k_groups, k - 1 AS dof1, n - k AS dof2,
           floor((n - k) * 1.0 / (k - 1)
                 * (sj2 - CAST(s AS DOUBLE) * s / n)
                 / nullif(den, 0.0) * 10000 + 0.5) / 10000 AS bf_w
    FROM tot
    """,
    doc="Brown-Forsythe equal-variance test across types on daily close "
    "moves: deviations from exact DOUBLED group medians stay integral, "
    "W is a rational of BIGINT sums — the robust Levene variant "
    "(median, not mean, centering)",
)
def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brown_forsythe(load(spark, sf_dir, "events"))


# -------------------------------------------------------- Cramér's V


def cramers_v(df: DataFrame, row_col, col_col) -> DataFrame:
    """χ² of the row×col contingency (the :func:`_chi2_terms` cells of
    q_chi_square) normalized to Cramér's V = sqrt(χ²/(N·(min(r,c)−1)))."""
    terms = _chi2_terms(df, row_col, col_col)
    agg = terms.groupBy("nr", "nc", "t").agg(F.sum("q").alias("qsum"))
    chi2 = F.col("qsum") / F.lit(float(CHI2_SCALE))
    v = F.sqrt(
        chi2
        / (
            F.col("t")
            * (F.least(F.col("nr"), F.col("nc")) - 1)
        ).cast("double")
    )
    return agg.select(
        F.col("t").cast("long").alias("n"),
        F.col("nr").cast("long").alias("n_rows"),
        F.col("nc").cast("long").alias("n_cols"),
        _q(chi2, 10000).alias("chi2"),
        _q(v, 10000).alias("cramers_v"),
    )


@register(
    "q_cramers_v",
    f"""
    WITH {_CHI2_SQL}, agg AS (
      SELECT nr, nc, t, CAST(sum(q) AS BIGINT) AS qsum
      FROM terms GROUP BY nr, nc, t
    )
    SELECT t AS n, nr AS n_rows, nc AS n_cols,
           floor(qsum / {float(CHI2_SCALE)} * 10000 + 0.5) / 10000
             AS chi2,
           floor(sqrt(qsum / {float(CHI2_SCALE)}
                      / CAST(t * (least(nr, nc) - 1) AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS cramers_v
    FROM agg
    """,
    doc="Cramer's V effect size for event_type x weekday: the exact "
    "chi-square cell recipe (1e-9-fixed rational terms) normalized by "
    "N*(min(r,c)-1), one sqrt — the [0,1] association strength chi2 "
    "alone doesn't give",
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cramers_v(
        load(spark, sf_dir, "events"),
        F.col("event_type"),
        F.dayofweek("ts"),
    )


# --------------------------------------------------- Jackknife Sharpe


def jackknife_sharpe(events: DataFrame) -> DataFrame:
    """Leave-one-day-out jackknife SE of the per-type daily Sharpe:
    totals (n, Σx, Σx²) once, every deleted-day replicate a closed-form
    projection, replicates fixed to 1e-6 BIGINTs, jackknife variance
    (n−1)(nΣθ²−(Σθ)²)/n² exact via DECIMAL cross terms, one sqrt."""
    moves = daily_bars(events).filter(F.col("dc").isNotNull()).select(
        "event_type", "day", "dc"
    )
    tot = moves.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dc").alias("s"),
        F.sum(F.col("dc") * F.col("dc")).alias("qq"),
    )
    d = moves.join(tot, "event_type").filter(F.col("n") >= 3)
    n1 = (F.col("n") - 1).cast("double")
    s_i = (F.col("s") - F.col("dc")).cast("double")
    q_i = (F.col("qq") - F.col("dc") * F.col("dc")).cast("double")
    var_i = (q_i - s_i * s_i / n1) / (n1 - 1.0)
    sharpe_i = (s_i / n1) / F.sqrt(var_i)
    th = F.floor(sharpe_i * JK_SCALE + 0.5).cast("long")
    rep = d.select("event_type", "n", "s", "qq", th.alias("th"))
    agg = rep.groupBy("event_type", "n", "s", "qq").agg(
        F.sum("th").alias("m"),
        F.sum(F.col("th").cast("decimal(38,0)") * F.col("th")).alias("v2"),
    )
    jvar_num = (
        F.col("n").cast("decimal(38,0)") * F.col("v2")
        - F.col("m").cast("decimal(38,0)") * F.col("m")
    ).cast("double")
    se = (
        F.sqrt((F.col("n") - 1).cast("double") * jvar_num)
        / (F.col("n") * F.lit(float(JK_SCALE)))
    )
    nn = F.col("n").cast("double")
    var_full = (
        F.col("qq").cast("double")
        - F.col("s").cast("double") * F.col("s") / nn
    ) / (nn - 1.0)
    sharpe_full = (F.col("s") / nn) / F.sqrt(var_full)
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        _q(sharpe_full, 10000).alias("sharpe"),
        _q(se, 10000).alias("jk_se"),
        _q(sharpe_full / F.nullif(se, F.lit(0.0)), 10000).alias("jk_t"),
    )


@register(
    "q_jackknife_sharpe",
    f"""
    WITH {_BARS_SQL}, mv AS (
      SELECT event_type, day, dc FROM moves WHERE dc IS NOT NULL
    ), tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dc) AS BIGINT) AS s,
             CAST(sum(dc * dc) AS BIGINT) AS qq
      FROM mv GROUP BY event_type
    ), rep AS (
      SELECT t.event_type, t.n, t.s, t.qq,
             CAST(floor(
               ((t.s - v.dc) / (t.n - 1.0))
               / sqrt(((t.qq - v.dc * v.dc)
                       - (t.s - v.dc) * CAST(t.s - v.dc AS DOUBLE)
                         / (t.n - 1.0))
                      / (t.n - 2.0))
               * {JK_SCALE} + 0.5) AS BIGINT) AS th
      FROM mv v JOIN tot t ON t.event_type = v.event_type
      WHERE t.n >= 3
    ), agg AS (
      SELECT event_type, n, s, qq,
             CAST(sum(th) AS BIGINT) AS m,
             CAST(sum(CAST(th AS HUGEINT) * th) AS HUGEINT) AS v2
      FROM rep GROUP BY event_type, n, s, qq
    )
    SELECT event_type, n AS n_days,
           floor((s * 1.0 / n)
                 / sqrt((qq - CAST(s AS DOUBLE) * s / n) / (n - 1.0))
                 * 10000 + 0.5) / 10000 AS sharpe,
           floor(sqrt((n - 1.0)
                      * CAST(CAST(n AS HUGEINT) * v2
                             - CAST(m AS HUGEINT) * m AS DOUBLE))
                 / (n * {JK_SCALE}.0) * 10000 + 0.5) / 10000 AS jk_se,
           floor((s * 1.0 / n)
                 / sqrt((qq - CAST(s AS DOUBLE) * s / n) / (n - 1.0))
                 / nullif(sqrt((n - 1.0)
                               * CAST(CAST(n AS HUGEINT) * v2
                                      - CAST(m AS HUGEINT) * m AS DOUBLE))
                          / (n * {JK_SCALE}.0), 0.0)
                 * 10000 + 0.5) / 10000 AS jk_t
    FROM agg
    """,
    doc="Leave-one-day-out jackknife SE of the per-type daily Sharpe: "
    "one totals pass + a row-parallel closed-form replicate projection "
    "(never n re-aggregations), replicates fixed to 1e-6 BIGINTs so "
    "the jackknife variance is exact integer arithmetic, one sqrt — "
    "the uncertainty bar q_sharpe alone doesn't give",
)
def q_jackknife_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jackknife_sharpe(load(spark, sf_dir, "events"))


# ------------------------------------------------------- Runs test


def runs_test(events: DataFrame) -> DataFrame:
    """Wald–Wolfowitz runs test on daily move signs per type (zeros
    dropped): R = 1 + Σ(sign≠prev), z = (R−μ)/σ with the closed-form
    moments of (n₊, n₋). Types missing a sign drop (σ undefined)."""
    moves = (
        daily_bars(events)
        .filter(F.col("dc").isNotNull() & (F.col("dc") != 0))
        .select(
            "event_type",
            "day",
            F.when(F.col("dc") > 0, 1).otherwise(-1).alias("sg"),
        )
    )
    wt = Window.partitionBy("event_type").orderBy("day")
    d = moves.withColumn("prev", F.lag("sg").over(wt))
    agg = d.groupBy("event_type").agg(
        F.sum(F.when(F.col("sg") == 1, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("sg") == -1, 1).otherwise(0)).alias("n_neg"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull() & (F.col("sg") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        ).alias("runs"),
    )
    p2 = (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
    n = (F.col("n_pos") + F.col("n_neg")).cast("double")
    mu = 1.0 + p2 / n
    sig = F.sqrt(p2 * (p2 - n) / (n * n * (n - 1.0)))
    z = (F.col("runs") - mu) / sig
    return agg.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        "event_type",
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.col("runs").cast("long").alias("runs"),
        _q(z, 10000).alias("z"),
    )


@register(
    "q_runs_test",
    f"""
    WITH {_BARS_SQL}, sg AS (
      SELECT event_type, day,
             CASE WHEN dc > 0 THEN 1 ELSE -1 END AS sg
      FROM moves WHERE dc IS NOT NULL AND dc <> 0
    ), lagged AS (
      SELECT event_type, sg,
             lag(sg) OVER (PARTITION BY event_type ORDER BY day) AS prev
      FROM sg
    ), agg AS (
      SELECT event_type,
             CAST(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
             CAST(sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_neg,
             CAST(1 + sum(CASE WHEN prev IS NOT NULL AND sg <> prev
                               THEN 1 ELSE 0 END) AS BIGINT) AS runs
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, n_pos, n_neg, runs,
           floor((runs - (1.0 + 2.0 * n_pos * n_neg / (n_pos + n_neg)))
                 / sqrt(2.0 * n_pos * n_neg
                        * (2.0 * n_pos * n_neg - (n_pos + n_neg))
                        / (CAST(n_pos + n_neg AS DOUBLE)
                           * (n_pos + n_neg)
                           * (n_pos + n_neg - 1.0)))
                 * 10000 + 0.5) / 10000 AS z
    FROM agg WHERE n_pos > 0 AND n_neg > 0
    """,
    doc="Wald-Wolfowitz runs test on the sign sequence of daily close "
    "moves per type (zeros dropped): run count from one lag "
    "comparison, closed-form moments of (n+, n-), one double chain — "
    "the momentum-vs-mean-reversion randomness screen",
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    return runs_test(load(spark, sf_dir, "events"))
