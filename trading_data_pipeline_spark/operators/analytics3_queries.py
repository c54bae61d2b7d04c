"""Sequential monitoring / robust-location / sequence-information ops,
round-8 batch 15.

- **q_cusum**: two-sided Page CUSUM control chart per type on daily
  close moves. The recursion S⁺_t = max(0, S⁺_{t−1} + x_t − k) is NOT
  window-expressible directly, but equals C_t − min_{0≤j≤t} C_j with
  C = cumsum(x − k) and C₀ = 0 — a running cumsum plus a running min,
  both EXACT integers (cents), so the alarm decision can never flip on
  an ulp. Two-sided via the mirrored series. Emits the per-type alarm
  summary (counts, peak statistics, first alarm day).
- **q_trimmed_mean**: 10 %-each-side trimmed mean of daily moves per
  type via exact order statistics (row_number against floor(0.1·n)
  bounds) — the estimator-of-record companion to q_winsorize (which
  CLIPS; this DROPS).
- **q_markov_entropy**: entropy rate of the per-user event-type
  sequence — marginal entropy H₀, first-order conditional entropy
  H₁ = −Σᵢ p(i) Σⱼ p(j|i)·ln p(j|i) from exact transition counts
  (the q_type_transitions table), and the predictability gain H₀−H₁.
  The one-number "how templated is user behavior" read.
- **q_pastor_stambaugh**: Pastor–Stambaugh (2003) liquidity gamma per
  type — regress the NEXT day's move on today's move and today's
  SIGNED volume; γ < 0 means volume-driven moves revert (illiquidity).
  Closed-form 2-regressor OLS from centered cross-moment sums with the
  t-statistic of γ (the q_adf machinery).

Scale notes: all four run on calendar- or transition-count-bounded
tables after one fact-sized exchange (daily bars / per-user sequence
windows); no fact-sized windows on low-cardinality keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import _MOVES_SQL, daily_moves

CUSUM_K = 100  # slack, cents
CUSUM_H = 1000  # alarm threshold, cents
TRIM_PCT_NUM, TRIM_PCT_DEN = 1, 10  # 10% each side
PS_Y = None  # per-type (no pair choice needed)
AN_SCALE = 10**4


# ------------------------------------------------------------------ CUSUM


def cusum(
    events: DataFrame, k: int = CUSUM_K, h: int = CUSUM_H
) -> DataFrame:
    """Two-sided Page CUSUM per type: S± via the running-min identity
    (exact integers), alarm summary per type."""
    w = Window.partitionBy("event_type").orderBy("day")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    d = (
        daily_moves(events)
        .withColumn("cp", F.sum(F.col("x") - k).over(wc))
        .withColumn("cn", F.sum(-F.col("x") - k).over(wc))
    )
    # C_0 = 0: the running min must include the empty prefix
    sp = F.col("cp") - F.least(F.lit(0), F.min("cp").over(wc))
    sn = F.col("cn") - F.least(F.lit(0), F.min("cn").over(wc))
    d = d.select(
        "event_type",
        "day",
        sp.alias("sp"),
        sn.alias("sn"),
    )
    return (
        d.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("sp") > h).cast("long")).alias("alarms_up"),
            F.sum((F.col("sn") > h).cast("long")).alias("alarms_down"),
            (F.max("sp") / 100.0).alias("_mx_up"),
            (F.max("sn") / 100.0).alias("_mx_dn"),
            F.min(
                F.when(
                    (F.col("sp") > h) | (F.col("sn") > h), F.col("day")
                )
            ).alias("first_alarm_day"),
        )
        .select(
            "event_type",
            "n",
            "alarms_up",
            "alarms_down",
            _q(F.col("_mx_up"), AN_SCALE).alias("max_s_up"),
            _q(F.col("_mx_dn"), AN_SCALE).alias("max_s_down"),
            "first_alarm_day",
        )
        .orderBy("event_type")
    )


@register(
    "q_cusum",
    f"""
    WITH {_MOVES_SQL}, c AS (
      SELECT event_type, day,
             sum(x - {CUSUM_K}) OVER wc AS cp,
             sum(-x - {CUSUM_K}) OVER wc AS cn
      FROM mv
      WINDOW wc AS (PARTITION BY event_type ORDER BY day
                    ROWS UNBOUNDED PRECEDING)
    ), s AS (
      SELECT event_type, day,
             cp - least(0, min(cp) OVER wc) AS sp,
             cn - least(0, min(cn) OVER wc) AS sn
      FROM c
      WINDOW wc AS (PARTITION BY event_type ORDER BY day
                    ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN sp > {CUSUM_H} THEN 1 ELSE 0 END) AS BIGINT)
             AS alarms_up,
           CAST(sum(CASE WHEN sn > {CUSUM_H} THEN 1 ELSE 0 END) AS BIGINT)
             AS alarms_down,
           floor(max(sp) / 100.0 * {AN_SCALE} + 0.5) / {AN_SCALE}
             AS max_s_up,
           floor(max(sn) / 100.0 * {AN_SCALE} + 0.5) / {AN_SCALE}
             AS max_s_down,
           min(CASE WHEN sp > {CUSUM_H} OR sn > {CUSUM_H}
                    THEN day END) AS first_alarm_day
    FROM s GROUP BY event_type ORDER BY event_type
    """,
    doc=f"Two-sided Page CUSUM control chart per type (slack "
    f"{CUSUM_K}c, threshold {CUSUM_H}c): the max(0, S+y) recursion as "
    "cumsum minus running min — exact integers, no recursion; per-type "
    "alarm counts, peak statistics, first alarm day",
)
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cusum(load(spark, sf_dir, "events"))


# ----------------------------------------------------------- trimmed mean


def trimmed_mean(events: DataFrame) -> DataFrame:
    """10 %-each-side trimmed mean of daily moves per type: exact
    order-statistic bounds, exact integer sum over the kept band."""
    w = Window.partitionBy("event_type").orderBy("x", "day")
    d = daily_moves(events).withColumn("rn", F.row_number().over(w))
    cnt = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    lo = F.floor(F.col("n") * TRIM_PCT_NUM / TRIM_PCT_DEN)
    kept = d.join(F.broadcast(cnt), "event_type").filter(
        (F.col("rn") > lo) & (F.col("rn") <= F.col("n") - lo)
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.first("n").alias("n"),
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("x").alias("sx"),
        )
        .select(
            "event_type",
            "n",
            "n_kept",
            _q(
                F.col("sx") / (100.0 * F.col("n_kept")), AN_SCALE
            ).alias("trimmed_mean"),
        )
        .orderBy("event_type")
    )


@register(
    "q_trimmed_mean",
    f"""
    WITH {_MOVES_SQL}, r AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY x, day) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM mv
    )
    SELECT event_type, CAST(min(n) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_kept,
           floor(CAST(sum(x) AS BIGINT) / (100.0 * count(*))
                 * {AN_SCALE} + 0.5) / {AN_SCALE} AS trimmed_mean
    FROM r
    WHERE rn > floor(n * {TRIM_PCT_NUM} / {TRIM_PCT_DEN})
      AND rn <= n - floor(n * {TRIM_PCT_NUM} / {TRIM_PCT_DEN})
    GROUP BY event_type ORDER BY event_type
    """,
    doc="10%-each-side trimmed mean of daily moves per type: exact "
    "order-statistic trim bounds + exact integer sum — the dropping "
    "companion to q_winsorize's clipping",
)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return trimmed_mean(load(spark, sf_dir, "events"))


# -------------------------------------------------------- Markov entropy


def markov_entropy(events: DataFrame) -> DataFrame:
    """Entropy rate of the per-user event-type sequence: marginal H0,
    first-order conditional H1, predictability gain — exact transition
    counts, ln in the final per-cell chain."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("i"), F.col("nxt").alias("j"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rows = pairs.groupBy("i").agg(F.sum("c").alias("ni"))
    tot = rows.agg(F.sum("ni").alias("n"))
    h1 = (
        pairs.join(F.broadcast(rows), "i")
        .crossJoin(F.broadcast(tot))
        .agg(
            (
                -F.sum(
                    (F.col("c") / F.col("n"))
                    * F.log(F.col("c") / F.col("ni"))
                )
            ).alias("_h1")
        )
    )
    h0 = rows.crossJoin(F.broadcast(tot)).agg(
        (
            -F.sum(
                (F.col("ni") / F.col("n"))
                * F.log(F.col("ni") / F.col("n"))
            )
        ).alias("_h0")
    )
    out = tot.crossJoin(F.broadcast(h0)).crossJoin(F.broadcast(h1))
    return out.select(
        F.col("n").alias("n_transitions"),
        _q(F.col("_h0"), 10**6).alias("h_marginal"),
        _q(F.col("_h1"), 10**6).alias("h_rate"),
        _q(F.col("_h0") - F.col("_h1"), 10**6).alias("info_gain"),
    )


@register(
    "q_markov_entropy",
    """
    WITH seq AS (
      SELECT event_type AS i,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS j
      FROM events
    ), pairs AS (
      SELECT i, j, CAST(count(*) AS BIGINT) AS c FROM seq
      WHERE j IS NOT NULL GROUP BY i, j
    ), rows_ AS (
      SELECT i, CAST(sum(c) AS BIGINT) AS ni FROM pairs GROUP BY i
    ), tot AS (SELECT CAST(sum(ni) AS BIGINT) AS n FROM rows_),
    h1 AS (
      SELECT -sum((c / CAST(n AS DOUBLE))
                  * ln(c / CAST(ni AS DOUBLE))) AS _h1
      FROM pairs JOIN rows_ ON pairs.i = rows_.i, tot
    ), h0 AS (
      SELECT -sum((ni / CAST(n AS DOUBLE))
                  * ln(ni / CAST(n AS DOUBLE))) AS _h0
      FROM rows_, tot
    )
    SELECT n AS n_transitions,
           floor(_h0 * 1000000 + 0.5) / 1000000 AS h_marginal,
           floor(_h1 * 1000000 + 0.5) / 1000000 AS h_rate,
           floor((_h0 - _h1) * 1000000 + 0.5) / 1000000 AS info_gain
    FROM tot, h0, h1
    """,
    doc="Entropy rate of the per-user event-type sequence: marginal "
    "H0, first-order conditional H1 from exact transition counts, and "
    "the predictability gain H0-H1 — the how-templated-is-behavior "
    "read on q_type_transitions' table",
)
def q_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return markov_entropy(load(spark, sf_dir, "events"))


# ----------------------------------------------------- Pastor–Stambaugh


def pastor_stambaugh(events: DataFrame) -> DataFrame:
    """PS liquidity gamma per type: next-day move on (move, signed
    volume) — closed-form 2-regressor OLS + t(γ) from centered
    cross-moments (exact integer inputs)."""
    w = Window.partitionBy("event_type").orderBy("day")
    d = (
        daily_moves(events)
        .withColumn("y", F.lead("x").over(w))
        .filter(F.col("y").isNotNull())
        .select(
            "event_type",
            F.col("y").cast("double").alias("y"),
            F.col("x").cast("double").alias("z1"),
            (
                F.signum(F.col("x").cast("double")) * F.col("vol")
            ).alias("z2"),
        )
    )
    a = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum("z1").alias("s1"),
        F.sum("z2").alias("s2"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("z1") * F.col("z1")).alias("s11"),
        F.sum(F.col("z2") * F.col("z2")).alias("s22"),
        F.sum(F.col("z1") * F.col("z2")).alias("s12"),
        F.sum(F.col("y") * F.col("z1")).alias("s1y"),
        F.sum(F.col("y") * F.col("z2")).alias("s2y"),
    )
    n = F.col("n").cast("double")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    beta = (c1y * c22 - c2y * c12) / det
    gamma = (c2y * c11 - c1y * c12) / det
    rss = cyy - beta * c1y - gamma * c2y
    t_g = gamma / F.sqrt(rss / (n - 3.0) * c11 / det)
    return a.select(
        "event_type",
        "n",
        _q(beta, AN_SCALE).alias("beta_ret"),
        _q(gamma * 10**6, AN_SCALE).alias("gamma_liq_1e6"),
        _q(t_g, AN_SCALE).alias("t_gamma"),
    ).orderBy("event_type")


@register(
    "q_pastor_stambaugh",
    f"""
    WITH {_MOVES_SQL}, d AS (
      SELECT event_type,
             CAST(lead(x) OVER (PARTITION BY event_type ORDER BY day)
                  AS DOUBLE) AS y,
             CAST(x AS DOUBLE) AS z1,
             sign(x) * vol AS z2
      FROM mv
    ), a AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(y) AS sy, sum(z1) AS s1, sum(z2) AS s2,
             sum(y * y) AS syy, sum(z1 * z1) AS s11,
             sum(z2 * z2) AS s22, sum(z1 * z2) AS s12,
             sum(y * z1) AS s1y, sum(y * z2) AS s2y
      FROM d WHERE y IS NOT NULL GROUP BY event_type
    ), c AS (
      SELECT event_type, n,
             syy - sy * sy / n AS cyy, s11 - s1 * s1 / n AS c11,
             s22 - s2 * s2 / n AS c22, s12 - s1 * s2 / n AS c12,
             s1y - s1 * sy / n AS c1y, s2y - s2 * sy / n AS c2y
      FROM a
    ), o AS (
      SELECT event_type, n, c11, c11 * c22 - c12 * c12 AS det,
             (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS beta,
             (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS gamma,
             cyy, c1y, c2y
      FROM c
    )
    SELECT event_type, n,
           floor(beta * {AN_SCALE} + 0.5) / {AN_SCALE} AS beta_ret,
           floor(gamma * 1000000 * {AN_SCALE} + 0.5) / {AN_SCALE}
             AS gamma_liq_1e6,
           floor(gamma / sqrt((cyy - beta * c1y - gamma * c2y) / (n - 3)
                              * c11 / det) * {AN_SCALE} + 0.5)
             / {AN_SCALE} AS t_gamma
    FROM o ORDER BY event_type
    """,
    doc="Pastor-Stambaugh (2003) liquidity gamma per type: next-day "
    "move regressed on (move, signed volume), closed-form 2-regressor "
    "OLS + t(gamma) from centered cross-moments; gamma < 0 = "
    "volume-driven reversal (illiquidity); calendar-sized input",
)
def q_pastor_stambaugh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pastor_stambaugh(load(spark, sf_dir, "events"))
