"""Analytics round-6 batch 2: exact grouped mode, IQR outlier fences,
and largest inter-event gaps.

- **q_grouped_mode**: exact most-frequent value per group with a pinned
  (count DESC, value ASC) tie-break — the deterministic form of what
  ``mode()`` leaves engine-defined; two-level counting aggregates.
- **q_outlier_iqr**: Tukey fences per event type (Q1 − 1.5·IQR,
  Q3 + 1.5·IQR) over exact integer cents. Quartiles interpolate at
  .25/.5/.75 of integer inputs, so every boundary lands on an exact
  binary fraction — identical on both engines (the q_median trick
  extended to quartiles).
- **q_gap_top**: top-3 largest inter-event silences per user in integer
  epoch-microseconds — the session-threshold calibration input (what gap
  cutoff would merge/split sessions), rank-limit-pushdown window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import _CENTS, cents

IQR_K = 1.5
GAP_TOP_K = 3


def grouped_mode(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Exact per-group mode with deterministic (count DESC, value ASC)
    tie-break, plus the mode's share of group rows."""
    counts = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("_cnt"), F.asc(value_col)
    )
    totals = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    return (
        counts.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .join(totals, group_col)
        .select(
            group_col,
            F.col(value_col).alias("mode_value"),
            F.col("_cnt").alias("mode_count"),
            F.col("_n").alias("n_rows"),
            _q(F.col("_cnt") / F.col("_n"), 10000).alias("mode_share"),
        )
    )


@register(
    "q_grouped_mode",
    """
    WITH c AS (
      SELECT event_type, user_id, count(*) AS cnt
      FROM events GROUP BY event_type, user_id
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY cnt DESC, user_id) AS r
      FROM c
    ), t AS (
      SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    )
    SELECT r.event_type, r.user_id AS mode_value, r.cnt AS mode_count,
           t.n AS n_rows,
           floor(r.cnt * 1.0 / t.n * 10000 + 0.5) / 10000 AS mode_share
    FROM r JOIN t USING (event_type) WHERE r.r = 1
    """,
    doc="Exact grouped mode (most active user per event type) with a "
    "pinned (count DESC, value ASC) tie-break — deterministic where "
    "engine mode() is not — plus the mode's share. Two counting "
    "aggregates + one rank-limit window",
)
def q_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return grouped_mode(load(spark, sf_dir, "events"), "event_type", "user_id")


def outlier_iqr(events: DataFrame, k: float = IQR_K) -> DataFrame:
    """Tukey-fence outliers per event type on exact integer cents:
    quartiles of integers interpolate onto exact binary fractions, the
    fences are ±k·IQR around them, and the counts are integers."""
    vals = events.select("event_type", cents().alias("c"))
    qs = vals.groupBy("event_type").agg(
        F.percentile("c", F.lit(0.25)).alias("q1"),
        F.percentile("c", F.lit(0.75)).alias("q3"),
        F.count(F.lit(1)).alias("n"),
    )
    fenced = vals.join(qs, "event_type")
    lo = F.col("q1") - k * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + k * (F.col("q3") - F.col("q1"))
    return (
        fenced.groupBy("event_type")
        .agg(
            F.min("n").alias("n"),
            F.min(_q(F.col("q1") / 100.0, 10000)).alias("q1"),
            F.min(_q(F.col("q3") / 100.0, 10000)).alias("q3"),
            F.min(_q(lo / 100.0, 10000)).alias("fence_lo"),
            F.min(_q(hi / 100.0, 10000)).alias("fence_hi"),
            F.sum((F.col("c") < lo).cast("long")).alias("n_below"),
            F.sum((F.col("c") > hi).cast("long")).alias("n_above"),
        )
    )


@register(
    "q_outlier_iqr",
    f"""
    WITH v AS (
      SELECT event_type,
             {_CENTS} AS c
      FROM events
    ), q AS (
      SELECT event_type,
             quantile_cont(c, 0.25) AS q1,
             quantile_cont(c, 0.75) AS q3,
             count(*) AS n
      FROM v GROUP BY event_type
    )
    SELECT v.event_type,
           min(q.n) AS n,
           min(floor(q.q1 / 100.0 * 10000 + 0.5) / 10000) AS q1,
           min(floor(q.q3 / 100.0 * 10000 + 0.5) / 10000) AS q3,
           min(floor((q.q1 - {IQR_K} * (q.q3 - q.q1)) / 100.0 * 10000 + 0.5)
               / 10000) AS fence_lo,
           min(floor((q.q3 + {IQR_K} * (q.q3 - q.q1)) / 100.0 * 10000 + 0.5)
               / 10000) AS fence_hi,
           CAST(sum(CASE WHEN v.c < q.q1 - {IQR_K} * (q.q3 - q.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
           CAST(sum(CASE WHEN v.c > q.q3 + {IQR_K} * (q.q3 - q.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_above
    FROM v JOIN q USING (event_type)
    GROUP BY v.event_type
    """,
    doc="Tukey IQR outlier fences per event type on exact integer cents "
    "(quartile interpolation lands on exact binary fractions — the "
    "q_median integral-input trick extended to Q1/Q3): fences, and "
    "below/above counts — the robust complement to q_zscore_outliers' "
    "parametric screen and q_mad_outliers' median scale",
)
def q_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return outlier_iqr(load(spark, sf_dir, "events"))


def gap_top(events: DataFrame, k: int = GAP_TOP_K) -> DataFrame:
    """Top-k largest inter-event gaps per user (integer microseconds) —
    the calibration data for session gap thresholds."""
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id"))
    gaps = events.select(
        "user_id",
        "event_id",
        (ts_us - F.lag(ts_us).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    wr = Window.partitionBy("user_id").orderBy(
        F.desc("gap_us"), F.asc("event_id")
    )
    return (
        gaps.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= k)
        .select(
            "user_id",
            "rk",
            "event_id",
            (F.col("gap_us") / F.lit(1_000_000)).cast("long").alias("gap_s"),
        )
    )


@register(
    "q_gap_top",
    f"""
    WITH g AS (
      SELECT user_id, event_id,
             datediff('microsecond', lag(ts) OVER w, ts) AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), r AS (
      SELECT user_id, event_id, gap_us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY gap_us DESC, event_id) AS rk
      FROM g WHERE gap_us IS NOT NULL
    )
    SELECT user_id, rk, event_id,
           CAST(gap_us // 1000000 AS BIGINT) AS gap_s
    FROM r WHERE rk <= {GAP_TOP_K}
    """,
    doc=f"Top-{GAP_TOP_K} largest inter-event silences per user in exact "
    "integer microseconds (floored to seconds) — calibrates the session "
    "gap threshold (q_sessionize's 30-min rule). One user_id exchange "
    "shared by the lag and the rank-limit-pushdown window",
)
def q_gap_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gap_top(load(spark, sf_dir, "events"))


# ----------------------------------------------------- burstiness (Fano)

def burstiness(events: DataFrame, min_days: int = 2) -> DataFrame:
    """Per-user burstiness of daily activity: the Fano factor
    F = var(daily count)/mean(daily count) over the user's ACTIVE days —
    F ≈ 1 is Poisson-like organic traffic, F ≫ 1 is bursty (campaign/
    scraper/bot-shaped), F ≪ 1 is metronomic (scheduled automation).
    The dispersion screen run next to q_turnover_hhi in abuse audits.

    With n active days, S = Σc, Q = Σc² (all BIGINT), sample variance is
    (nQ − S²)/(n(n−1)) and F = (nQ − S²)/((n−1)·S) — one double division
    of exact integer operands, quantized 1e-4. Users under ``min_days``
    active days are excluded (F undefined). Two map-side-combined
    aggregates, both keyed on user_id — a single exchange chain.
    """
    daily = events.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("c")
    )
    per_user = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("_s"),
        F.sum(F.col("c") * F.col("c")).alias("_q2"),
        F.max("c").alias("max_day"),
    )
    fano = (
        F.col("n_days") * F.col("_q2") - F.col("_s") * F.col("_s")
    ) / ((F.col("n_days") - 1) * F.col("_s"))
    return (
        per_user.filter(F.col("n_days") >= min_days)
        .select(
            "user_id",
            "n_days",
            F.col("_s").alias("n_events"),
            "max_day",
            _q(fano, 10000).alias("fano"),
        )
    )


@register(
    "q_burstiness",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), per_user AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS q2,
             CAST(max(c) AS BIGINT) AS max_day
      FROM daily GROUP BY user_id
    )
    SELECT user_id, n_days, s AS n_events, max_day,
           floor((n_days * q2 - s * s) * 1.0 / ((n_days - 1) * s)
                 * 10000 + 0.5) / 10000 AS fano
    FROM per_user WHERE n_days >= 2
    """,
    doc="Per-user burstiness: Fano factor var/mean of daily event counts "
    "over active days (~1 Poisson-organic, >>1 bursty bot/campaign, "
    "<<1 metronomic automation). (nQ−S²)/((n−1)S) from exact BIGINT "
    "power sums — one double division, 1e-4 fixed; single user_id "
    "exchange chain",
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return burstiness(load(spark, sf_dir, "events"))


# ------------------------------------------------------- weekly churn flow

def churn_flow(events: DataFrame) -> DataFrame:
    """Week-over-week user flow: of the users active in week w, how many
    retained into w+1, how many churned, plus w+1's new users — the
    flow decomposition behind every retention dashboard (q_active_users
    counts stocks; this measures the flows between them).

    Per (user, week) distinct activity, then a self-join on week+1 —
    exact set arithmetic, integer counts, one user-week exchange and a
    tiny week-keyed join; rates are single divisions of exact BIGINTs.
    """
    uw = events.select(
        F.weekofyear("ts").alias("w"), "user_id"
    ).distinct()
    cur = uw.alias("cur")
    nxt = uw.select((F.col("w") - 1).alias("w"), "user_id").alias("nxt")
    flags = cur.join(
        nxt,
        (F.col("cur.w") == F.col("nxt.w"))
        & (F.col("cur.user_id") == F.col("nxt.user_id")),
        "full_outer",
    ).select(
        F.coalesce(F.col("cur.w"), F.col("nxt.w")).alias("w"),
        F.col("cur.user_id").isNotNull().alias("in_cur"),
        F.col("nxt.user_id").isNotNull().alias("in_nxt"),
    )
    weeks = uw.select("w").distinct()
    agg = flags.groupBy("w").agg(
        F.sum(F.col("in_cur").cast("long")).alias("active"),
        F.sum((F.col("in_cur") & F.col("in_nxt")).cast("long")).alias(
            "retained"
        ),
        F.sum((F.col("in_cur") & ~F.col("in_nxt")).cast("long")).alias(
            "churned"
        ),
        F.sum((~F.col("in_cur") & F.col("in_nxt")).cast("long")).alias(
            "new_next"
        ),
    )
    # only weeks that actually have a successor week produce a flow row
    has_next = weeks.select((F.col("w") - 1).alias("w")).distinct()
    return (
        agg.join(weeks, "w")
        .join(has_next, "w")
        .select(
            "w",
            "active",
            "retained",
            "churned",
            "new_next",
            _q(F.col("retained") / F.col("active"), 10000).alias(
                "retention_rate"
            ),
            _q(F.col("churned") / F.col("active"), 10000).alias(
                "churn_rate"
            ),
        )
        .orderBy("w")
    )


@register(
    "q_churn_flow",
    """
    WITH uw AS (
      SELECT DISTINCT CAST(weekofyear(ts) AS INT) AS w, user_id FROM events
    ), flags AS (
      SELECT coalesce(c.w, n.w) AS w,
             c.user_id IS NOT NULL AS in_cur,
             n.user_id IS NOT NULL AS in_nxt
      FROM uw c FULL OUTER JOIN
           (SELECT CAST(w - 1 AS INT) AS w, user_id FROM uw) n
        ON c.w = n.w AND c.user_id = n.user_id
    ), agg AS (
      SELECT w,
             CAST(sum(CASE WHEN in_cur THEN 1 ELSE 0 END) AS BIGINT)
               AS active,
             CAST(sum(CASE WHEN in_cur AND in_nxt THEN 1 ELSE 0 END)
                  AS BIGINT) AS retained,
             CAST(sum(CASE WHEN in_cur AND NOT in_nxt THEN 1 ELSE 0 END)
                  AS BIGINT) AS churned,
             CAST(sum(CASE WHEN NOT in_cur AND in_nxt THEN 1 ELSE 0 END)
                  AS BIGINT) AS new_next
      FROM flags GROUP BY w
    ), weeks AS (SELECT DISTINCT w FROM uw),
    has_next AS (SELECT DISTINCT CAST(w - 1 AS INT) AS w FROM uw)
    SELECT a.w, a.active, a.retained, a.churned, a.new_next,
           floor(a.retained * 1.0 / a.active * 10000 + 0.5) / 10000
             AS retention_rate,
           floor(a.churned * 1.0 / a.active * 10000 + 0.5) / 10000
             AS churn_rate
    FROM agg a JOIN weeks USING (w) JOIN has_next USING (w)
    ORDER BY a.w
    """,
    doc="Week-over-week churn flow: per week with a successor, the "
    "active/retained/churned counts and next week's new users, with "
    "exact-BIGINT retention and churn rates — the flow decomposition "
    "behind q_active_users' stock counts. Distinct user-weeks, one "
    "self-join on week+1",
)
def q_churn_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return churn_flow(load(spark, sf_dir, "events"))


# -------------------------------------------------- Theil–Sen robust trend

def theil_sen(events: DataFrame) -> DataFrame:
    """Per-type Theil–Sen trend: the MEDIAN of all pairwise slopes
    (Δvalue/Δday) of the daily cent-sum series — the robust regression
    line OLS users switch to when a handful of outlier days would drag
    the least-squares slope (breakdown point 29%, vs 0 for q_regr's
    OLS).

    The daily series is |types|·|days| rows, so the pairwise self-join
    is (days choose 2) per type — bounded by the CALENDAR, not the
    event count (≈435 pairs/type on a 30-day corpus at ANY data scale);
    the event-level work is one map-side-combined daily aggregate. Each
    slope is one double division of exact BIGINT operands (cent diff /
    day diff); the median of an even count averages two exact quotients
    — the same single-IEEE-op contract both engines share.
    """
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.sum(
                cents()
            ).alias("y")
        )
        .select(
            "event_type", F.datediff("d", F.lit("2024-01-01")).alias("x"), "y"
        )
    )
    a = daily.select("event_type", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select("event_type", F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "event_type",
            (
                (F.col("yb") - F.col("ya"))
                / (F.col("xb") - F.col("xa"))
                / F.lit(100.0)
            ).alias("slope"),
        )
    )
    return slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        _q(F.median("slope"), 10000).alias("theil_sen_slope"),
    )


@register(
    "q_theil_sen",
    f"""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             CAST(sum({_CENTS}) AS BIGINT)
               AS y
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE)
    ), slopes AS (
      SELECT a.event_type,
             (b.y - a.y) * 1.0 / (b.x - a.x) / 100.0 AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.x < b.x
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
           floor(median(slope) * 10000 + 0.5) / 10000 AS theil_sen_slope
    FROM slopes GROUP BY event_type
    """,
    doc="Theil–Sen robust trend per event_type: median of all pairwise "
    "daily slopes (29% breakdown vs OLS's 0) — each slope ONE double "
    "division of exact BIGINT cent/day diffs; the pairwise join is "
    "bounded by the CALENDAR (days², not events²), so the cost is "
    "constant in data volume at fixed history length",
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return theil_sen(load(spark, sf_dir, "events"))


# -------------------------------------------------- tier migration

TIER_MID = 3    # weekly events >= 3 -> mid
TIER_HIGH = 10  # weekly events >= 10 -> high


def tier_migration(events: DataFrame) -> DataFrame:
    """Engagement-tier migration matrix: bucket each user's WEEKLY event
    count into low/mid/high tiers, then count week-over-week transitions
    (including churn to 'gone' — present one week, absent the next) —
    the upgrade/downgrade flow report behind retention interventions,
    and the q_type_transitions idea lifted from events to USERS.

    Exact integer tiering and counting; one (user, week) exchange, a
    self-join on (user, week+7d) — co-keyed, at most one row per side —
    and a tiny matrix rollup. The last observed week has no successor
    frame and is excluded (its 'gone' verdict isn't knowable yet).
    """
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    per_uw = (
        events.select("user_id", wk.alias("week"))
        .groupBy("user_id", "week")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tier = (
        F.when(F.col("n") >= TIER_HIGH, "high")
        .when(F.col("n") >= TIER_MID, "mid")
        .otherwise("low")
    )
    tiers = per_uw.select("user_id", "week", tier.alias("tier"))
    last_week = tiers.agg(F.max("week").alias("mx"))
    cur = tiers.crossJoin(F.broadcast(last_week)).filter(
        F.col("week") < F.col("mx")
    )
    nxt = tiers.select(
        "user_id",
        F.date_sub(F.col("week"), 7).alias("week"),
        F.col("tier").alias("next_tier"),
    )
    return (
        cur.join(nxt, ["user_id", "week"], "left")
        .select(
            "tier",
            F.coalesce("next_tier", F.lit("gone")).alias("next_tier"),
        )
        .groupBy("tier", "next_tier")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "q_tier_migration",
    f"""
    WITH per_uw AS (
      SELECT user_id, date_trunc('week', ts) AS week,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, date_trunc('week', ts)
    ), tiers AS (
      SELECT user_id, week,
             CASE WHEN n >= {TIER_HIGH} THEN 'high'
                  WHEN n >= {TIER_MID} THEN 'mid'
                  ELSE 'low' END AS tier
      FROM per_uw
    ), mx AS (SELECT max(week) AS mx FROM tiers)
    SELECT c.tier, coalesce(n.tier, 'gone') AS next_tier,
           CAST(count(*) AS BIGINT) AS n_users
    FROM tiers c CROSS JOIN mx
    LEFT JOIN tiers n
      ON n.user_id = c.user_id AND n.week = c.week + INTERVAL 7 DAY
    WHERE c.week < mx.mx
    GROUP BY 1, 2
    """,
    doc=f"Engagement-tier migration matrix: weekly per-user event counts "
    f"tiered low/mid(≥{TIER_MID})/high(≥{TIER_HIGH}), week-over-week "
    "transition counts including churn to 'gone' (final week excluded — "
    "its verdict isn't knowable). One (user, week) exchange + a co-keyed "
    "self-join",
)
def q_tier_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tier_migration(load(spark, sf_dir, "events"))
