"""Risk measures + event study over daily P&L (round-6 batch 4).

The consumers of the reference's OHLC report (xetra_transformer.py:
126-208) feed it into risk: these are the standard tail/ratio measures,
each exact until one final IEEE step:

- **q_var_es**: historical 95% Value-at-Risk and Expected Shortfall per
  type over daily close moves (cents). VaR is the EXACT k-th smallest
  move with k = ⌈0.05·n⌉ — an order statistic via row_number, no
  interpolation ambiguity; ES is the integer mean of the k tail moves.
- **q_sharpe**: daily Sharpe ratio per type — mean/sd of daily cent
  moves with the sample (n−1) variance, every sum a BIGINT, the final
  ratio one deterministic float chain (identical formula both engines).
- **q_event_study**: average forward price move 1, 2, 3 events after a
  LARGE trade (props.$.k ≥ threshold) vs the unconditional baseline —
  does size move the price. Forward moves are integer cent leads;
  conditional and baseline means are integer sums divided once.

Scale: VaR/Sharpe run on the (type, day) bar table (one exchange, the
report1 shape). The event study's leads use the q_markout two-pass
global row index + horizon-exploded equi-join (round-8 rework) — no
per-type window ever sorts the raw stream in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import _BARS_SQL, _CENTS, cents, daily_bars, daily_ohlcv

VAR_PCT = 5  # tail percent — integer so k = ceil(pct·n/100) stays exact
SHARPE_SCALE = 10**8
HORIZONS = (1, 2, 3)
BIG_TRADE_K = 90


def var_es(events: DataFrame, pct: int = VAR_PCT) -> DataFrame:
    """Historical VaR/ES per type: k-th smallest daily move (k=⌈pct·n/100⌉)
    and the exact integer mean of the k-move tail."""
    moves = daily_bars(events).filter(F.col("dc").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("dc", "day")
    wn = Window.partitionBy("event_type")
    ranked = moves.select(
        "event_type",
        "dc",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    k = F.floor((F.lit(pct) * F.col("n") + 99) / F.lit(100.0)).cast("long")
    tail = ranked.filter(F.col("r") <= k)
    return tail.groupBy("event_type").agg(
        F.max("n").alias("n_days"),
        F.count(F.lit(1)).alias("k_tail"),
        (F.max("dc") / 100.0).alias("var_95"),
        (F.sum("dc") / (F.count(F.lit(1)) * F.lit(100.0))).alias("es_95"),
    )


@register(
    "q_var_es",
    f"""
    WITH {_BARS_SQL}, ranked AS (
      SELECT event_type, dc,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY dc, day) AS r,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM moves WHERE dc IS NOT NULL
    ), tail AS (
      SELECT * FROM ranked
      WHERE r <= CAST(floor(({VAR_PCT} * n + 99) / 100.0) AS BIGINT)
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_days,
           CAST(count(*) AS BIGINT) AS k_tail,
           max(dc) / 100.0 AS var_95,
           CAST(sum(dc) AS BIGINT) / (count(*) * 100.0) AS es_95
    FROM tail GROUP BY event_type
    """,
    doc="Historical 95% VaR (exact ⌈0.05·n⌉-th order statistic of daily "
    "close moves — no interpolation) and Expected Shortfall (integer "
    "tail mean) per type. One bar exchange + one per-type window",
)
def q_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    return var_es(load(spark, sf_dir, "events"))


def sharpe(events: DataFrame) -> DataFrame:
    """Daily Sharpe per type: mean/sd of daily cent moves (sample
    variance). Integer sums; the ratio is one fixed float chain."""
    moves = daily_bars(events).filter(F.col("dc").isNotNull())
    agg = moves.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dc").alias("sx"),
        F.sum(F.col("dc") * F.col("dc")).alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    var_num = (n * sxx - sx * sx).cast("double")
    sd = F.sqrt(var_num / (n * (n - 1)).cast("double"))
    ratio = F.when(
        (n > 1) & (var_num > 0), (sx / n.cast("double")) / sd
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        _q(ratio, SHARPE_SCALE).alias("sharpe"),
    )


@register(
    "q_sharpe",
    f"""
    WITH {_BARS_SQL}, agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dc) AS BIGINT) AS sx,
             CAST(sum(dc * dc) AS BIGINT) AS sxx
      FROM moves WHERE dc IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           floor(CASE WHEN n > 1 AND n * sxx - sx * sx > 0
                 THEN (sx / CAST(n AS DOUBLE))
                      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                             / CAST(n * (n - 1) AS DOUBLE))
                 END * {SHARPE_SCALE} + 0.5) / {SHARPE_SCALE} AS sharpe
    FROM agg
    """,
    doc="Daily Sharpe ratio per type (mean/sample-sd of daily close "
    "moves) — BIGINT power sums, one deterministic float chain, "
    "quantized 1e-8",
)
def q_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sharpe(load(spark, sf_dir, "events"))


def event_study(
    events: DataFrame,
    horizons: tuple[int, ...] = HORIZONS,
    big_k: int = BIG_TRADE_K,
) -> DataFrame:
    """Mean forward cent move h events after a big trade vs the
    unconditional baseline, per (type, horizon). All means are
    integer-sum / single-division.

    Scale: the per-type lead(h) window over raw events is replaced by
    the q_markout shape — a global row index (within-(type, day)
    row_number + calendar-sized per-day count offsets via
    ``_day_offset``) and one shuffle equi-join on (event_type, rn + h)
    with the horizon stack exploded on the probe side; rows past the
    stream end simply don't match (= the window's NULL leads). No task
    ever sorts a type's full stream.
    """
    from .microstructure_queries import _day_offset

    qty = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(0)
    )
    base = events.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        cents().alias("c"),
        (qty >= big_k).cast("int").alias("big"),
    )
    wday = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    indexed = _day_offset(
        base.withColumn("_rnd", F.row_number().over(wday)),
        "_rnd",
        "_rnoff",
        how="count",
    ).withColumn("rn", F.col("_rnoff") + F.col("_rnd"))
    target = indexed.select(
        "event_type", F.col("rn").alias("trn"), F.col("c").alias("ct")
    )
    probe = indexed.select(
        "event_type",
        "rn",
        "big",
        "c",
        F.explode(F.array(*[F.lit(int(h)) for h in horizons])).alias(
            "horizon"
        ),
    ).withColumn("trn", F.col("rn") + F.col("horizon"))
    melted = probe.join(target, ["event_type", "trn"]).select(
        "event_type", "horizon", "big", (F.col("ct") - F.col("c")).alias("mv")
    )
    return (
        melted.groupBy("event_type", "horizon")
        .agg(
            F.sum("big").alias("n_big"),
            F.sum(F.when(F.col("big") == 1, F.col("mv"))).alias("s_big"),
            F.count(F.lit(1)).alias("n_all"),
            F.sum("mv").alias("s_all"),
        )
        .select(
            "event_type",
            F.col("horizon").cast("int").alias("horizon"),
            "n_big",
            (F.col("s_big") / (F.col("n_big") * 100.0)).alias(
                "mean_move_big"
            ),
            (F.col("s_all") / (F.col("n_all") * 100.0)).alias(
                "mean_move_all"
            ),
        )
    )


@register(
    "q_event_study",
    f"""
    WITH base AS (
      SELECT event_type, ts, event_id, {_CENTS} AS c,
             CASE WHEN coalesce(
                    json_extract_string(props, '$.k')::BIGINT, 0)
                  >= {BIG_TRADE_K} THEN 1 ELSE 0 END AS big
      FROM events
    ), m AS (
      SELECT event_type, big,
             lead(c, 1) OVER pw - c AS m1,
             lead(c, 2) OVER pw - c AS m2,
             lead(c, 3) OVER pw - c AS m3
      FROM base
      WINDOW pw AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), stacked AS (
      SELECT event_type, 1 AS horizon, big, m1 AS mv FROM m
      UNION ALL
      SELECT event_type, 2, big, m2 FROM m
      UNION ALL
      SELECT event_type, 3, big, m3 FROM m
    )
    SELECT event_type, CAST(horizon AS INT) AS horizon,
           CAST(sum(big) AS BIGINT) AS n_big,
           CAST(sum(CASE WHEN big = 1 THEN mv END) AS BIGINT)
             / (sum(big) * 100.0) AS mean_move_big,
           CAST(sum(mv) AS BIGINT) / (count(*) * 100.0) AS mean_move_all
    FROM stacked WHERE mv IS NOT NULL
    GROUP BY event_type, horizon
    """,
    doc="Event study: mean forward move 1/2/3 events after a large "
    "trade (props.$.k ≥ 90) vs the unconditional baseline, per type — "
    "integer lead diffs, integer-sum means, horizons stacked over ONE "
    "per-type ordered exchange",
)
def q_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_study(load(spark, sf_dir, "events"))


# ------------------------------------------------------------- sortino

def sortino(events: DataFrame) -> DataFrame:
    """Sortino ratio per type: mean daily cent move over DOWNSIDE
    deviation sqrt(Σ min(dc,0)² / n) — the Sharpe variant that only
    penalizes losses, so an asymmetric (up-skewed) book isn't punished
    for its upside. BIGINT power sums over the bar table; undefined when
    no losing day exists (NULL, never an ANSI 0-division)."""
    moves = daily_bars(events).filter(F.col("dc").isNotNull())
    dn = F.when(F.col("dc") < 0, F.col("dc")).otherwise(F.lit(0))
    agg = moves.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dc").alias("sx"),
        F.sum(dn * dn).alias("sdd"),
        F.sum((F.col("dc") < 0).cast("long")).alias("n_down"),
    )
    n, sx, sdd = F.col("n"), F.col("sx"), F.col("sdd")
    dd = F.sqrt(sdd.cast("double") / n.cast("double"))
    ratio = F.when(sdd > 0, (sx / n.cast("double")) / dd)
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("n_down").alias("n_down_days"),
        _q(ratio, SHARPE_SCALE).alias("sortino"),
    )


@register(
    "q_sortino",
    f"""
    WITH {{bars}}, agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dc) AS BIGINT) AS sx,
             CAST(sum(CASE WHEN dc < 0 THEN dc * dc ELSE 0 END)
                  AS BIGINT) AS sdd,
             CAST(sum(CASE WHEN dc < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down
      FROM moves WHERE dc IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_days, n_down AS n_down_days,
           floor(CASE WHEN sdd > 0
                 THEN (sx / CAST(n AS DOUBLE))
                      / sqrt(CAST(sdd AS DOUBLE) / CAST(n AS DOUBLE))
                 END * {{scale}} + 0.5) / {{scale}} AS sortino
    FROM agg
    """.format(bars=_BARS_SQL, scale=SHARPE_SCALE),
    doc="Sortino ratio per type: mean daily move over downside "
    "deviation (losses only) — BIGINT power sums of clipped moves, one "
    "deterministic float chain, NULL when no losing day. Same bar "
    "exchange as q_sharpe",
)
def q_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sortino(load(spark, sf_dir, "events"))


# ------------------------------------------------------ higher moments

MOM_SCALE = 10**6


def moments(events: DataFrame) -> DataFrame:
    """Skewness and excess kurtosis of daily cent moves per type — the
    fat-tail screen next to q_sharpe/q_sortino (a near-zero-variance
    book can still carry crash risk in its third and fourth moments).

    Exactness: raw power sums Σdc..Σdc⁴ are BIGINT (daily moves are
    small integers); the central-moment NUMERATORS
    M2 = n·s2 − s1², M3 = n²·s3 − 3n·s1·s2 + 2s1³,
    M4 = n³·s4 − 4n²·s1·s3 + 6n·s1²·s2 − 3s1⁴
    are evaluated in DECIMAL(38,0) — exact integers (s1⁴ overflows
    int64 long before the data is large) — then ONE fixed double chain:
    g1 = M3/M2^1.5 and g2 = M4/M2² − 3 (with m_k = M_k/n^k for
    k-th-moment orders 2→n², 3→n³, 4→n⁴, the n-powers cancel exactly).
    Degenerate (zero-variance) series → NULL.
    """
    moves = daily_bars(events).filter(F.col("dc").isNotNull())
    d = F.col("dc")
    agg = moves.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).alias("s1"),
        F.sum(d * d).alias("s2"),
        F.sum(d * d * d).alias("s3"),
        F.sum(d * d * d * d).alias("s4"),
    )
    D = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    n, s1, s2, s3, s4 = D("n"), D("s1"), D("s2"), D("s3"), D("s4")
    m2 = (n * s2 - s1 * s1).cast("double")
    m3 = (n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1).cast("double")
    m4 = (
        n * n * n * s4
        - 4 * n * n * s1 * s3
        + 6 * n * s1 * s1 * s2
        - 3 * s1 * s1 * s1 * s1
    ).cast("double")
    g1 = m3 / F.sqrt(m2 * m2 * m2)
    g2 = m4 / (m2 * m2) - 3.0
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        _q(F.when(m2 > 0, g1), MOM_SCALE).alias("skewness"),
        _q(F.when(m2 > 0, g2), MOM_SCALE).alias("excess_kurtosis"),
    )


@register(
    "q_moments",
    f"""
    WITH {{bars}}, agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dc) AS BIGINT) AS s1,
             CAST(sum(dc * dc) AS BIGINT) AS s2,
             CAST(sum(dc * dc * dc) AS BIGINT) AS s3,
             CAST(sum(dc * dc * dc * dc) AS BIGINT) AS s4
      FROM moves WHERE dc IS NOT NULL GROUP BY event_type
    ), m AS (
      SELECT event_type, n,
        CAST(n::DECIMAL(38,0) * s2 - s1::DECIMAL(38,0) * s1 AS DOUBLE) AS m2,
        CAST(n::DECIMAL(38,0) * n * s3
             - 3 * n::DECIMAL(38,0) * s1 * s2
             + 2 * s1::DECIMAL(38,0) * s1 * s1 AS DOUBLE) AS m3,
        CAST(n::DECIMAL(38,0) * n * n * s4
             - 4 * n::DECIMAL(38,0) * n * s1 * s3
             + 6 * n::DECIMAL(38,0) * s1 * s1 * s2
             - 3 * s1::DECIMAL(38,0) * s1 * s1 * s1 AS DOUBLE) AS m4
      FROM agg
    )
    SELECT event_type, n AS n_days,
           floor(CASE WHEN m2 > 0
                 THEN m3 / sqrt(m2 * m2 * m2) END
                 * {{sc}} + 0.5) / {{sc}} AS skewness,
           floor(CASE WHEN m2 > 0
                 THEN m4 / (m2 * m2) - 3.0 END
                 * {{sc}} + 0.5) / {{sc}} AS excess_kurtosis
    FROM m
    """.format(bars=_BARS_SQL, sc=MOM_SCALE),
    doc="Skewness + excess kurtosis of daily moves per type (fat-tail "
    "screen): BIGINT raw power sums, DECIMAL(38,0)-exact central-moment "
    "numerators (s1^4 overflows int64), one fixed double chain, "
    "zero-variance series NULL. Same bar exchange as q_sharpe",
)
def q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return moments(load(spark, sf_dir, "events"))


# ---------------------------------------------------------- gap risk

GAP_BPS_FLAG = 100  # flag overnight gaps beyond 1% (100 bps)


def gap_risk(events: DataFrame) -> DataFrame:
    """Overnight gap-risk profile per type: today's OPEN versus
    yesterday's CLOSE — the move that stop-losses cannot protect
    against. Gap in exact basis points ((o−prev_c)·10⁴ / prev_c, one
    division per day), per-type rollup of frequency beyond
    ``GAP_BPS_FLAG``, mean |gap|, and the worst gap either way.
    """
    w = Window.partitionBy("event_type").orderBy("day")
    bars = (
        daily_ohlcv(events)
        .select("event_type", "day", "o_c", "c_c")
        .withColumn("prev_c", F.lag("c_c").over(w))
        .filter(F.col("prev_c").isNotNull())
    )
    gap = (F.col("o_c") - F.col("prev_c")) * 10000.0 / F.col("prev_c")
    g = bars.select(
        "event_type",
        gap.alias("gap_bps"),
        # per-day |gap| fixed to an integer (centibps) BEFORE the mean —
        # a float avg would accumulate order-dependently across rows
        F.floor(F.abs(gap) * 100 + F.lit(0.5)).cast("long").alias("qabs"),
    )
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(
            (F.abs(F.col("gap_bps")) > GAP_BPS_FLAG).cast("long")
        ).alias("n_large_gaps"),
        _q(
            F.sum("qabs") / F.count(F.lit(1)) / 100.0, 100
        ).alias("mean_abs_gap_bps"),
        _q(F.max("gap_bps"), 100).alias("max_gap_up_bps"),
        _q(F.min("gap_bps"), 100).alias("max_gap_down_bps"),
    )


@register(
    "q_gap_risk",
    f"""
    WITH {_BARS_SQL}, gaps AS (
      SELECT event_type,
             (o_c - lag(c_c) OVER pw) * 10000.0
               / lag(c_c) OVER pw AS gap_bps
      FROM bars
      WINDOW pw AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN abs(gap_bps) > {GAP_BPS_FLAG}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_large_gaps,
           floor(CAST(sum(CAST(floor(abs(gap_bps) * 100 + 0.5) AS BIGINT))
                      AS BIGINT) * 1.0 / count(*) / 100.0 * 100 + 0.5)
             / 100 AS mean_abs_gap_bps,
           floor(max(gap_bps) * 100 + 0.5) / 100 AS max_gap_up_bps,
           floor(min(gap_bps) * 100 + 0.5) / 100 AS max_gap_down_bps
    FROM gaps WHERE gap_bps IS NOT NULL GROUP BY event_type
    """,
    doc="Overnight gap-risk profile per type: open-vs-prev-close moves "
    "in exact basis points, frequency beyond 100 bps, integer-fixed "
    "mean |gap| (no float accumulation), worst gap either way — the "
    "move stop-losses cannot protect against. One bar exchange",
)
def q_gap_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gap_risk(load(spark, sf_dir, "events"))


# ------------------------------------------------------ tail dependence

TAIL_PCT = 5  # integer percent: extreme day = top-5% down-moves


def tail_dependence(events: DataFrame, pct: int = TAIL_PCT) -> DataFrame:
    """Tail co-extremes (contagion screen): for every type pair, how
    often their worst-``pct``% down days COINCIDE versus what
    independence predicts — diversification that exists in calm markets
    and evaporates in crashes shows up as lift ≫ 1 here while ordinary
    correlation stays modest.

    Extreme days are EXACT order statistics (rank ≤ ⌈pct·n/100⌉ by
    (dc, day) — no interpolation ambiguity); joint counts come from one
    day-keyed self-join of the extreme-day table (≈ pct% of the bar
    table — tiny); lift = n_joint·n_days / (k_a·k_b) is one exact
    integer ratio, with the day-count denominator taken over the pair's
    COMMON calendar (min of the two day counts, the conservative choice
    when listings differ).
    """
    moves = daily_bars(events).filter(F.col("dc").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("dc", "day")
    wn = Window.partitionBy("event_type")
    ranked = moves.select(
        "event_type",
        "day",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    k = F.floor((F.lit(pct) * F.col("n") + 99) / F.lit(100.0)).cast("long")
    ext = ranked.filter(F.col("r") <= k).select(
        "event_type", "day", F.col("n").alias("n_days")
    )
    sizes = ext.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"), F.max("n_days").alias("n_days")
    )
    a = ext.select(F.col("event_type").alias("type_a"), "day")
    b = ext.select(F.col("event_type").alias("type_b"), "day")
    joint = (
        a.join(b, "day")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_joint"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"),
        F.col("k").alias("k_a"),
        F.col("n_days").alias("na"),
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"),
        F.col("k").alias("k_b"),
        F.col("n_days").alias("nb"),
    )
    return (
        joint.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "k_a",
            "k_b",
            "n_joint",
            _q(
                F.col("n_joint")
                * F.least(F.col("na"), F.col("nb"))
                / (F.col("k_a") * F.col("k_b")),
                10000,
            ).alias("coextreme_lift"),
        )
    )


@register(
    "q_tail_dependence",
    f"""
    WITH {{bars}}, ranked AS (
      SELECT event_type, day,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY dc, day) AS r,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM moves WHERE dc IS NOT NULL
    ), ext AS (
      SELECT event_type, day, n AS n_days FROM ranked
      WHERE r <= CAST(floor(({TAIL_PCT} * n + 99) / 100.0) AS BIGINT)
    ), sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS k,
             CAST(max(n_days) AS BIGINT) AS n_days
      FROM ext GROUP BY event_type
    ), joint AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_joint
      FROM ext a JOIN ext b
        ON a.day = b.day AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT j.type_a, j.type_b, sa.k AS k_a, sb.k AS k_b, j.n_joint,
           floor(j.n_joint * least(sa.n_days, sb.n_days) * 1.0
                 / (sa.k * sb.k) * 10000 + 0.5) / 10000
             AS coextreme_lift
    FROM joint j
    JOIN sizes sa ON sa.event_type = j.type_a
    JOIN sizes sb ON sb.event_type = j.type_b
    """.format(bars=_BARS_SQL),
    doc=f"Tail co-extremes per type pair: coincidence of the worst "
    f"{TAIL_PCT}% down days vs the independence expectation (lift = "
    "n_joint·n/(k_a·k_b)) — the crash-contagion screen plain correlation "
    "misses. Exact order-statistic thresholds, day-keyed join of the "
    "pct%-sized extreme table, one division per pair",
)
def q_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tail_dependence(load(spark, sf_dir, "events"))


# ------------------------------------------------------- VaR backtest

VB_ALPHA_NUM, VB_ALPHA_DEN = 5, 100   # 95% VaR (exact rational 5/100)
VB_SCALE = 10**6


def var_backtest(events: DataFrame) -> DataFrame:
    """VaR breach backtest per type: the 95% historical VaR estimated
    on the FIRST two thirds of trading days is scored on the held-out
    last third — breach count vs the 5% expectation as a binomial
    z-score (the model-risk traffic light regulators run on desk VaR;
    |z| > 2 means the VaR model is mis-calibrated).

    Exactness: the train/test cut is an integer rank split over the
    calendar-bounded bar table; VaR is the EXACT ⌈α·n_train⌉-th
    smallest train move via a (type, move) value-histogram cumsum (the
    q_interarrival shape, never a per-type sort of raw data); breaches
    are integer comparisons (test move strictly below the VaR cut);
    z = (x − m·α)/√(m·α(1−α)) is one double chain on exact operands
    with the α literal identical in both plans. Types whose test leg
    is empty drop."""
    bars = daily_bars(events).filter(F.col("dc").isNotNull())
    wt = Window.partitionBy("event_type").orderBy("day")
    wn = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    b = bars.select("event_type", "day", "dc").withColumn(
        "rn", F.row_number().over(wt)
    ).withColumn("n", F.count(F.lit(1)).over(wn))
    ntrain = F.expr("CAST((2 * n) DIV 3 AS BIGINT)")
    b = b.withColumn("ntrain", ntrain).filter(F.col("ntrain") >= 1)
    train = b.filter(F.col("rn") <= F.col("ntrain"))
    test = b.filter(F.col("rn") > F.col("ntrain"))
    hist = train.groupBy("event_type", "dc").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wv = (
        Window.partitionBy("event_type")
        .orderBy("dc")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wh = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    k = F.floor(
        (F.lit(VB_ALPHA_NUM) * F.sum("cnt").over(wh)
         + (VB_ALPHA_DEN - 1)) / F.lit(float(VB_ALPHA_DEN))
    ).cast("long")
    ranked = hist.select(
        "event_type",
        "dc",
        F.sum("cnt").over(wv).alias("_cum"),
        k.alias("_k"),
        F.sum("cnt").over(wh).alias("n_train"),
    )
    var_cut = ranked.groupBy("event_type", "n_train").agg(
        F.min(F.when(F.col("_cum") >= F.col("_k"), F.col("dc"))).alias(
            "var_c"
        )
    )
    scored = test.join(var_cut, "event_type").groupBy(
        "event_type", "n_train", "var_c"
    ).agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(
            F.when(F.col("dc") < F.col("var_c"), 1).otherwise(0)
        ).alias("n_breach"),
    )
    alpha = VB_ALPHA_NUM / VB_ALPHA_DEN
    m = F.col("n_test").cast("double")
    z = (F.col("n_breach").cast("double") - m * F.lit(alpha)) / F.sqrt(
        m * F.lit(alpha * (1.0 - alpha))
    )
    return scored.select(
        "event_type",
        "n_train",
        "n_test",
        (F.col("var_c") / 100.0).alias("var_95"),
        "n_breach",
        _q(F.col("n_breach") / F.col("n_test"), VB_SCALE).alias(
            "breach_rate"
        ),
        _q(z, VB_SCALE).alias("z"),
    )


# Shared CTE chain through `scored` (train/test split, exact VaR order
# statistic, held-out breach counts) — reused by q_var_backtest here and
# q_kupiec_pof in risk2_queries.
_VB_SCORED_SQL = f"""{_BARS_SQL}, b AS (
      SELECT event_type, day, dc,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM moves WHERE dc IS NOT NULL
    ), split AS (
      SELECT *, CAST((2 * n) // 3 AS BIGINT) AS ntrain FROM b
      WHERE (2 * n) // 3 >= 1
    ), hist AS (
      SELECT event_type, dc, CAST(count(*) AS BIGINT) AS cnt
      FROM split WHERE rn <= ntrain GROUP BY event_type, dc
    ), ranked AS (
      SELECT event_type, dc,
             CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY dc
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS _cum,
             CAST(floor(({VB_ALPHA_NUM} * sum(cnt) OVER
                         (PARTITION BY event_type)
                         + {VB_ALPHA_DEN - 1}) / {VB_ALPHA_DEN}.0)
                  AS BIGINT) AS _k,
             CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_train
      FROM hist
    ), var_cut AS (
      SELECT event_type, n_train,
             CAST(min(CASE WHEN _cum >= _k THEN dc END) AS BIGINT)
               AS var_c
      FROM ranked GROUP BY event_type, n_train
    ), scored AS (
      SELECT s.event_type, v.n_train, v.var_c,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN s.dc < v.var_c THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_breach
      FROM split s JOIN var_cut v ON v.event_type = s.event_type
      WHERE s.rn > s.ntrain
      GROUP BY s.event_type, v.n_train, v.var_c
    )"""


@register(
    "q_var_backtest",
    f"""
    WITH {_VB_SCORED_SQL}
    SELECT event_type, n_train, n_test,
           var_c / 100.0 AS var_95, n_breach,
           floor(n_breach * 1.0 / n_test * {VB_SCALE} + 0.5) / {VB_SCALE}
             AS breach_rate,
           floor((n_breach - n_test * {VB_ALPHA_NUM / VB_ALPHA_DEN})
                 / sqrt(n_test * {VB_ALPHA_NUM / VB_ALPHA_DEN}
                        * {1.0 - VB_ALPHA_NUM / VB_ALPHA_DEN})
                 * {VB_SCALE} + 0.5) / {VB_SCALE} AS z
    FROM scored
    """,
    doc="VaR breach backtest per type: exact 95% historical VaR from "
    "the first 2/3 of days (value-histogram order statistic), breach "
    "count on the held-out third, binomial z vs the 5% expectation — "
    "the desk-VaR traffic light. Integer splits/comparisons, one "
    "double chain",
)
def q_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return var_backtest(load(spark, sf_dir, "events"))
