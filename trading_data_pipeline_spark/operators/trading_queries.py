"""Trading/time-series analytics (round-5 batch 3).

The reference pipeline's domain is daily trading reports (SURVEY §2.c:
OHLC aggregation over an event stream). This module adds the three
time-series shapes a trading lake serves next, each as a pure DataFrame
plan with a DuckDB oracle:

- **max drawdown** per account: running-peak-minus-equity over the event
  stream — the canonical risk metric. DECIMAL-exact cumulative sums make
  the result order-free and bit-identical to the oracle; both windows and
  the final per-user aggregate share ONE hash exchange on ``user_id``.
- **intraday VWAP bars**: 15-minute OHLCV + volume-weighted average price
  per event type — the report1 daily-bar pipeline generalized to
  sub-day bars with a volume weight parsed from the JSON props column.
  One exchange on the (type, bar) grouping key.
- **MAD outliers**: robust per-group location/scale (median + median
  absolute deviation) and the 3σ-equivalent outlier count — the
  heavy-tail-safe twin of ``q_zscore_outliers``. Values are lifted to
  exact integer cents so both engines' median interpolation lands on
  exact binary fractions (same trick as ``q_median``'s integral input).

Determinism: every sum that crosses rows is DECIMAL (order-free); every
double expression has identical association on both engines; ratios are
quantized floor(x*s+0.5)/s via functions.quantize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import _BARS_SQL, _CENTS, cents, daily_bars, daily_ohlcv

BAR_SECONDS = 900  # 15-minute bars
MAD_K = 4.4478  # 3 * 1.4826 (normal-consistency factor)


def max_drawdown(events: DataFrame) -> DataFrame:
    """Per-user maximum drawdown of the cumulative ``value`` curve.

    Equity curve = running sum of ``value`` in (ts, event_id) order;
    drawdown at a row = running peak − equity. All accumulation happens
    in DECIMAL(18,2)/(38,2), so results are exact regardless of
    intra-partition order. Scale design: both running windows and the
    closing ``groupBy`` key the same ``user_id`` — one hash exchange
    total (asserted in tests/test_plans.py).
    """
    dec = F.col("value").cast("decimal(18,2)")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = events.select("user_id", "ts", "event_id", dec.alias("_v")).withColumn(
        "_equity", F.sum("_v").over(w)
    )
    peaked = curve.withColumn("_peak", F.max("_equity").over(w))
    return (
        peaked.groupBy("user_id")
        .agg(
            F.max(F.col("_peak") - F.col("_equity")).alias("_mdd"),
            F.count(F.lit(1)).alias("n_events"),
            F.max("_equity").cast("double").alias("peak_equity"),
        )
        .select(
            "user_id",
            F.col("_mdd").cast("double").alias("max_drawdown"),
            "peak_equity",
            "n_events",
        )
    )


@register(
    "q_max_drawdown",
    """
    WITH c AS (
      SELECT user_id, ts, event_id,
             sum(CAST(value AS DECIMAL(18,2))) OVER w AS equity
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ), p AS (
      SELECT user_id, equity,
             max(equity) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS peak
      FROM c
    )
    SELECT user_id,
           CAST(max(peak - equity) AS DOUBLE) AS max_drawdown,
           CAST(max(equity) AS DOUBLE)        AS peak_equity,
           count(*)                           AS n_events
    FROM p GROUP BY user_id
    """,
    doc="Per-user max drawdown of the cumulative value curve: two running "
    "windows (equity, peak) plus the closing aggregate all keyed on "
    "user_id — ONE exchange; DECIMAL-exact sums so the metric is "
    "bit-identical to the oracle",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return max_drawdown(load(spark, sf_dir, "events"))


def bar_prep(events: DataFrame) -> DataFrame:
    """Shared trade-row prep for the batch and streaming bar builders:
    keep only rows with a positive JSON trade size, carry the exact
    decimal notional."""
    qty = F.get_json_object("props", "$.k").cast("long")
    dec = F.col("value").cast("decimal(18,2)")
    return events.filter(qty > 0).select(
        "event_type",
        "ts",
        "event_id",
        "value",
        qty.alias("_qty"),
        (dec * qty).alias("_notional"),
    )


def bar_aggs() -> list:
    """The OHLCV+VWAP aggregate list, shared verbatim by the batch
    (epoch-bucket groupBy) and streaming (watermarked ``F.window``)
    forms — the unified-API guarantee for the bar pipeline."""
    tie = F.struct("ts", "event_id")
    return [
        F.min_by("value", tie).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", tie).alias("close"),
        F.sum("_qty").alias("volume"),
        F.count(F.lit(1)).alias("n_trades"),
        _q(F.sum("_notional").cast("double") / F.sum("_qty"), 10000).alias(
            "vwap"
        ),
    ]


def vwap_bars(events: DataFrame, bar_seconds: int = BAR_SECONDS) -> DataFrame:
    """15-minute OHLCV + VWAP bars per event type.

    ``props.$.k`` (JSON) supplies the trade size; notional accumulates as
    DECIMAL(18,2)×qty (exact), and the single closing double division is
    quantized. Open/close are ``min_by``/``max_by`` on the (ts, event_id)
    struct — deterministic because event_id is unique. One exchange on
    the (event_type, bar_start) grouping key; the bar id is epoch-bucket
    integer arithmetic, identical on both engines.
    """
    bar = (F.floor(F.unix_timestamp("ts") / bar_seconds) * bar_seconds).cast("long")
    return (
        bar_prep(events)
        .withColumn("bar_start", bar)
        .groupBy("event_type", "bar_start")
        .agg(*bar_aggs())
    )


@register(
    "q_vwap_bars",
    f"""
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / {BAR_SECONDS}) * {BAR_SECONDS} AS BIGINT)
               AS bar_start,
             ts, event_id, value,
             json_extract_string(props, '$.k')::BIGINT AS qty
      FROM events
      WHERE json_extract_string(props, '$.k')::BIGINT > 0
    ), w AS (
      SELECT *,
             first_value(value) OVER
               (PARTITION BY event_type, bar_start ORDER BY ts, event_id) AS o,
             last_value(value) OVER
               (PARTITION BY event_type, bar_start ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
      FROM e
    )
    SELECT event_type, bar_start,
           min(o)     AS open,
           max(value) AS high,
           min(value) AS low,
           min(c)     AS close,
           CAST(sum(qty) AS BIGINT) AS volume,
           count(*)   AS n_trades,
           floor(CAST(sum(CAST(value AS DECIMAL(18,2)) * qty) AS DOUBLE)
                 / sum(qty) * 10000 + 0.5) / 10000 AS vwap
    FROM w GROUP BY event_type, bar_start
    """,
    doc="Intraday 15-min OHLCV+VWAP bars per event type: report1's daily "
    "bars generalized to sub-day buckets with a JSON-parsed volume "
    "weight. DECIMAL-exact notional, one exchange on the grouping key",
)
def q_vwap_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vwap_bars(load(spark, sf_dir, "events"))


def mad_outliers(events: DataFrame) -> DataFrame:
    """Per-event-type robust stats: median, MAD, and the count of rows
    beyond ``MAD_K × MAD`` (≈3σ for normal data).

    ``value`` is lifted to exact integer cents (floor(v*100+0.5)) so the
    two median interpolations land on exact binary fractions (.0/.5 and
    .0/.25/.5/.75 of a cent) — the same integral-input trick q_median
    uses, making both engines bit-identical. Two aggregate passes over
    the same grouping key plus one broadcast-sized join back.
    """
    base = events.select("event_type", cents().alias("_c"))
    med = base.groupBy("event_type").agg(
        F.expr("median(_c)").alias("_med_c"), F.count(F.lit(1)).alias("n")
    )
    dev = base.join(F.broadcast(med), "event_type").select(
        "event_type",
        "n",
        "_med_c",
        F.abs(F.col("_c") - F.col("_med_c")).alias("_dev"),
    )
    mad = dev.groupBy("event_type").agg(F.expr("median(_dev)").alias("_mad_c"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n").alias("n"),
            F.min(F.col("_med_c") / 100.0).alias("med_value"),
            F.min(F.col("_mad_c") / 100.0).alias("mad_value"),
            F.sum(
                F.when(F.col("_dev") > MAD_K * F.col("_mad_c"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


@register(
    "q_mad_outliers",
    f"""
    WITH c AS (
      SELECT event_type,
             {_CENTS} AS cents
      FROM events
    ), m AS (
      SELECT event_type, median(cents) AS med_c, count(*) AS n
      FROM c GROUP BY event_type
    ), d AS (
      SELECT c.event_type, m.n, m.med_c,
             abs(c.cents - m.med_c) AS dev
      FROM c JOIN m USING (event_type)
    ), s AS (
      SELECT event_type, median(dev) AS mad_c
      FROM d GROUP BY event_type
    )
    SELECT d.event_type,
           min(d.n)                AS n,
           min(d.med_c / 100.0)    AS med_value,
           min(s.mad_c / 100.0)    AS mad_value,
           CAST(sum(CASE WHEN d.dev > {MAD_K} * s.mad_c THEN 1 ELSE 0 END)
                AS BIGINT)         AS n_outliers
    FROM d JOIN s USING (event_type)
    GROUP BY d.event_type
    """,
    doc="Robust per-type outlier stats: median + MAD on exact integer "
    "cents (both engines' interpolation is exact on integral input), "
    "outliers = |dev| > 3*1.4826*MAD. The heavy-tail-safe twin of "
    "q_zscore_outliers",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mad_outliers(load(spark, sf_dir, "events"))


# ---------------------------------------------------------- correlation matrix

def corr_matrix(events: DataFrame) -> DataFrame:
    """Pairwise Pearson correlation of the per-type DAILY value series —
    the cross-asset correlation matrix every trading desk derives from
    its flow data.

    Build the (day, type) aggregate once (DECIMAL-exact daily sums),
    self-join on the day for type pairs (a < b), and reduce each pair to
    its five moment sums — products and sums stay in DECIMAL, so the
    moments are exact and order-free; correlation is then a fixed
    association of correctly-rounded doubles, bit-identical to the
    oracle. Days where either series is missing drop out of that pair
    (pairwise-complete semantics). Shuffle footprint: one exchange for
    the daily aggregate (days × types rows — tiny), one for the pair
    moments; never touches the raw stream twice.
    """
    daily = events.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("s"))
    a = daily.select("day", F.col("event_type").alias("ta"), F.col("s").alias("x"))
    b = daily.select("day", F.col("event_type").alias("tb"), F.col("s").alias("y"))
    pairs = a.join(b, "day").filter(F.col("ta") < F.col("tb"))
    m = pairs.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "ta",
        "tb",
        "n",
        F.when(den > 0, _q(num / den, 1000000)).alias("corr"),
    )


@register(
    "q_corr_matrix",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             sum(CAST(value AS DECIMAL(18,2))) AS s
      FROM events GROUP BY 1, 2
    ), p AS (
      SELECT a.event_type AS ta, b.event_type AS tb, a.s AS x, b.s AS y
      FROM d a JOIN d b ON a.day = b.day AND a.event_type < b.event_type
    ), m AS (
      SELECT ta, tb, count(*) AS n,
             CAST(sum(x) AS DOUBLE)     AS sx,
             CAST(sum(y) AS DOUBLE)     AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM p GROUP BY ta, tb
    )
    SELECT ta, tb, n,
           CASE WHEN sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                          * (CAST(n AS DOUBLE) * syy - sy * sy)) > 0 THEN
             floor((CAST(n AS DOUBLE) * sxy - sx * sy)
                   / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                          * (CAST(n AS DOUBLE) * syy - sy * sy))
                   * 1000000 + 0.5) / 1000000
           END AS corr
    FROM m
    """,
    doc="Cross-type correlation matrix of daily value flows: "
    "decimal-exact moment sums over a tiny (day, type) aggregate, "
    "pairwise-complete days, constant-variance pairs yield NULL — "
    "two small exchanges, the raw stream is scanned once",
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corr_matrix(load(spark, sf_dir, "events"))


def market_beta(events: DataFrame) -> DataFrame:
    """Per-type beta against the whole-market daily series (sum over all
    types): slope = (nΣxy − ΣxΣy) / (nΣxx − (Σx)²) with x the market
    daily total and y the type's daily total.

    Same decimal-exact moment discipline as :func:`corr_matrix`; the
    market series is a tiny per-day aggregate joined back by day. A type
    absent on a day contributes y=0 (its flow that day WAS zero), so
    every pair uses the full day spine.
    """
    daily = events.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("y"))
    market = daily.groupBy("day").agg(F.sum("y").alias("x"))
    types = daily.select("event_type").distinct()
    spine = market.crossJoin(types)  # (days × types) — both sides tiny
    full = spine.join(daily, ["day", "event_type"], "left").select(
        "day",
        "event_type",
        "x",
        F.coalesce(F.col("y"), F.lit(0).cast("decimal(18,2)")).alias("y"),
    )
    m = full.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    n = F.col("n").cast("double")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    beta = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    return m.select(
        "event_type", "n", F.when(den > 0, _q(beta, 1000000)).alias("beta")
    )


@register(
    "q_market_beta",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             sum(CAST(value AS DECIMAL(18,2))) AS y
      FROM events GROUP BY 1, 2
    ), mkt AS (
      SELECT day, sum(y) AS x FROM d GROUP BY day
    ), spine AS (
      SELECT mkt.day, t.event_type, mkt.x
      FROM mkt CROSS JOIN (SELECT DISTINCT event_type FROM d) t
    ), f AS (
      SELECT s.day, s.event_type, s.x,
             coalesce(d.y, CAST(0 AS DECIMAL(18,2))) AS y
      FROM spine s LEFT JOIN d ON s.day = d.day AND s.event_type = d.event_type
    ), m AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(x) AS DOUBLE)     AS sx,
             CAST(sum(y) AS DOUBLE)     AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx
      FROM f GROUP BY event_type
    )
    SELECT event_type, n,
           CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN
             floor((CAST(n AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n AS DOUBLE) * sxx - sx * sx)
                   * 1000000 + 0.5) / 1000000
           END AS beta
    FROM m
    """,
    doc="Per-type beta vs the whole-market daily flow: decimal-exact "
    "regression moments over tiny day-level aggregates (absent days "
    "count as zero flow); the portfolio-risk companion to "
    "q_corr_matrix",
)
def q_market_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return market_beta(load(spark, sf_dir, "events"))


# --------------------------------------------- hypertable-style time rollup

def time_rollup(events: DataFrame) -> DataFrame:
    """Continuous-aggregate (hypertable-rollup) pattern: materialize the
    finest grain ONCE, derive every coarser grain from the finer
    aggregate, never from raw — sum-of-sums / min-of-mins / max-of-maxes
    re-aggregate losslessly, so the day grain costs a tiny second
    aggregation over |hours| rows instead of a second scan of 100 TB.

    Physically the hour-level exchange is shared: both output branches
    sit on the SAME (event_type, hour) shuffle, so the plan carries one
    fact scan + one fact-sized exchange and a ReusedExchange for the
    second branch (asserted in tests/test_plans.py).
    """
    hours = (
        events.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bucket")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sv"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    )
    days = (
        hours.groupBy(
            "event_type", F.date_trunc("day", "bucket").alias("bucket")
        ).agg(
            F.sum("n").alias("n"),
            F.sum("sv").alias("sv"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    out = lambda df, grain: df.select(  # noqa: E731 — tiny local projection
        F.lit(grain).alias("grain"),
        "event_type",
        "bucket",
        "n",
        _q(F.col("sv"), 100).alias("sum_value"),
        "mn",
        "mx",
    )
    return out(hours, "hour").unionAll(out(days, "day"))


@register(
    "q_time_rollup",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n, sum(value) AS sv,
             min(value) AS mn, max(value) AS mx
      FROM events GROUP BY 1, 2
    ), d AS (
      SELECT event_type, date_trunc('day', bucket) AS bucket,
             CAST(sum(n) AS BIGINT) AS n, sum(sv) AS sv,
             min(mn) AS mn, max(mx) AS mx
      FROM h GROUP BY 1, 2
    )
    SELECT 'hour' AS grain, event_type, bucket, n,
           floor(sv * 100 + 0.5) / 100 AS sum_value, mn, mx FROM h
    UNION ALL
    SELECT 'day' AS grain, event_type, bucket, n,
           floor(sv * 100 + 0.5) / 100 AS sum_value, mn, mx FROM d
    """,
    doc="Hypertable-style continuous aggregate: hour grain from raw, day "
    "grain re-aggregated FROM the hour grain (sum-of-sums/min-of-mins), "
    "both grains sharing ONE fact-sized exchange via ReusedExchange — "
    "the fact is scanned and shuffled once however many grains stack "
    "on top",
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return time_rollup(load(spark, sf_dir, "events"))


# ------------------------------------------ additive seasonal decomposition

DECOMP_MA = 7  # centered trend window (days) — must be odd


def seasonal_decompose(events: DataFrame) -> DataFrame:
    """Classical additive decomposition y = trend + seasonal + residual
    of the daily per-type value flow — STL's textbook ancestor: trend is
    a centered 7-day moving average, the weekly seasonal is the mean of
    the detrended series per weekday, the residual is what's left. The
    decomposition every forecasting/anomaly pass runs before modeling.

    Exactness discipline: the daily series is an integer cent SUM;
    detrended values stay integer by working in 1/(7·100) units
    (``det = 7·y − Σwindow``, never ``y − Σ/7``); the per-weekday
    seasonal keeps its integer numerator and count so EVERY emitted
    number is one double division of exact BIGINT operands quantized
    1e-4 — no float accumulation, no truncate-vs-floor integer-division
    trap on negative detrended values. Interior days only (full MA
    window), exactly as classical decomposition defines it.

    Plan: one (type, date) aggregate, one per-type ordered window (the
    series is |types|·|days| rows — tiny), one weekday aggregate joined
    back broadcast.
    """
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.to_date("ts").alias("d"),
        )
        .agg(
            F.sum(
                cents()
            ).alias("y")
        )
    )
    half = DECOMP_MA // 2
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-half, half)
    )
    ma = daily.select(
        "event_type",
        "d",
        "y",
        F.sum("y").over(w).alias("_wsum"),
        F.count(F.lit(1)).over(w).alias("_wn"),
    ).filter(F.col("_wn") == DECOMP_MA)
    det = ma.withColumn(
        "_det", F.lit(DECOMP_MA) * F.col("y") - F.col("_wsum")
    ).withColumn("wd", F.weekday("d"))
    seas = det.groupBy("event_type", "wd").agg(
        F.sum("_det").alias("_snum"), F.count(F.lit(1)).alias("_sn")
    )
    out = det.join(F.broadcast(seas), ["event_type", "wd"])
    c = F.lit(100.0)
    trend = F.col("_wsum") / F.lit(DECOMP_MA) / c
    seasonal = F.col("_snum") / (F.lit(DECOMP_MA) * F.col("_sn")) / c
    resid = (
        F.col("_det") / F.lit(DECOMP_MA)
        - F.col("_snum") / (F.lit(DECOMP_MA) * F.col("_sn"))
    ) / c
    return out.select(
        "event_type",
        "d",
        _q(F.col("y") / c, 100).alias("y"),
        _q(trend, 10000).alias("trend"),
        _q(seasonal, 10000).alias("seasonal"),
        _q(resid, 10000).alias("residual"),
    ).orderBy("event_type", "d")


@register(
    "q_seasonal_decompose",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum({_CENTS}) AS BIGINT)
               AS y
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), ma AS (
      SELECT event_type, d, y,
             CAST(sum(y) OVER w AS BIGINT) AS wsum,
             count(*) OVER w AS wn
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN {DECOMP_MA // 2} PRECEDING
                   AND {DECOMP_MA // 2} FOLLOWING)
    ), det AS (
      SELECT *, {DECOMP_MA} * y - wsum AS det,
             CAST(isodow(d) - 1 AS INT) AS wd
      FROM ma WHERE wn = {DECOMP_MA}
    ), seas AS (
      SELECT event_type, wd,
             CAST(sum(det) AS BIGINT) AS snum,
             CAST(count(*) AS BIGINT) AS sn
      FROM det GROUP BY 1, 2
    )
    SELECT det.event_type, det.d,
           floor(y / 100.0 * 100 + 0.5) / 100 AS y,
           floor(wsum * 1.0 / {DECOMP_MA} / 100.0 * 10000 + 0.5) / 10000
             AS trend,
           floor(snum * 1.0 / ({DECOMP_MA} * sn) / 100.0 * 10000 + 0.5)
             / 10000 AS seasonal,
           floor((det * 1.0 / {DECOMP_MA}
                  - snum * 1.0 / ({DECOMP_MA} * sn)) / 100.0
                 * 10000 + 0.5) / 10000 AS residual
    FROM det JOIN seas USING (event_type, wd)
    ORDER BY det.event_type, det.d
    """,
    doc="Classical additive seasonal decomposition of the daily per-type "
    "value flow: centered 7-day MA trend, per-weekday seasonal of the "
    "detrended series, residual — all from integer numerators in "
    "1/(7·100) units so every output is ONE double division of exact "
    "BIGINT operands (no float accumulation; sidesteps the "
    "truncate-vs-floor negative integer-division trap). Interior days "
    "only, the textbook definition",
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    return seasonal_decompose(load(spark, sf_dir, "events"))


# -------------------------------------------------------------------- TWAP

def twap(events: DataFrame) -> DataFrame:
    """Per-(type, day) time-weighted average price — VWAP's duration-
    weighted twin (the benchmark for execution quality when volume is
    unreliable or absent): each observation is weighted by how long it
    REMAINED the prevailing price, i.e. the µs gap to the next same-day
    event; the day's last observation carries no weight (its prevailing
    span is unknown at day close — the standard left-Riemann TWAP).

    Exactness: cents × µs products are exact BIGINTs (≤ ~6·10⁴ cents ×
    8.64·10¹⁰ µs ≈ 5·10¹⁵ per term, summed well under 2⁶³ at these
    densities — document the DECIMAL(38,0) lift for denser tapes), so
    TWAP is ONE double division of exact operands, quantized 1e-4.
    Plan: one (type, day)-partitioned lead window + one aggregate — the
    q_vwap_bars exchange shape.
    """
    from pyspark.sql import Window

    ev = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        "event_id",
        cents().alias("cents"),
    )
    w = Window.partitionBy("event_type", "d").orderBy("tus", "event_id")
    spans = ev.withColumn(
        "dt", F.lead("tus").over(w) - F.col("tus")
    ).filter(F.col("dt").isNotNull())
    return (
        spans.groupBy("event_type", "d")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("cents") * F.col("dt")).alias("_num"),
            F.sum("dt").alias("_den"),
        )
        .select(
            "event_type",
            "d",
            "n_spans",
            _q(F.col("_num") / F.col("_den") / 100.0, 10000).alias("twap"),
        )
    )


@register(
    "q_twap",
    f"""
    WITH ev AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             epoch_us(ts) AS tus, event_id,
             {_CENTS} AS cents
      FROM events WHERE value IS NOT NULL
    ), spans AS (
      SELECT event_type, d, cents,
             lead(tus) OVER (PARTITION BY event_type, d
                             ORDER BY tus, event_id) - tus AS dt
      FROM ev
    )
    SELECT event_type, d,
           CAST(count(*) AS BIGINT) AS n_spans,
           floor(CAST(sum(cents * dt) AS BIGINT) * 1.0
                 / CAST(sum(dt) AS BIGINT) / 100.0 * 10000 + 0.5) / 10000
             AS twap
    FROM spans WHERE dt IS NOT NULL
    GROUP BY event_type, d
    """,
    doc="Per-(type, day) time-weighted average price: each observation "
    "weighted by its prevailing µs span (gap to the next same-day "
    "event, left-Riemann; the day's last carries none) — the "
    "execution-quality benchmark when volume is unreliable. Exact "
    "BIGINT cent×µs sums, one double division, 1e-4 fixed; one "
    "(type, day) lead window + aggregate",
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return twap(load(spark, sf_dir, "events"))


# -------------------------------------------------------- volume profile

VP_BUCKET_C = 500  # price-bucket width in cents ($5)


def volume_profile(events: DataFrame, bucket_c: int = VP_BUCKET_C) -> DataFrame:
    """Volume-at-price profile (the market-profile histogram): per type,
    traded volume binned by price level, with each bucket's share of the
    type's total and the point-of-control flag (the price bucket with
    max volume — ties to the lower bucket). Exact integer bucketing and
    sums; the share is one division; POC via one rank over the bucket
    table (bounded by price range / bucket width)."""
    from pyspark.sql import Window

    qty = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(0)
    )
    base = events.select(
        "event_type",
        (F.floor(cents() / F.lit(float(bucket_c))) * bucket_c).cast("long").alias(
            "price_bucket_c"
        ),
        qty.alias("q"),
    )
    buckets = base.groupBy("event_type", "price_bucket_c").agg(
        F.count(F.lit(1)).alias("n_trades"), F.sum("q").alias("vol")
    )
    wt = Window.partitionBy("event_type")
    wr = Window.partitionBy("event_type").orderBy(
        F.desc("vol"), F.asc("price_bucket_c")
    )
    return (
        buckets.withColumn("_tot", F.sum("vol").over(wt))
        .withColumn("_r", F.row_number().over(wr))
        .select(
            "event_type",
            (F.col("price_bucket_c") / 100.0).alias("price_level"),
            "n_trades",
            "vol",
            _q(F.col("vol") / F.col("_tot"), 1_000_000).alias("vol_share"),
            (F.col("_r") == 1).cast("int").alias("is_poc"),
        )
    )


@register(
    "q_volume_profile",
    f"""
    WITH base AS (
      SELECT event_type,
             CAST(floor({_CENTS}
                        / {VP_BUCKET_C}.0) AS BIGINT) * {VP_BUCKET_C}
               AS price_bucket_c,
             coalesce(json_extract_string(props, '$.k')::BIGINT, 0) AS q
      FROM events
    ), buckets AS (
      SELECT event_type, price_bucket_c,
             CAST(count(*) AS BIGINT) AS n_trades,
             CAST(sum(q) AS BIGINT) AS vol
      FROM base GROUP BY event_type, price_bucket_c
    )
    SELECT event_type, price_bucket_c / 100.0 AS price_level,
           n_trades, vol,
           floor(vol * 1.0 / CAST(sum(vol) OVER (PARTITION BY event_type)
                                  AS BIGINT) * 1000000 + 0.5)
             / 1000000 AS vol_share,
           CAST(row_number() OVER (PARTITION BY event_type
                                   ORDER BY vol DESC, price_bucket_c) = 1
                AS INT) AS is_poc
    FROM buckets
    """,
    doc=f"Volume-at-price profile per type ({VP_BUCKET_C}-cent buckets): "
    "exact integer price bucketing and volume sums, one share division, "
    "point-of-control by one rank over the price-bounded bucket table — "
    "the market-profile histogram behind support/resistance reads",
)
def q_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return volume_profile(load(spark, sf_dir, "events"))


# ------------------------------------------------------- return split

def return_split(events: DataFrame) -> DataFrame:
    """Overnight/intraday return decomposition per type: the daily
    close-to-close move splits exactly into the OVERNIGHT leg (open −
    prev close — earned while you cannot trade) and the INTRADAY leg
    (close − open); the classic finding is that drift concentrates
    overnight while intraday mean-reverts. All legs are exact integer
    cents summed per type (the identity overnight + intraday =
    close-to-close is asserted in tests); means are one division each.
    """
    w = Window.partitionBy("event_type").orderBy("day")
    bars = (
        daily_ohlcv(events)
        .select("event_type", "day", "o_c", "c_c")
        .withColumn("prev_c", F.lag("c_c").over(w))
        .filter(F.col("prev_c").isNotNull())
    )
    on_c = F.col("o_c") - F.col("prev_c")
    in_c = F.col("c_c") - F.col("o_c")
    return bars.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(on_c).alias("overnight_cents"),
        F.sum(in_c).alias("intraday_cents"),
        _q(F.sum(on_c) / (F.count(F.lit(1)) * 100.0), 10000).alias(
            "mean_overnight"
        ),
        _q(F.sum(in_c) / (F.count(F.lit(1)) * 100.0), 10000).alias(
            "mean_intraday"
        ),
    )


@register(
    "q_return_split",
    f"""
    WITH {_BARS_SQL}, legs AS (
      SELECT event_type,
             o_c - lag(c_c) OVER pw AS onc,
             c_c - o_c AS inc_
      FROM bars
      WINDOW pw AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(onc) AS BIGINT) AS overnight_cents,
           CAST(sum(inc_) AS BIGINT) AS intraday_cents,
           floor(CAST(sum(onc) AS BIGINT) / (count(*) * 100.0)
                 * 10000 + 0.5) / 10000 AS mean_overnight,
           floor(CAST(sum(inc_) AS BIGINT) / (count(*) * 100.0)
                 * 10000 + 0.5) / 10000 AS mean_intraday
    FROM legs WHERE onc IS NOT NULL GROUP BY event_type
    """,
    doc="Overnight/intraday return decomposition per type: the daily "
    "close-to-close move split exactly into the untradeable overnight "
    "leg and the intraday leg (integer-cent identity, asserted in "
    "tests) — where the drift actually lives. One bar exchange, "
    "integer sums, one division per mean",
)
def q_return_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return return_split(load(spark, sf_dir, "events"))


# ------------------------------------------------ triple-barrier labels

TB_HORIZON = 5        # vertical barrier: trading days ahead
TB_PCT_NUM = 1        # horizontal barriers at ±(NUM/DEN) = ±2%
TB_PCT_DEN = 50


def triple_barrier(events: DataFrame, h: int = TB_HORIZON) -> DataFrame:
    """Triple-barrier labeling (López de Prado, "Advances in Financial
    Machine Learning" ch. 3, standard public formulation): each daily
    bar is an entry; the label is which barrier the close path touches
    FIRST within the next ``h`` bars — +1 profit-take at +2%, −1
    stop-loss at −2%, 0 the vertical (time) barrier. The supervised
    target generator for financial ML training sets.

    Exactness: barrier tests are pure integer cross-multiplications
    (up when 50·c_future ≥ 51·c_entry, down when 50·c_future ≤
    49·c_entry — no float percent arithmetic); first-touch is an
    integer min over horizon offsets; a future bar cannot hit both
    barriers, so the tie case does not exist.

    Scale: bars come from the one (type, day) rollup; the per-type
    row index runs over the calendar-bounded bar table; the horizon
    fan-out is an offset-exploded equi-join on (type, rn + off) — the
    q_markout shape, h× expansion of the BAR table, never a raw-event
    window or a range join. Entries whose remaining tape is shorter
    than ``h`` label against the bars that exist; the final bar per
    type (no future) is dropped.
    """
    bars = daily_bars(events).select("event_type", "day", "c_c")
    wt = Window.partitionBy("event_type").orderBy("day")
    b = bars.withColumn("rn", F.row_number().over(wt))
    entry = b.select(
        "event_type",
        "day",
        F.col("c_c").alias("ec"),
        "rn",
        F.explode(F.array(*[F.lit(i) for i in range(1, h + 1)])).alias(
            "off"
        ),
    ).withColumn("frn", F.col("rn") + F.col("off"))
    fut = b.select(
        "event_type", F.col("rn").alias("frn"), F.col("c_c").alias("fc")
    )
    num, hi, lo = TB_PCT_DEN, TB_PCT_DEN + TB_PCT_NUM, TB_PCT_DEN - TB_PCT_NUM
    dirn = (
        F.when(F.col("fc") * num >= F.col("ec") * hi, F.lit(1))
        .when(F.col("fc") * num <= F.col("ec") * lo, F.lit(-1))
        .otherwise(F.lit(0))
    )
    scored = entry.join(fut, ["event_type", "frn"]).select(
        "event_type", "day", "ec", "off", dirn.alias("dirn")
    )
    agg = scored.groupBy("event_type", "day", "ec").agg(
        F.min(F.when(F.col("dirn") == 1, F.col("off"))).alias("_up"),
        F.min(F.when(F.col("dirn") == -1, F.col("off"))).alias("_dn"),
        F.count(F.lit(1)).alias("n_future"),
    )
    label = (
        F.when(
            F.col("_up").isNotNull()
            & (F.col("_dn").isNull() | (F.col("_up") < F.col("_dn"))),
            F.lit(1),
        )
        .when(F.col("_dn").isNotNull(), F.lit(-1))
        .otherwise(F.lit(0))
    )
    return agg.select(
        "event_type",
        "day",
        (F.col("ec") / 100.0).alias("entry_close"),
        label.cast("int").alias("label"),
        F.when(label == 1, F.col("_up"))
        .when(label == -1, F.col("_dn"))
        .cast("int")
        .alias("bars_to_hit"),
        F.col("n_future").cast("int").alias("n_future"),
    )


@register(
    "q_triple_barrier",
    f"""
    WITH {_BARS_SQL}, b AS (
      SELECT *, row_number() OVER
               (PARTITION BY event_type ORDER BY day) AS rn
      FROM bars
    ), entry AS (
      SELECT event_type, day, c_c AS ec, rn, off, rn + off AS frn
      FROM b, unnest(generate_series(1, {TB_HORIZON})) AS t(off)
    ), scored AS (
      SELECT en.event_type, en.day, en.ec, en.off,
             CASE WHEN f.c_c * {TB_PCT_DEN} >= en.ec * {TB_PCT_DEN + TB_PCT_NUM}
                  THEN 1
                  WHEN f.c_c * {TB_PCT_DEN} <= en.ec * {TB_PCT_DEN - TB_PCT_NUM}
                  THEN -1 ELSE 0 END AS dirn
      FROM entry en JOIN b f
        ON f.event_type = en.event_type AND f.rn = en.frn
    ), agg AS (
      SELECT event_type, day, ec,
             min(CASE WHEN dirn = 1 THEN off END) AS up_off,
             min(CASE WHEN dirn = -1 THEN off END) AS dn_off,
             CAST(count(*) AS BIGINT) AS n_future
      FROM scored GROUP BY event_type, day, ec
    )
    SELECT event_type, day, ec / 100.0 AS entry_close,
           CAST(CASE WHEN up_off IS NOT NULL
                      AND (dn_off IS NULL OR up_off < dn_off) THEN 1
                WHEN dn_off IS NOT NULL THEN -1 ELSE 0 END AS INT)
             AS label,
           CAST(CASE WHEN up_off IS NOT NULL
                      AND (dn_off IS NULL OR up_off < dn_off) THEN up_off
                WHEN dn_off IS NOT NULL THEN dn_off END AS INT)
             AS bars_to_hit,
           CAST(n_future AS INT) AS n_future
    FROM agg
    """,
    doc=f"Triple-barrier labels per (type, day): first touch of "
    f"+{TB_PCT_NUM * 100 // TB_PCT_DEN}%/-{TB_PCT_NUM * 100 // TB_PCT_DEN}% "
    f"close barriers within {TB_HORIZON} bars, else the time barrier "
    "(label 0) — the standard supervised-target generator for "
    "financial ML. Integer cross-multiplied barrier tests, offset-"
    "exploded equi-join over the calendar-bounded bar table (the "
    "q_markout shape), no raw-event window",
)
def q_triple_barrier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triple_barrier(load(spark, sf_dir, "events"))


# -------------------------------------------- cross-sectional momentum

XSEC_R = 10  # trailing formation window (bars)


def xsec_momentum(events: DataFrame, r: int = XSEC_R) -> DataFrame:
    """Cross-sectional momentum ranks: each day, instruments (event
    types) are ranked by their trailing ``r``-bar cumulative close move
    — the formation step of a cross-sectional momentum portfolio
    (winners-minus-losers), and the panel feature a ranking model
    trains on. Trailing move is an exact BIGINT rolling sum of integer
    cent moves over the calendar-bounded bar table; the daily rank
    window holds |types| rows per day. Days without full formation
    history are dropped; ties rank by type name (deterministic)."""
    bars = daily_bars(events).filter(F.col("dc").isNotNull())
    wt = Window.partitionBy("event_type").orderBy("day")
    wr = wt.rowsBetween(-(r - 1), 0)
    formed = (
        bars.withColumn("mom_c", F.sum("dc").over(wr))
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") >= r)
    )
    wd = Window.partitionBy("day").orderBy(
        F.desc("mom_c"), F.asc("event_type")
    )
    return formed.select(
        "day",
        "event_type",
        (F.col("mom_c") / 100.0).alias("mom"),
        F.row_number().over(wd).cast("int").alias("rank"),
    )


@register(
    "q_xsec_momentum",
    f"""
    WITH {_BARS_SQL}, formed AS (
      SELECT event_type, day,
             CAST(sum(dc) OVER (tw ROWS BETWEEN {XSEC_R - 1} PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS mom_c,
             row_number() OVER tw AS rn
      FROM moves WHERE dc IS NOT NULL
      WINDOW tw AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT day, event_type, mom_c / 100.0 AS mom,
           CAST(row_number() OVER (PARTITION BY day
                ORDER BY mom_c DESC, event_type) AS INT) AS rank
    FROM formed WHERE rn >= {XSEC_R}
    """,
    doc=f"Cross-sectional momentum: daily instrument ranks by trailing "
    f"{XSEC_R}-bar cumulative close move — the winners-minus-losers "
    "formation step. BIGINT rolling sums over the calendar-bounded bar "
    "table; |types|-row daily rank windows; deterministic tie-break",
)
def q_xsec_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return xsec_momentum(load(spark, sf_dir, "events"))


# --------------------------------------------------- pairs-trading signal

PAIRS_A = "click"
PAIRS_B = "purchase"
PAIRS_Z = 10**6


def pairs_signal(
    events: DataFrame, type_a: str = PAIRS_A, type_b: str = PAIRS_B
) -> DataFrame:
    """Pairs-trading spread signal between two instruments' daily
    closes: full-sample OLS hedge ratio β (b on a), residual spread
    s_t = c_a − β·c_b, and the spread z-score whose ±2σ excursions are
    the classic stat-arb entry/exit signal.

    Exactness: β is ONE double division of exact BIGINT power sums
    (the q_kyle_lambda discipline); each day's spread is then FIXED to
    an integer (floor(s·100 + ½) — "spread milli-cents") before the
    cross-day mean/std power sums, so no float ever accumulates across
    rows; z is one final double chain, degenerate (constant-spread)
    series NULL. Everything after the (type, day) rollup is
    calendar-bounded."""
    bars = daily_bars(events).select("event_type", "day", "c_c")
    a = bars.filter(F.col("event_type") == type_a).select(
        "day", F.col("c_c").alias("ca")
    )
    b = bars.filter(F.col("event_type") == type_b).select(
        "day", F.col("c_c").alias("cb")
    )
    j = a.join(b, "day")
    ols = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cb").alias("sx"),
        F.sum("ca").alias("sy"),
        F.sum(F.col("cb") * F.col("ca")).alias("sxy"),
        F.sum(F.col("cb") * F.col("cb")).alias("sxx"),
    )
    beta = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    ).alias("beta")
    withb = j.crossJoin(F.broadcast(ols.select(beta)))
    spread_mc = F.floor(
        (F.col("ca") - F.col("beta") * F.col("cb")) * 100 + F.lit(0.5)
    ).cast("long")
    sp = withb.select("day", "ca", "cb", "beta", spread_mc.alias("smc"))
    mom = sp.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("smc").alias("s1"),
        F.sum(F.col("smc") * F.col("smc")).alias("s2"),
    )
    out = sp.crossJoin(F.broadcast(mom))
    varn = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "double"
    )
    # z = (x − mean)/sample_std reduces to (n·x − s1)/√(varn·n/(n−1))
    # with varn = n·s2 − s1² — exact integer operands, one sqrt
    z = F.when(
        varn > 0,
        (F.col("n") * F.col("smc") - F.col("s1")).cast("double")
        / F.sqrt(
            varn
            * F.col("n").cast("double")
            / (F.col("n") - 1).cast("double")
        ),
    )
    return out.select(
        "day",
        (F.col("ca") / 100.0).alias("close_a"),
        (F.col("cb") / 100.0).alias("close_b"),
        _q(F.col("beta"), PAIRS_Z).alias("beta"),
        (F.col("smc") / 10000.0).alias("spread"),
        _q(z, PAIRS_Z).alias("spread_z"),
    )


@register(
    "q_pairs_signal",
    f"""
    WITH {_BARS_SQL}, j AS (
      SELECT a.day, a.c_c AS ca, b.c_c AS cb
      FROM bars a JOIN bars b ON a.day = b.day
      WHERE a.event_type = '{PAIRS_A}' AND b.event_type = '{PAIRS_B}'
    ), ols AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cb) AS BIGINT) AS sx, CAST(sum(ca) AS BIGINT) AS sy,
             CAST(sum(cb * ca) AS BIGINT) AS sxy,
             CAST(sum(cb * cb) AS BIGINT) AS sxx
      FROM j
    ), sp AS (
      SELECT day, ca, cb,
             CAST(o.n * o.sxy - o.sx * o.sy AS DOUBLE)
               / CAST(o.n * o.sxx - o.sx * o.sx AS DOUBLE) AS beta,
             CAST(floor((ca - (CAST(o.n * o.sxy - o.sx * o.sy AS DOUBLE)
                   / CAST(o.n * o.sxx - o.sx * o.sx AS DOUBLE)) * cb)
                   * 100 + 0.5) AS BIGINT) AS smc
      FROM j, ols o
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(smc) AS BIGINT) AS s1,
             CAST(sum(smc * smc) AS BIGINT) AS s2
      FROM sp
    )
    SELECT day, ca / 100.0 AS close_a, cb / 100.0 AS close_b,
           floor(beta * {PAIRS_Z} + 0.5) / {PAIRS_Z} AS beta,
           smc / 10000.0 AS spread,
           CASE WHEN m.n * m.s2 - m.s1 * m.s1 > 0 THEN
             floor(CAST(m.n * smc - m.s1 AS DOUBLE)
                   / sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)
                          * CAST(m.n AS DOUBLE) / CAST(m.n - 1 AS DOUBLE))
                   * {PAIRS_Z} + 0.5) / {PAIRS_Z}
           END AS spread_z
    FROM sp, mom m
    """,
    doc=f"Pairs-trading signal ({PAIRS_A} vs {PAIRS_B}): OLS hedge "
    "ratio from BIGINT power sums (one division), per-day residual "
    "spread fixed to integer milli-cents BEFORE the cross-day moment "
    "sums (no float accumulation), spread z-score with one sqrt — the "
    "stat-arb entry/exit feed. Calendar-bounded after the bar rollup",
)
def q_pairs_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pairs_signal(load(spark, sf_dir, "events"))


# --------------------------------------------- implementation shortfall

SHORTFALL_SCALE = 100  # 0.01-bps fixed point


def exec_shortfall(events: DataFrame) -> DataFrame:
    """Per-(user, day) implementation shortfall: the volume-weighted
    average execution price versus the day's arrival price (the user's
    first print), in basis points — the execution-quality report card
    every desk produces per account per day (Perold's implementation-
    shortfall decomposition, paper-portfolio side omitted: no order
    intents in the tape).

    Exactness: arrival is min_by cents over (ts, event_id); the VWAP
    never materializes as a float — shortfall_bps =
    (Σc·q − arrival·Σq)·10⁴ / (arrival·Σq) is ONE division of exact
    BIGINTs, quantized to 0.01 bps. One (user, day) partial-agged
    exchange; zero-volume or zero-arrival days drop."""
    qty = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(0)
    )
    base = events.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        cents().alias("c"),
        qty.alias("q"),
    )
    agg = base.groupBy("user_id", "day").agg(
        F.min_by("c", F.struct("ts", "event_id")).alias("arrival_c"),
        F.sum(F.col("c") * F.col("q")).alias("cq"),
        F.sum("q").alias("vol"),
    ).filter((F.col("vol") > 0) & (F.col("arrival_c") > 0))
    num = (F.col("cq") - F.col("arrival_c") * F.col("vol")) * 10000
    den = F.col("arrival_c") * F.col("vol")
    return agg.select(
        "user_id",
        "day",
        (F.col("arrival_c") / 100.0).alias("arrival"),
        "vol",
        _q(num / den, SHORTFALL_SCALE).alias("shortfall_bps"),
    )


@register(
    "q_exec_shortfall",
    f"""
    WITH base AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
             {_CENTS} AS c,
             coalesce(json_extract_string(props, '$.k')::BIGINT, 0) AS q
      FROM events
    ), w AS (
      SELECT *,
             first_value(c) OVER
               (PARTITION BY user_id, day ORDER BY ts, event_id)
               AS arrival0
      FROM base
    ), agg AS (
      SELECT user_id, day,
             CAST(min(arrival0) AS BIGINT) AS arrival_c,
             CAST(sum(c * q) AS BIGINT) AS cq,
             CAST(sum(q) AS BIGINT) AS vol
      FROM w GROUP BY user_id, day
    )
    SELECT user_id, day, arrival_c / 100.0 AS arrival, vol,
           floor((cq - arrival_c * vol) * 10000.0 / (arrival_c * vol)
                 * {SHORTFALL_SCALE} + 0.5) / {SHORTFALL_SCALE}
             AS shortfall_bps
    FROM agg WHERE vol > 0 AND arrival_c > 0
    """,
    doc="Implementation shortfall per (user, day): VWAP vs the day's "
    "arrival print in bps — the per-account execution report card. "
    "The VWAP never materializes as a float: one BIGINT-rational "
    "division, quantized 0.01 bps; one (user, day) exchange",
)
def q_exec_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exec_shortfall(load(spark, sf_dir, "events"))
