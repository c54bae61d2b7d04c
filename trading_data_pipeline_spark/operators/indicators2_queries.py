"""Technical-indicator operators, round-7 batch — the oscillator /
flow-indicator layer next to round 6's trend indicators
(``indicators_queries``), over the same daily bars the reference's
report1 produces (xetra_transformer.py:126-208):

- **q_stochastic**: %K/%D stochastic oscillator — today's close located
  inside the rolling 14-day high-low range (%K), smoothed over 3 days
  (%D). Range arithmetic is exact integer cents; each day's raw ratio
  is ONE double division, and %D sums three such ratios in frame order
  (identical sequence both engines). Flat 14-day range pins %K to 50.
- **q_mfi**: Money Flow Index — volume-weighted RSI over the typical
  price. Typical price stays the INTEGER h+l+c sum (MFI is
  scale-invariant, so the /3 is dropped rather than rounded); money
  flow tp·vol is a BIGINT product; positive/negative flows are exact
  integer frame sums; one final division, flat-flow window pinned 50.
- **q_dollar_bars**: event-driven bars that close every ``DB_THRESHOLD``
  cents of traded dollar value (López de Prado's dollar bars — the
  information-clock alternative to time bars). Bar assignment is an
  exact integer running dollar sum, OHLC per bar in cents.
- **q_sortino** (in this module for the shared bar chain): Sortino
  ratio per type — mean daily move over DOWNSIDE deviation, the
  Sharpe variant that doesn't punish upside. BIGINT power sums of
  min(dc, 0), one float chain, quantized.

Scale design: stochastic/MFI/sortino run per-type windows over the
(type, day) bar table (calendar-bounded rows per type; one exchange
carries the chain — the q_bollinger shape). Dollar bars avoid the
per-type SinglePartition scan over raw EVENTS with a two-pass cumsum:
within-day running sums use the (type, day) partition (day-bounded
state), and the cross-day offset joins in from a calendar-sized per-day
totals table — the same decomposition ``plans/global_rank`` uses,
keyed by trading day instead of quantile buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import _BARS_SQL, _CENTS, cents, daily_bars, daily_ohlcv, ohlc

STOCH_N = 14   # %K lookback (days)
STOCH_D = 3    # %D smoothing (days)
MFI_N = 14
DB_THRESHOLD = 10_000_000  # dollar-bar size: cents of traded value
SORTINO_SCALE = 10**8


# ------------------------------------------------- stochastic oscillator

def stochastic(
    events: DataFrame, n: int = STOCH_N, d: int = STOCH_D
) -> DataFrame:
    """%K = 100·(close − lowest low) / (highest high − lowest low) over
    the trailing ``n``-day frame (current day included); %D = ``d``-day
    SMA of the raw ratio. Integer numerator/denominator per day; a flat
    range (den = 0) pins the ratio to 1/2 on both engines. Rows without
    a full %D history (rn < n + d − 1) are dropped."""
    wf = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(n - 1), 0)
    )
    wr = Window.partitionBy("event_type").orderBy("day")
    wd = wr.rowsBetween(-(d - 1), 0)
    bars = (
        daily_ohlcv(events)
        .withColumn("ll", F.min("l_c").over(wf))
        .withColumn("hh", F.max("h_c").over(wf))
        .withColumn("rn", F.row_number().over(wr))
    )
    k_raw = F.when(
        F.col("hh") == F.col("ll"), F.lit(0.5)
    ).otherwise(
        (F.col("c_c") - F.col("ll")) / (F.col("hh") - F.col("ll"))
    )
    return (
        bars.withColumn("_k", k_raw)
        .withColumn("_dsum", F.sum("_k").over(wd))
        .filter(F.col("rn") >= n + d - 1)
        .select(
            "event_type",
            "day",
            (F.col("c_c") / 100.0).alias("close"),
            _q(F.col("_k") * 100, 10000).alias("pct_k"),
            _q(F.col("_dsum") * 100 / d, 10000).alias("pct_d"),
        )
    )


@register(
    "q_stochastic",
    f"""
    WITH {_BARS_SQL}, r AS (
      SELECT event_type, day, c_c,
             min(l_c) OVER f AS ll, max(h_c) OVER f AS hh,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM bars
      WINDOW f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {STOCH_N - 1} PRECEDING AND CURRENT ROW)
    ), k AS (
      SELECT event_type, day, c_c, rn,
             CASE WHEN hh = ll THEN 0.5
                  ELSE (c_c - ll) * 1.0 / (hh - ll) END AS k_raw
      FROM r
    )
    SELECT event_type, day, c_c / 100.0 AS close,
           floor(k_raw * 100 * 10000 + 0.5) / 10000 AS pct_k,
           floor(sum(k_raw) OVER df * 100 / {STOCH_D} * 10000 + 0.5)
             / 10000 AS pct_d
    FROM k
    WINDOW df AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN {STOCH_D - 1} PRECEDING AND CURRENT ROW)
    QUALIFY rn >= {STOCH_N + STOCH_D - 1}
    """,
    doc=f"Stochastic oscillator (%K-{STOCH_N} / %D-{STOCH_D}): close "
    "position inside the rolling high-low range from exact integer-cent "
    "extremes, one double division per day, %D summing the three raw "
    "ratios in identical frame order on both engines. One bar exchange "
    "carries the whole chain",
)
def q_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stochastic(load(spark, sf_dir, "events"))


# ---------------------------------------------------- money flow index

def mfi(events: DataFrame, n: int = MFI_N) -> DataFrame:
    """Money Flow Index: RSI over tp·vol money flow where tp is the
    INTEGER h+l+c sum (the /3 cancels in the ratio). Flow is positive
    on tp up-days, negative on down-days, excluded on flat days; a
    window with zero total flow pins to 50. Drops rows until the
    ``n``-day flow frame is full (first move is at rn = 2)."""
    wr = Window.partitionBy("event_type").orderBy("day")
    wf = wr.rowsBetween(-(n - 1), 0)
    bars = (
        daily_ohlcv(events)
        .withColumn("tp", F.col("h_c") + F.col("l_c") + F.col("c_c"))
        .withColumn("flow", F.col("tp") * F.col("vol"))
        .withColumn("dtp", F.col("tp") - F.lag("tp").over(wr))
        .filter(F.col("dtp").isNotNull())
        .withColumn(
            "pos", F.when(F.col("dtp") > 0, F.col("flow")).otherwise(F.lit(0))
        )
        .withColumn(
            "neg", F.when(F.col("dtp") < 0, F.col("flow")).otherwise(F.lit(0))
        )
        .withColumn("ps", F.sum("pos").over(wf))
        .withColumn("ns", F.sum("neg").over(wf))
        .withColumn("k", F.count(F.lit(1)).over(wf))
        .filter(F.col("k") == n)
    )
    ratio = F.when(
        F.col("ps") + F.col("ns") == 0, F.lit(50.0)
    ).otherwise(F.col("ps") * 100.0 / (F.col("ps") + F.col("ns")))
    return bars.select(
        "event_type",
        "day",
        F.col("ps").alias("pos_flow"),
        F.col("ns").alias("neg_flow"),
        _q(ratio, 10000).alias("mfi"),
    )


@register(
    "q_mfi",
    f"""
    WITH {_BARS_SQL}, tp AS (
      SELECT event_type, day, h_c + l_c + c_c AS tp,
             (h_c + l_c + c_c) * vol AS flow
      FROM bars
    ), d AS (
      SELECT event_type, day, flow,
             tp - lag(tp) OVER (PARTITION BY event_type ORDER BY day)
               AS dtp
      FROM tp
    ), s AS (
      SELECT event_type, day,
             CAST(sum(CASE WHEN dtp > 0 THEN flow ELSE 0 END) OVER f
                  AS BIGINT) AS ps,
             CAST(sum(CASE WHEN dtp < 0 THEN flow ELSE 0 END) OVER f
                  AS BIGINT) AS ns,
             count(*) OVER f AS k
      FROM d WHERE dtp IS NOT NULL
      WINDOW f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {MFI_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, ps AS pos_flow, ns AS neg_flow,
           floor(CASE WHEN ps + ns = 0 THEN 50.0
                      ELSE ps * 100.0 / (ps + ns) END * 10000 + 0.5)
             / 10000 AS mfi
    FROM s WHERE k = {MFI_N}
    """,
    doc=f"Money Flow Index (MFI-{MFI_N}): volume-weighted RSI over the "
    "integer typical-price·volume flow — BIGINT frame sums of signed "
    "flows, one final division, zero-flow window pinned to 50. Same "
    "one-exchange bar chain as q_stochastic",
)
def q_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mfi(load(spark, sf_dir, "events"))


# -------------------------------------------------------- dollar bars

def dollar_bars(
    events: DataFrame, threshold: int = DB_THRESHOLD
) -> DataFrame:
    """Dollar bars: per type, a bar closes every ``threshold`` cents of
    cumulative traded value (price·size), so bar arrival follows the
    information clock — volatile high-volume periods produce MORE bars
    — instead of the wall clock (López de Prado, "Advances in Financial
    Machine Learning" ch. 2, standard public formulation).

    Two-pass running sum, never a per-type SinglePartition window over
    raw events: (1) within-day cumulative dollars under the
    (event_type, day) partition — state bounded by one day's events;
    (2) per-(type, day) totals (calendar-sized) get a per-type running
    offset and join back, making the running sum global. bar_id =
    floor((offset + within-day cum − this trade) / threshold): a bar
    is identified by the dollars accumulated BEFORE the trade, so the
    trade that crosses the threshold still belongs to the bar it
    closes. OHLC per bar in exact integer cents. A NULL-priced trade
    has no dollars and so belongs to no bar (the stream leaves it out
    the same way); dropping it moves no other trade's running sum."""
    qty = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(0)
    )
    base = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        cents().alias("cents"),
        (cents() * qty).alias("dollars"),
    )
    wday = (
        Window.partitionBy("event_type", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = base.withColumn("dcum", F.sum("dollars").over(wday))
    day_tot = base.groupBy("event_type", "day").agg(
        F.sum("dollars").alias("dtot")
    )
    woff = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = day_tot.select(
        "event_type",
        "day",
        F.coalesce(F.sum("dtot").over(woff), F.lit(0)).alias("off"),
    )
    cum = within.join(offsets, ["event_type", "day"]).withColumn(
        "gcum", F.col("off") + F.col("dcum")
    )
    # Integer floor-division: exact at any cumulative magnitude (the
    # double path can misplace boundary trades past 2^53 cents), and
    # bit-identical to the streaming job's ``gcum // threshold``.
    bar = F.expr(f"CAST((gcum - dollars) DIV {int(threshold)} AS BIGINT)")
    bars = ohlc(
        cum.withColumn("bar_id", bar),
        ["event_type", "bar_id"],
        ["ts", "event_id"],
        "cents",
        F.count(F.lit(1)).alias("n_trades"),
        F.sum("dollars").alias("bar_dollars"),
    )
    return bars.select(
        "event_type",
        "bar_id",
        "n_trades",
        *(
            (F.col(c) / 100.0).alias(c)
            for c in ("open", "high", "low", "close")
        ),
        "bar_dollars",
    )


@register(
    "q_dollar_bars",
    f"""
    WITH e AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
             {_CENTS} AS cents,
             {_CENTS} * coalesce(json_extract_string(props, '$.k')::BIGINT, 0)
               AS dollars
      FROM events WHERE value IS NOT NULL
    ), g AS (
      SELECT event_type, ts, event_id, cents, dollars,
             CAST(sum(dollars) OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS gcum
      FROM e
    ), b AS (
      SELECT *,
             CAST((gcum - dollars) // {DB_THRESHOLD} AS BIGINT)
               AS bar_id,
             first_value(cents) OVER wb AS o,
             last_value(cents) OVER
               (PARTITION BY event_type,
                  CAST((gcum - dollars) // {DB_THRESHOLD} AS BIGINT)
                ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS c
      FROM g
      WINDOW wb AS (PARTITION BY event_type,
                      CAST((gcum - dollars) // {DB_THRESHOLD}
                           AS BIGINT)
                    ORDER BY ts, event_id)
    )
    SELECT event_type, bar_id,
           CAST(count(*) AS BIGINT) AS n_trades,
           min(o) / 100.0 AS open, max(cents) / 100.0 AS high,
           min(cents) / 100.0 AS low, min(c) / 100.0 AS close,
           CAST(sum(dollars) AS BIGINT) AS bar_dollars
    FROM b GROUP BY event_type, bar_id
    """,
    doc=f"Dollar bars: per type a bar closes every {DB_THRESHOLD} cents "
    "of cumulative traded value — the information-clock bar that "
    "samples volatile periods more densely than time bars. Exact "
    "integer running dollars via a two-pass (within-day + calendar-"
    "offset) cumsum — no per-type single-partition scan of raw events",
)
def q_dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dollar_bars(load(spark, sf_dir, "events"))


# -------------------------------------------------------- rolling beta

BETA_N = 10  # rolling regression window (days)
BETA_SCALE = 10**6

def rolling_beta(events: DataFrame, n: int = BETA_N) -> DataFrame:
    """Rolling ``n``-day OLS beta of each type's daily cent move against
    the EQUAL-WEIGHT market index (the SUM of all types' same-day moves
    — beta against the sum equals beta against the mean times the
    constant type count, and the sum keeps every rolling statistic a
    BIGINT). The hedge-ratio feed of a pairs/market-neutral book.

    beta = (k·Σxy − Σx·Σy) / (k·Σy² − (Σy)²) over the trailing frame —
    all five rolling sums are exact integers; one final division,
    degenerate (flat-index) windows NULL. The per-day index is a
    calendar-sized aggregate broadcast back onto the bar table; the
    rolling frame runs under the per-type exchange. The index INCLUDES
    the type itself (document, don't subtract: self-exclusion just
    rescales covariance on a k-asset index and keeps sums integral
    either way; the inclusive form is the published equal-weight
    convention).
    """
    bars = daily_bars(events).filter(F.col("dc").isNotNull())
    idx = bars.groupBy("day").agg(F.sum("dc").alias("m"))
    joined = bars.join(F.broadcast(idx), "day").select(
        "event_type", "day", "dc", "m"
    )
    wr = Window.partitionBy("event_type").orderBy("day")
    wf = wr.rowsBetween(-(n - 1), 0)
    s = (
        joined.withColumn("k", F.count(F.lit(1)).over(wf))
        .withColumn("sx", F.sum("dc").over(wf))
        .withColumn("sy", F.sum("m").over(wf))
        .withColumn("sxy", F.sum(F.col("dc") * F.col("m")).over(wf))
        .withColumn("syy", F.sum(F.col("m") * F.col("m")).over(wf))
        .filter(F.col("k") == n)
    )
    den = F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "event_type",
        "day",
        _q(
            F.when(den > 0, num.cast("double") / den.cast("double")),
            BETA_SCALE,
        ).alias("beta"),
    )


@register(
    "q_rolling_beta",
    f"""
    WITH {_BARS_SQL}, mv AS (
      SELECT event_type, day, dc FROM moves WHERE dc IS NOT NULL
    ), idx AS (
      SELECT day, CAST(sum(dc) AS BIGINT) AS m FROM mv GROUP BY day
    ), j AS (
      SELECT mv.event_type, mv.day, mv.dc, idx.m
      FROM mv JOIN idx USING (day)
    ), s AS (
      SELECT event_type, day,
             count(*) OVER f AS k,
             CAST(sum(dc) OVER f AS BIGINT) AS sx,
             CAST(sum(m) OVER f AS BIGINT) AS sy,
             CAST(sum(dc * m) OVER f AS BIGINT) AS sxy,
             CAST(sum(m * m) OVER f AS BIGINT) AS syy
      FROM j
      WINDOW f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {BETA_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           floor(CASE WHEN k * syy - sy * sy > 0
                 THEN CAST(k * sxy - sx * sy AS DOUBLE)
                      / CAST(k * syy - sy * sy AS DOUBLE) END
                 * {BETA_SCALE} + 0.5) / {BETA_SCALE} AS beta
    FROM s WHERE k = {BETA_N}
    """,
    doc=f"Rolling {BETA_N}-day beta of each type's daily move vs the "
    "equal-weight (sum) market index — five exact BIGINT rolling sums, "
    "one final division, flat-index windows NULL. Calendar-sized index "
    "broadcast + per-type frame under one bar exchange",
)
def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rolling_beta(load(spark, sf_dir, "events"))


# ------------------------------------------- truncated EMA (MACD, EWMA)

MACD_FAST = 6    # spans adapted to the 30-day test calendar (classic
MACD_SLOW = 13   # 12/26/9 needs a 34-day history; the ratios are kept)
MACD_SIG = 5
EWMA_LAM = 0.94  # RiskMetrics decay for the volatility variant
EWMA_L = 20
IND_SCALE = 10**6


def _ema_weights(span: int) -> list[float]:
    """Truncated-EMA weights (1−α)^i, α = 2/(span+1), for i = 0..span−1,
    computed ONCE in Python and injected as identical double literals
    into BOTH plans — no pow() inside either engine (libm pow is not
    correctly rounded and may differ across runtimes; a Python-computed
    literal round-trips exactly through Spark lit() and SQL parsing)."""
    a = 2.0 / (span + 1)
    out, w = [], 1.0
    for _ in range(span):
        out.append(w)
        w *= 1.0 - a
    return out


def _ema_col(col: str, w: Window, weights: list[float]):
    """Literal-weight dot product over the trailing lags, left-to-right
    (both engines parse a+b+c left-associative, so the fold order is
    identical). Caller must restrict to rows with a full history."""
    num = F.lag(col, 0).over(w) * F.lit(weights[0])
    for i, wi in enumerate(weights[1:], 1):
        num = num + F.lag(col, i).over(w) * F.lit(wi)
    return num / F.lit(sum_left(weights))


def sum_left(xs: list[float]) -> float:
    """Left-to-right Python fold — matches the SQL literal sum below."""
    acc = 0.0
    for x in xs:
        acc += x
    return acc


def _ema_sql(col: str, weights: list[float]) -> str:
    terms = " + ".join(
        f"lag({col}, {i}) OVER w * {wi!r}" for i, wi in enumerate(weights)
    )
    return f"({terms}) / {sum_left(weights)!r}"


def macd(
    events: DataFrame,
    fast: int = MACD_FAST,
    slow: int = MACD_SLOW,
    sig: int = MACD_SIG,
) -> DataFrame:
    """MACD on daily closes with TRUNCATED exponential moving averages:
    each EMA is the weighted mean of the trailing ``span`` closes under
    weights (1−α)^i — the infinite tail is cut at the span (≤ 13% of
    total weight for the classic α), which keeps every value an exact
    finite dot product instead of a recursive state no SQL window can
    express. macd = ema_fast − ema_slow; signal = truncated EMA of the
    macd line; hist = macd − signal. All weights are Python-computed
    double literals shared by both engines (no pow in either plan);
    rows without a full slow+signal history are dropped.
    """
    bars = daily_bars(events).select(
        "event_type", "day", (F.col("c_c") / 100.0).alias("close")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    wf, ws, wg = _ema_weights(fast), _ema_weights(slow), _ema_weights(sig)
    line = (
        bars.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "macd", _ema_col("close", w, wf) - _ema_col("close", w, ws)
        )
        .filter(F.col("rn") >= slow)
    )
    w2 = Window.partitionBy("event_type").orderBy("day")
    out = (
        line.withColumn("rn2", F.row_number().over(w2))
        .withColumn("signal", _ema_col("macd", w2, wg))
        .filter(F.col("rn2") >= sig)
    )
    return out.select(
        "event_type",
        "day",
        "close",
        _q(F.col("macd"), IND_SCALE).alias("macd"),
        _q(F.col("signal"), IND_SCALE).alias("signal"),
        _q(F.col("macd") - F.col("signal"), IND_SCALE).alias("hist"),
    )


def _macd_oracle() -> str:
    wf, ws, wg = (
        _ema_weights(MACD_FAST),
        _ema_weights(MACD_SLOW),
        _ema_weights(MACD_SIG),
    )
    return f"""
    WITH {_BARS_SQL}, c AS (
      SELECT event_type, day, c_c / 100.0 AS close FROM bars
    ), l AS (
      SELECT event_type, day, close,
             {_ema_sql('close', wf)} - {_ema_sql('close', ws)} AS macd,
             row_number() OVER w AS rn
      FROM c
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), s AS (
      SELECT event_type, day, close, macd,
             {_ema_sql('macd', wg)} AS signal,
             row_number() OVER w AS rn2
      FROM l WHERE rn >= {MACD_SLOW}
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, close,
           floor(macd * {IND_SCALE} + 0.5) / {IND_SCALE} AS macd,
           floor(signal * {IND_SCALE} + 0.5) / {IND_SCALE} AS signal,
           floor((macd - signal) * {IND_SCALE} + 0.5) / {IND_SCALE} AS hist
    FROM s WHERE rn2 >= {MACD_SIG}
    """


@register(
    "q_macd",
    _macd_oracle(),
    doc=f"MACD ({MACD_FAST}/{MACD_SLOW}/{MACD_SIG}, spans adapted to the "
    "30-day test calendar): truncated-EMA dot products with Python-"
    "computed double-literal weights shared by both engines — no pow() "
    "in either plan, left-associative folds, exact finite windows. Two "
    "chained per-type frames under one bar exchange",
)
def q_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return macd(load(spark, sf_dir, "events"))


# ------------------------------------------------------ EWMA volatility

def ewma_vol(
    events: DataFrame, lam: float = EWMA_LAM, L: int = EWMA_L
) -> DataFrame:
    """RiskMetrics EWMA volatility on daily cent moves: sigma²_t =
    (1−λ) Σ λ^i · dc²_{t−i} over the trailing ``L`` moves (truncated —
    λ^20 ≈ 0.29 of the tail is cut and the weights are renormalized, so
    the estimate is the weighted mean of the retained window). Weights
    are Python-computed double literals shared by both plans (no pow);
    dc² is an exact BIGINT before the literal dot product; one final
    sqrt. Rows without a full L-move history are dropped."""
    weights = [lam**i for i in range(L)]
    moves = daily_bars(events).filter(F.col("dc").isNotNull()).select(
        "event_type", "day", (F.col("dc") * F.col("dc")).alias("dc2")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    out = (
        moves.withColumn("rn", F.row_number().over(w))
        .withColumn("var_c", _ema_col("dc2", w, weights))
        .filter(F.col("rn") >= L)
    )
    return out.select(
        "event_type",
        "day",
        _q(F.sqrt(F.col("var_c")) / 100.0, IND_SCALE).alias("ewma_vol"),
    )


def _ewma_oracle() -> str:
    weights = [EWMA_LAM**i for i in range(EWMA_L)]
    return f"""
    WITH {_BARS_SQL}, m AS (
      SELECT event_type, day, dc * dc AS dc2
      FROM moves WHERE dc IS NOT NULL
    ), s AS (
      SELECT event_type, day,
             {_ema_sql('dc2', weights)} AS var_c,
             row_number() OVER w AS rn
      FROM m
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day,
           floor(sqrt(var_c) / 100.0 * {IND_SCALE} + 0.5) / {IND_SCALE}
             AS ewma_vol
    FROM s WHERE rn >= {EWMA_L}
    """


@register(
    "q_ewma_vol",
    _ewma_oracle(),
    doc=f"RiskMetrics EWMA volatility (λ={EWMA_LAM}, {EWMA_L}-move "
    "truncated, renormalized): literal-weight dot product over exact "
    "BIGINT squared moves, one sqrt — the decay-weighted risk estimate "
    "a margin engine recomputes daily. No pow() in either plan",
)
def q_ewma_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ewma_vol(load(spark, sf_dir, "events"))


# -------------------------------------------------- Donchian channels

DONCHIAN_N = 10  # channel lookback (previous N bars, current excluded)


def donchian(events: DataFrame, n: int = DONCHIAN_N) -> DataFrame:
    """Donchian channel breakouts: upper/lower = highest high / lowest
    low of the PREVIOUS ``n`` bars (current excluded — the classic
    turtle-trading entry rule), mid = channel midpoint; a close outside
    the channel is a breakout. All-integer extrema and comparisons on
    daily OHLC cents; the midpoint halves an integer sum (exact binary
    .5 cents). Rows without a full lookback are dropped. One (type,
    day) rollup, then per-type windows over the calendar-bounded bar
    table."""
    bars = daily_ohlcv(events)
    wt = Window.partitionBy("event_type").orderBy("day")
    wn = wt.rowsBetween(-n, -1)
    out = (
        bars.withColumn("rn", F.row_number().over(wt))
        .withColumn("up_c", F.max("h_c").over(wn))
        .withColumn("dn_c", F.min("l_c").over(wn))
        .filter(F.col("rn") > n)
    )
    return out.select(
        "event_type",
        "day",
        (F.col("c_c") / 100.0).alias("close"),
        (F.col("up_c") / 100.0).alias("upper"),
        (F.col("dn_c") / 100.0).alias("lower"),
        ((F.col("up_c") + F.col("dn_c")) / 200.0).alias("mid"),
        (F.col("c_c") > F.col("up_c")).alias("breakout_up"),
        (F.col("c_c") < F.col("dn_c")).alias("breakout_dn"),
    )


@register(
    "q_donchian",
    f"""
    WITH {_BARS_SQL}, r AS (
      SELECT *,
             row_number() OVER w AS rn,
             max(h_c) OVER (w ROWS BETWEEN {DONCHIAN_N} PRECEDING
                            AND 1 PRECEDING) AS up_c,
             min(l_c) OVER (w ROWS BETWEEN {DONCHIAN_N} PRECEDING
                            AND 1 PRECEDING) AS dn_c
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day,
           c_c / 100.0 AS close,
           up_c / 100.0 AS upper,
           dn_c / 100.0 AS lower,
           (up_c + dn_c) / 200.0 AS mid,
           c_c > up_c AS breakout_up,
           c_c < dn_c AS breakout_dn
    FROM r WHERE rn > {DONCHIAN_N}
    """,
    doc=f"Donchian channel ({DONCHIAN_N}-bar, current excluded) with "
    "breakout flags — the turtle-trading entry rule. Integer extrema "
    "and comparisons on daily OHLC cents, exact .5-cent midpoint; "
    "per-type windows over the calendar-bounded bar table only",
)
def q_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    return donchian(load(spark, sf_dir, "events"))


# ------------------------------------------------------- ACF profile

ACF_LAGS = 5
ACF_SCALE = 10**6


def acf_profile(events: DataFrame, lags: int = ACF_LAGS) -> DataFrame:
    """Autocorrelation function of daily close moves per type at lags
    1..``lags`` — the standard time-series diagnostic table
    (q_autocorr's lag-1 generalized to the full profile; near-zero
    everywhere = efficient tape, structure = exploitable dynamics).

    Pearson r per (type, lag) from exact BIGINT power sums over pairs
    (m_t, m_{t+lag}); pairs come from a lag-exploded equi-join on
    (type, rn + lag) over the calendar-bounded bar table (the
    q_markout shape — one join for all lags, no repeated window
    passes). Degenerate (constant) series yield NULL; one sqrt each
    side of the denominator, quantized 1e-6."""
    bars = daily_bars(events).filter(F.col("dc").isNotNull())
    wt = Window.partitionBy("event_type").orderBy("day")
    b = bars.select("event_type", "day", "dc").withColumn(
        "rn", F.row_number().over(wt)
    )
    probe = b.select(
        "event_type",
        "rn",
        F.col("dc").alias("x"),
        F.explode(
            F.array(*[F.lit(i) for i in range(1, lags + 1)])
        ).alias("lag"),
    ).withColumn("trn", F.col("rn") + F.col("lag"))
    target = b.select(
        "event_type", F.col("rn").alias("trn"), F.col("dc").alias("y")
    )
    pairs = probe.join(target, ["event_type", "trn"])
    agg = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    denx = (n * sxx - sx * sx).cast("double")
    deny = (n * syy - sy * sy).cast("double")
    r = F.when(
        (denx > 0) & (deny > 0),
        (n * sxy - sx * sy).cast("double")
        / (F.sqrt(denx) * F.sqrt(deny)),
    )
    return agg.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").alias("n_pairs"),
        _q(r, ACF_SCALE).alias("acf"),
    )


@register(
    "q_acf_profile",
    f"""
    WITH {_BARS_SQL}, b AS (
      SELECT event_type, day, dc,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS rn
      FROM moves WHERE dc IS NOT NULL
    ), pairs AS (
      SELECT p.event_type, t.lag, p.dc AS x, f.dc AS y
      FROM b p
      CROSS JOIN unnest(generate_series(1, {ACF_LAGS})) AS t(lag)
      JOIN b f ON f.event_type = p.event_type AND f.rn = p.rn + t.lag
    ), agg AS (
      SELECT event_type, lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, CAST(lag AS INT) AS lag, n AS n_pairs,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
           THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                         * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                      * {ACF_SCALE} + 0.5) / {ACF_SCALE}
           END AS acf
    FROM agg
    """,
    doc=f"ACF profile of daily close moves at lags 1..{ACF_LAGS} per "
    "type — q_autocorr generalized to the full diagnostic table. "
    "BIGINT power sums over lag-exploded equi-join pairs on the "
    "calendar-bounded bar table (one join for all lags); constant "
    "series NULL, two sqrts + one division",
)
def q_acf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return acf_profile(load(spark, sf_dir, "events"))


# ---------------------------------------------- rolling correlation

RCORR_N = 10
RCORR_SCALE = 10**6
RCORR_A = "click"
RCORR_B = "purchase"


def rolling_corr(
    events: DataFrame,
    type_a: str = RCORR_A,
    type_b: str = RCORR_B,
    n: int = RCORR_N,
) -> DataFrame:
    """Rolling ``n``-day Pearson correlation between two instruments'
    daily close moves — the co-movement monitor a pairs desk watches
    for regime breaks (q_pairs_signal gives the full-sample hedge;
    this says when the relationship is drifting).

    All five rolling sums are exact BIGINTs over the day-joined move
    series; r is one double chain per day, degenerate (flat) frames
    NULL; rows without a full frame drop. The joined series is
    calendar-bounded (one row per shared trading day), so the single
    ordered window holds thousands of rows, not the fact table."""
    bars = daily_bars(events).filter(F.col("dc").isNotNull())
    a = bars.filter(F.col("event_type") == type_a).select(
        "day", F.col("dc").alias("x")
    )
    b = bars.filter(F.col("event_type") == type_b).select(
        "day", F.col("dc").alias("y")
    )
    j = a.join(b, "day")
    w = Window.orderBy("day")
    wf = w.rowsBetween(-(n - 1), 0)
    rolled = (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("sx", F.sum("x").over(wf))
        .withColumn("sy", F.sum("y").over(wf))
        .withColumn("sxy", F.sum(F.col("x") * F.col("y")).over(wf))
        .withColumn("sxx", F.sum(F.col("x") * F.col("x")).over(wf))
        .withColumn("syy", F.sum(F.col("y") * F.col("y")).over(wf))
        .filter(F.col("rn") >= n)
    )
    k = F.lit(n)
    denx = (k * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (k * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    r = F.when(
        (denx > 0) & (deny > 0),
        (k * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.sqrt(denx) * F.sqrt(deny)),
    )
    return rolled.select("day", _q(r, RCORR_SCALE).alias("corr"))


@register(
    "q_rolling_corr",
    f"""
    WITH {_BARS_SQL}, j AS (
      SELECT a.day, a.dc AS x, b.dc AS y
      FROM moves a JOIN moves b ON a.day = b.day
      WHERE a.event_type = '{RCORR_A}' AND b.event_type = '{RCORR_B}'
        AND a.dc IS NOT NULL AND b.dc IS NOT NULL
    ), rolled AS (
      SELECT day,
             row_number() OVER dw AS rn,
             CAST(sum(x) OVER f AS BIGINT) AS sx,
             CAST(sum(y) OVER f AS BIGINT) AS sy,
             CAST(sum(x * y) OVER f AS BIGINT) AS sxy,
             CAST(sum(x * x) OVER f AS BIGINT) AS sxx,
             CAST(sum(y * y) OVER f AS BIGINT) AS syy
      FROM j
      WINDOW dw AS (ORDER BY day),
             f AS (ORDER BY day
                   ROWS BETWEEN {RCORR_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT day,
           CASE WHEN {RCORR_N} * sxx - sx * sx > 0
                 AND {RCORR_N} * syy - sy * sy > 0
           THEN floor(CAST({RCORR_N} * sxy - sx * sy AS DOUBLE)
                      / (sqrt(CAST({RCORR_N} * sxx - sx * sx AS DOUBLE))
                         * sqrt(CAST({RCORR_N} * syy - sy * sy AS DOUBLE)))
                      * {RCORR_SCALE} + 0.5) / {RCORR_SCALE}
           END AS corr
    FROM rolled WHERE rn >= {RCORR_N}
    """,
    doc=f"Rolling {RCORR_N}-day Pearson correlation between "
    f"{RCORR_A}/{RCORR_B} daily close moves — the pairs-desk regime "
    "monitor. Exact BIGINT rolling sums over the calendar-bounded "
    "day-joined series, one double chain per day, flat frames NULL",
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rolling_corr(load(spark, sf_dir, "events"))
