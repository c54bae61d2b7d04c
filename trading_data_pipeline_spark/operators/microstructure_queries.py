"""Market-microstructure estimators over the event stream (round-6
batch 3).

The reference stops at the daily OHLC report (xetra_transformer.py:
126-208); this module adds the liquidity/price-impact layer quant
research computes FROM that tape — the classic microstructure
estimators, each re-derived as one or two Spark exchanges:

- **q_realized_vol**: per (type, day) realized volatility — the square
  root of the sum of squared successive intra-day price moves. Moves
  are integer cents, so Σd² is exact integer arithmetic with ONE
  IEEE-exact sqrt at the end.
- **q_roll_spread**: Roll's (1984) implicit bid-ask spread estimator
  ``2·√(−cov(Δp_t, Δp_{t+1}))`` from the first-order autocovariance of
  daily close changes. The covariance numerator ``n·Σxy − Σx·Σy`` stays
  a BIGINT; one double division + one sqrt.
- **q_kyle_lambda**: Kyle's λ (price impact) — the OLS slope of daily
  price change on signed volume (tick-rule sign × ``props.$.k`` size).
  Slope = (nΣxy − ΣxΣy)/(nΣx² − ΣxΣx), all-integer sums, one division.
- **q_amihud**: Amihud (2002) illiquidity — mean over days of
  |return|/volume. Each day's ratio is an exact rational
  ``|Δc|·10¹² / (prev_close·vol)`` floored to a BIGINT so the cross-day
  MEAN is an integer sum (no float accumulation-order drift), then one
  final division.
- **q_leadlag_corr**: lead-lag Pearson correlation between today's
  'click' close move and TOMORROW's 'purchase' close move (does one
  tape lead the other) — integer sums, two IEEE sqrts, one division.
- **q_weighted_median**: per-type volume-weighted median price — the
  median cents value under trade-size weights via one cumulative-sum
  window over aggregated (type, cents) rows, never over raw events.

Exactness discipline (repo convention, see functions/quantize.py):
prices fix to integer cents, every aggregate that feeds a formula is an
integer sum (``CAST(sum(..) AS BIGINT)`` on the DuckDB side — the
round-5 HUGEINT lesson), and each query ends in at most one double
division/sqrt chain whose operands are exact — IEEE-deterministic on
both engines, no libm transcendentals anywhere.

Scale design: every query collapses the event stream to daily bars with
ONE (event_type, day)-keyed exchange — ``bars.daily_bars`` (``bars.py``
holds the one bar definition and its exactness argument) — then works
on the ~10⁵×-smaller bar table in per-type windows. Integer sums assume
|cents|·|volume| products < 2⁶³ — at larger magnitudes switch the sum
columns to DECIMAL(38,0) (noted per query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import _BARS_SQL, _CENTS, cents, daily_bars

AMIHUD_SCALE = 10**12  # fixed-point scale for per-day |ret|/vol ratios
XCORR_SCALE = 10**8

def realized_vol(events: DataFrame) -> DataFrame:
    """Per-(type, day) realized volatility from intra-day tick moves:
    √(Σ(c_i − c_{i−1})²)/100 in event order. Σd² is an exact BIGINT
    (|d| ≤ 2^31 ⇒ room for ~2^63/d² ticks/day); sqrt is IEEE-exact."""
    wt = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    d = (
        events.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            "ts",
            "event_id",
            cents().alias("cents"),
        )
        .withColumn("d", F.col("cents") - F.lag("cents").over(wt))
        .filter(F.col("d").isNotNull())
    )
    return (
        d.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_moves"),
            F.sum(F.col("d") * F.col("d")).alias("ss"),
        )
        .select(
            "event_type",
            "day",
            "n_moves",
            (F.sqrt(F.col("ss").cast("double")) / 100.0).alias("rv"),
        )
    )


@register(
    "q_realized_vol",
    f"""
    WITH e AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
             {_CENTS} AS cents
      FROM events
    ), d AS (
      SELECT event_type, day,
             cents - lag(cents) OVER
               (PARTITION BY event_type, day ORDER BY ts, event_id) AS d
      FROM e
    )
    SELECT event_type, day,
           CAST(count(*) AS BIGINT) AS n_moves,
           sqrt(CAST(CAST(sum(d * d) AS BIGINT) AS DOUBLE)) / 100.0 AS rv
    FROM d WHERE d IS NOT NULL
    GROUP BY event_type, day
    """,
    doc="Per-(type, day) realized volatility √Σ(Δcents)²/100 over "
    "intra-day tick moves in (ts, event_id) order — exact integer power "
    "sum, one IEEE sqrt. One (type, day) exchange",
)
def q_realized_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    return realized_vol(load(spark, sf_dir, "events"))


def roll_spread(events: DataFrame) -> DataFrame:
    """Roll's implicit spread: 2·√(max(0, −cov(Δc_t, Δc_{t+1})))/100 per
    type over daily close changes. cov numerator n·Σxy − Σx·Σy is an
    exact BIGINT (cents² × days ≪ 2⁶³); one division, one sqrt."""
    wt = Window.partitionBy("event_type").orderBy("day")
    pairs = (
        daily_bars(events)
        .filter(F.col("dc").isNotNull())
        .select(
            "event_type",
            "day",
            F.col("dc").alias("x"),
            F.lead("dc").over(wt).alias("y"),
        )
        .filter(F.col("y").isNotNull())
    )
    agg = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    cov = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("n"))
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        cov.alias("cov_c2"),
        (F.sqrt(F.greatest(F.lit(0.0), -cov)) * 2 / 100.0).alias(
            "roll_spread"
        ),
    )


@register(
    "q_roll_spread",
    f"""
    WITH {_BARS_SQL}, pairs AS (
      SELECT event_type, dc AS x,
             lead(dc) OVER (PARTITION BY event_type ORDER BY day) AS y
      FROM moves WHERE dc IS NOT NULL
    ), agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pairs WHERE y IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_pairs,
           (n * sxy - sx * sy) / (n * n) AS cov_c2,
           sqrt(greatest(0.0, -((n * sxy - sx * sy) / (n * n))))
             * 2 / 100.0 AS roll_spread
    FROM agg
    """,
    doc="Roll (1984) implicit bid-ask spread 2·√(−autocov(Δclose)) per "
    "type from daily close changes — BIGINT covariance numerator, one "
    "division + one IEEE sqrt. Bar rollup + window share one exchange",
)
def q_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roll_spread(load(spark, sf_dir, "events"))


def kyle_lambda(events: DataFrame) -> DataFrame:
    """Kyle's λ per type: OLS slope of daily close change on tick-rule
    signed volume. All sums integer; slope is one exact-operand double
    division (NULL when the signed-volume variance is zero)."""
    sv = F.when(F.col("dc") > 0, F.col("vol")).when(
        F.col("dc") < 0, -F.col("vol")
    ).otherwise(F.lit(0))
    d = (
        daily_bars(events)
        .filter(F.col("dc").isNotNull())
        .select("event_type", sv.alias("x"), F.col("dc").alias("y"))
    )
    agg = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.when(den != 0, num / den).alias("kyle_lambda"),
    )


@register(
    "q_kyle_lambda",
    f"""
    WITH {_BARS_SQL}, d AS (
      SELECT event_type,
             CASE WHEN dc > 0 THEN vol
                  WHEN dc < 0 THEN -vol ELSE 0 END AS x,
             dc AS y
      FROM moves WHERE dc IS NOT NULL
    ), agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM d GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
           END AS kyle_lambda
    FROM agg
    """,
    doc="Kyle's λ (price impact): OLS slope of daily Δclose on tick-rule "
    "signed props.$.k volume per type — integer sums, one exact-operand "
    "division. At volumes where Σx² nears 2⁶³ switch sums to DECIMAL",
)
def q_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kyle_lambda(load(spark, sf_dir, "events"))


def amihud(events: DataFrame) -> DataFrame:
    """Amihud illiquidity per type: mean over days of |Δc|/(prev_c·vol).
    Each day's ratio is floored to AMIHUD_SCALE fixed point (exact
    rational, exact floor) so the mean is an integer sum — no float
    accumulation order anywhere; one final division."""
    d = daily_bars(events).filter(
        F.col("prev_c").isNotNull() & (F.col("vol") > 0)
    )
    day_q = F.floor(
        (F.lit(AMIHUD_SCALE) * F.abs(F.col("dc")))
        / (F.col("prev_c") * F.col("vol"))
        + F.lit(0.5)
    ).cast("long")
    return (
        d.select("event_type", day_q.alias("q"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_days"), F.sum("q").alias("sq"))
        .select(
            "event_type",
            "n_days",
            (
                F.col("sq") / (F.col("n_days") * F.lit(AMIHUD_SCALE))
            ).alias("amihud"),
        )
    )


@register(
    "q_amihud",
    f"""
    WITH {_BARS_SQL}, d AS (
      SELECT event_type,
             CAST(floor(({AMIHUD_SCALE} * abs(dc))
                        / (prev_c * vol) + 0.5) AS BIGINT) AS q
      FROM moves WHERE prev_c IS NOT NULL AND vol > 0
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(q) AS BIGINT)
             / (count(*) * {AMIHUD_SCALE}) AS amihud
    FROM d GROUP BY event_type
    """,
    doc="Amihud (2002) illiquidity mean(|daily return|/volume) per type "
    "— per-day ratios fixed to 1e-12 BIGINTs before the cross-day mean "
    "so no float accumulates; zero-volume days excluded",
)
def q_amihud(spark: SparkSession, sf_dir: str) -> DataFrame:
    return amihud(load(spark, sf_dir, "events"))


def leadlag_corr(
    events: DataFrame, lead_type: str = "click", lag_type: str = "purchase"
) -> DataFrame:
    """Pearson correlation between today's ``lead_type`` close move and
    tomorrow's ``lag_type`` close move — does one tape lead the other.
    Integer sums; r = num/(√dx·√dy), every operand exact."""
    bars = daily_bars(events).filter(F.col("dc").isNotNull())
    a = bars.filter(F.col("event_type") == lead_type).select(
        "day", F.col("dc").alias("x")
    )
    b = bars.filter(F.col("event_type") == lag_type).select(
        F.col("day").alias("bday"), F.col("dc").alias("y")
    )
    j = a.join(b, F.date_add(F.col("day"), 1) == F.col("bday"))
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    r = F.when(
        (dx > 0) & (dy > 0), num / (F.sqrt(dx) * F.sqrt(dy))
    )
    return agg.select(
        F.col("n").alias("n_pairs"),
        _q(r, XCORR_SCALE).alias("xcorr"),
    )


@register(
    "q_leadlag_corr",
    f"""
    WITH {_BARS_SQL}, a AS (
      SELECT day, dc AS x FROM moves
      WHERE event_type = 'click' AND dc IS NOT NULL
    ), b AS (
      SELECT day AS bday, dc AS y FROM moves
      WHERE event_type = 'purchase' AND dc IS NOT NULL
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM a JOIN b ON a.day + INTERVAL 1 DAY = b.bday
    )
    SELECT n AS n_pairs,
           floor(CASE WHEN n * sxx - sx * sx > 0
                       AND n * syy - sy * sy > 0
                 THEN CAST(n * sxy - sx * sy AS DOUBLE)
                      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                         * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                 END * {XCORR_SCALE} + 0.5) / {XCORR_SCALE} AS xcorr
    FROM agg
    """,
    doc="Lead-lag Pearson r between today's click move and tomorrow's "
    "purchase move — integer sums, two IEEE sqrts, one division, "
    "quantized 1e-8. Single-row output",
)
def q_leadlag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return leadlag_corr(load(spark, sf_dir, "events"))


def weighted_median(events: DataFrame) -> DataFrame:
    """Volume-weighted median price per type: the smallest cents value
    whose cumulative props.$.k weight reaches half the total. The
    cumulative window runs over AGGREGATED (type, cents) rows — ~10⁵×
    smaller than the event stream — and every comparison is integer."""
    qty = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(0)
    )
    cw = (
        events.select("event_type", cents().alias("cents"), qty.alias("q"))
        .groupBy("event_type", "cents")
        .agg(F.sum("q").alias("w"))
    )
    wc = Window.partitionBy("event_type").orderBy("cents")
    wt = Window.partitionBy("event_type")
    return (
        cw.select(
            "event_type",
            "cents",
            F.sum("w").over(wc).alias("cum"),
            F.sum("w").over(wt).alias("tot"),
        )
        .filter(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("event_type")
        .agg(
            F.max("tot").alias("total_vol"),
            (F.min("cents") / 100.0).alias("wmedian"),
        )
    )


@register(
    "q_weighted_median",
    f"""
    WITH cw AS (
      SELECT event_type, {_CENTS} AS cents,
             CAST(sum(coalesce(json_extract_string(props, '$.k')::BIGINT,
                               0)) AS BIGINT) AS w
      FROM events GROUP BY 1, 2
    ), c AS (
      SELECT event_type, cents,
             CAST(sum(w) OVER (PARTITION BY event_type ORDER BY cents
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(sum(w) OVER (PARTITION BY event_type) AS BIGINT) AS tot
      FROM cw
    )
    SELECT event_type, CAST(max(tot) AS BIGINT) AS total_vol,
           min(cents) / 100.0 AS wmedian
    FROM c WHERE cum * 2 >= tot GROUP BY event_type
    """,
    doc="Volume-weighted median price per type — cumulative-weight "
    "window over pre-aggregated (type, cents) rows, all-integer "
    "comparisons; the q_median trick generalized to weights",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_median(load(spark, sf_dir, "events"))


# ------------------------------------------- scalable tick-sign helper


def _tick_signed(
    events: DataFrame, extra: dict[str, F.Column] | None = None
) -> DataFrame:
    """Carried tick-rule trade sign over the full event stream, WITHOUT
    a per-type window over raw events: the global
    ``last_value(sign(Δc) IGNORE NULLS)`` decomposes as (1) within-
    (event_type, day) lag/last_value windows — state bounded by one
    day's events, parallel across (type, day) — plus (2) a calendar-
    sized per-(type, day) boundary table carrying each day's close and
    most-recent sign evidence, per-type windowed over DAYS (thousands
    of rows, not the fact table) and joined back (the q_dollar_bars
    two-pass shape, indicators2_queries.py).

    A day's first row takes its Δc against the previous present day's
    close (``_cross_s0``); a row with no nonzero change yet this day
    falls back to the sign carried in from prior days
    (``_carried_in`` = last evidence among strictly earlier days).
    Bit-identical to the single-window formulation — the oracles and
    hand fixtures of every caller pin it.

    Returns ``event_type, day, ts, event_id, c, s`` (+``extra``
    columns); ``s`` is NULL for the evidence-free prefix of a type's
    stream, which callers filter.
    """
    cols = [
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        cents().alias("c"),
    ]
    if extra:
        cols += [e.alias(n) for n, e in extra.items()]
    base = events.select(*cols)
    wday = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    dc = F.col("c") - F.lag("c").over(wday)
    rows = base.withColumn(
        "_s0", F.when(dc > 0, F.lit(1)).when(dc < 0, F.lit(-1))
    ).withColumn("_rnd", F.row_number().over(wday))
    days = rows.groupBy("event_type", "day").agg(
        F.min_by("c", F.struct("ts", "event_id")).alias("_first_c"),
        F.max_by("c", F.struct("ts", "event_id")).alias("_close_c"),
        F.expr(
            "max_by(_s0, struct(ts, event_id))"
            " FILTER (WHERE _s0 IS NOT NULL)"
        ).alias("_inner_sign"),
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    dcx = F.col("_first_c") - F.lag("_close_c").over(wd)
    days = (
        days.withColumn(
            "_cross_s0", F.when(dcx > 0, F.lit(1)).when(dcx < 0, F.lit(-1))
        )
        .withColumn("_evidence", F.coalesce("_inner_sign", "_cross_s0"))
        .withColumn(
            "_carried_in",
            F.last("_evidence", ignorenulls=True).over(
                wd.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
    )
    joined = rows.join(
        days.select("event_type", "day", "_cross_s0", "_carried_in"),
        ["event_type", "day"],
    )
    s0_full = F.when(F.col("_rnd") == 1, F.col("_cross_s0")).otherwise(
        F.col("_s0")
    )
    out = joined.withColumn("_s0f", s0_full).withColumn(
        "s",
        F.coalesce(
            F.last("_s0f", ignorenulls=True).over(
                wday.rowsBetween(Window.unboundedPreceding, 0)
            ),
            F.col("_carried_in"),
        ),
    )
    return out.drop("_s0", "_rnd", "_cross_s0", "_carried_in", "_s0f")


def _day_offset(
    df: DataFrame, col: str, out: str, how: str = "sum"
) -> DataFrame:
    """Per-type running offset of a day-level quantity: aggregate
    ``col`` per (event_type, day), window the calendar-sized day table
    per type (strictly-preceding frame), and join the offset back.
    Turns a within-day running sum / row rank into the global one —
    pass 2 of the q_dollar_bars decomposition."""
    per_day = df.groupBy("event_type", "day").agg(
        (F.sum(col) if how == "sum" else F.count(F.lit(1))).alias("_dv")
    )
    woff = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_day.select(
        "event_type",
        "day",
        F.coalesce(F.sum("_dv").over(woff), F.lit(0)).alias(out),
    )
    return df.join(offsets, ["event_type", "day"])


# ---------------------------------------------------------------- VPIN

VPIN_V = 5000   # volume-bucket size (classified shares per bucket)
VPIN_K = 5      # rolling buckets in the VPIN average


def vpin(
    events: DataFrame, v: int = VPIN_V, k: int = VPIN_K
) -> DataFrame:
    """Volume-synchronized probability of informed trading (VPIN,
    Easley / López de Prado — public formulation): classify each trade's
    volume buy/sell by the TICK RULE (sign of the last nonzero price
    change), cut the classified flow into equal-volume buckets, and
    average |buy − sell| imbalance over the trailing ``k`` buckets —
    toxicity of order flow rises before liquidity events.

    Exactness: tick signs are integer comparisons with the carried-
    forward sign (rows before the first price change carry no evidence
    and are excluded on both engines); bucket assignment is exact
    integer floor-division of the running classified volume by ``v``
    (no double rounding at any cumulative magnitude); buy/sell/
    imbalance are BIGINT sums; VPIN divides two k-frame BIGINT sums
    once.

    Scale: the carried sign comes from ``_tick_signed`` and the running
    volume from ``_day_offset`` — both the q_dollar_bars two-pass
    decomposition (within-(type, day) windows + a calendar-sized
    per-day offset join-back), so NO window ever sorts a type's full
    raw stream in one task. The trailing-k window runs over the bucket
    rollup, |flow|/v rows (an aggregate, not the raw fact).
    """
    qty = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(0)
    )
    signed = _tick_signed(events, {"q": qty}).filter(F.col("s").isNotNull())
    wday = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    cum_in = F.coalesce(
        F.sum("q").over(wday.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    bucketed = _day_offset(
        signed.withColumn("_cb", cum_in), "q", "_qoff"
    ).withColumn(
        "bucket_id",
        F.expr(f"CAST((_qoff + _cb) DIV {int(v)} AS BIGINT)"),
    )
    buckets = bucketed.groupBy("event_type", "bucket_id").agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.sum(F.when(F.col("s") > 0, F.col("q")).otherwise(0)).alias("buy"),
        F.sum(F.when(F.col("s") < 0, F.col("q")).otherwise(0)).alias("sell"),
    )
    wb = Window.partitionBy("event_type").orderBy("bucket_id")
    wk = wb.rowsBetween(-(k - 1), 0)
    out = (
        buckets.withColumn("vol", F.col("buy") + F.col("sell"))
        .withColumn("imb", F.abs(F.col("buy") - F.col("sell")))
        .withColumn("_si", F.sum("imb").over(wk))
        .withColumn("_sv", F.sum("vol").over(wk))
        .withColumn("_rn", F.row_number().over(wb))
        .filter((F.col("_rn") >= k) & (F.col("_sv") > 0))
    )
    return out.select(
        "event_type",
        "bucket_id",
        "n_trades",
        "buy",
        "sell",
        "imb",
        _q(F.col("_si") / F.col("_sv"), 1_000_000).alias("vpin"),
    )


@register(
    "q_vpin",
    f"""
    WITH e AS (
      SELECT event_type, ts, event_id, {_CENTS} AS c,
             coalesce(json_extract_string(props, '$.k')::BIGINT, 0) AS q
      FROM events
    ), d AS (
      SELECT *,
             CASE WHEN c - lag(c) OVER w > 0 THEN 1
                  WHEN c - lag(c) OVER w < 0 THEN -1 END AS s0
      FROM e
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), s AS (
      SELECT event_type, ts, event_id, q,
             last_value(s0 IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM d
    ), b AS (
      SELECT event_type, q, s,
             CAST(coalesce(sum(q) OVER
               (PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {VPIN_V} AS BIGINT) AS bucket_id
      FROM s WHERE s IS NOT NULL
    ), agg AS (
      SELECT event_type, bucket_id,
             CAST(count(*) AS BIGINT) AS n_trades,
             CAST(sum(CASE WHEN s > 0 THEN q ELSE 0 END) AS BIGINT) AS buy,
             CAST(sum(CASE WHEN s < 0 THEN q ELSE 0 END) AS BIGINT) AS sell
      FROM b GROUP BY event_type, bucket_id
    ), r AS (
      SELECT *, buy + sell AS vol, abs(buy - sell) AS imb,
             CAST(sum(abs(buy - sell)) OVER f AS BIGINT) AS si,
             CAST(sum(buy + sell) OVER f AS BIGINT) AS sv,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY bucket_id) AS rn
      FROM agg
      WINDOW f AS (PARTITION BY event_type ORDER BY bucket_id
                   ROWS BETWEEN {VPIN_K - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, bucket_id, n_trades, buy, sell, imb,
           floor(si * 1.0 / sv * 1000000 + 0.5) / 1000000 AS vpin
    FROM r WHERE rn >= {VPIN_K} AND sv > 0
    """,
    doc=f"VPIN order-flow toxicity: tick-rule classified volume cut into "
    f"{VPIN_V}-share buckets (exact integer DIV), |buy−sell| imbalance "
    f"averaged over the trailing {VPIN_K} buckets as one BIGINT-sum "
    "ratio. Carried sign and running volume via the two-pass "
    "within-(type, day) + calendar-offset decomposition — no per-type "
    "raw-event window; the trailing window runs over the |flow|/V "
    "bucket rollup",
)
def q_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vpin(load(spark, sf_dir, "events"))


# ------------------------------------------------- order-flow persistence

FLOW_SCALE = 10**6


def flow_persistence(events: DataFrame) -> DataFrame:
    """Order-flow persistence per type: lag-1 autocorrelation of the
    tick-rule trade sign — the canonical microstructure fact that order
    flow is positively autocorrelated (order splitting / herding), and
    the input to optimal-execution schedules. Signs are the same
    carried tick rule as q_vpin; the correlation of a ±1 series reduces
    to pure BIGINT sums (s² = 1, so Σx² = n): φ = (n·Σxy − Σx·Σy) /
    sqrt((n² − Σx²ₛᵤₘ)·(n² − Σy²ₛᵤₘ)) with ONE sqrt on exact integer
    operands. Degenerate (all-same-sign) series → NULL.

    Scale: signs via ``_tick_signed`` (two-pass, no per-type raw-event
    window); consecutive-row pairs split into within-(type, day) lag
    pairs plus one calendar-sized day-boundary pair per day — the sign
    carried INTO a day (last evidence of prior days) paired with the
    day's first row's sign — unioned before one bounded aggregate.
    Retained rows (s non-null) form a per-type suffix of the stream,
    so this pair set is exactly the single-window lag-1 pair set.
    """
    signed = _tick_signed(events).filter(F.col("s").isNotNull())
    wday = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    within = signed.withColumn("sp", F.lag("s").over(wday)).filter(
        F.col("sp").isNotNull()
    )
    # Day-boundary pairs: first signed row of a day vs the sign carried
    # out of the previous present day, on the calendar-sized day table.
    wd = Window.partitionBy("event_type").orderBy("day")
    day_bounds = signed.groupBy("event_type", "day").agg(
        F.min_by("s", F.struct("ts", "event_id")).alias("_first_s"),
        F.max_by("s", F.struct("ts", "event_id")).alias("_last_s"),
    )
    boundary = (
        day_bounds.withColumn("sp", F.lag("_last_s").over(wd))
        .filter(F.col("sp").isNotNull())
        .select("event_type", F.col("_first_s").alias("s"), "sp")
    )
    paired = within.select("event_type", "s", "sp").unionByName(boundary)
    agg = paired.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s").alias("sy"),
        F.sum("sp").alias("sx"),
        F.sum(F.col("s") * F.col("sp")).alias("sxy"),
    )
    n, sx, sy, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxy"))
    # each factor fits BIGINT (<= n^2, exact to ~3e9 pairs) but their
    # PRODUCT overflows int64 past ~55k pairs per type (100x-sweep
    # audit); multiply in double — both factors are exact doubles below
    # 2^53, so the once-rounded product is bit-identical to casting the
    # exact integer product, on both engines
    den2 = (n * n - sx * sx).cast("double") * (n * n - sy * sy).cast(
        "double"
    )
    phi = F.when(
        den2 > 0,
        (n * sxy - sx * sy).cast("double") / F.sqrt(den2),
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        _q(phi, FLOW_SCALE).alias("flow_autocorr"),
    )


@register(
    "q_flow_persistence",
    f"""
    WITH e AS (
      SELECT event_type, ts, event_id, {_CENTS} AS c FROM events
    ), d AS (
      SELECT *, CASE WHEN c - lag(c) OVER w > 0 THEN 1
                     WHEN c - lag(c) OVER w < 0 THEN -1 END AS s0
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), s AS (
      SELECT event_type, ts, event_id,
             last_value(s0 IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM d
    ), p AS (
      SELECT event_type, s,
             lag(s) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS sp
      FROM s WHERE s IS NOT NULL
    ), agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(sp) AS BIGINT) AS sx,
             CAST(sum(s) AS BIGINT) AS sy,
             CAST(sum(s * sp) AS BIGINT) AS sxy
      FROM p WHERE sp IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_pairs,
           floor(CASE WHEN CAST(n*n - sx*sx AS DOUBLE)
                           * CAST(n*n - sy*sy AS DOUBLE) > 0
                 THEN CAST(n*sxy - sx*sy AS DOUBLE)
                      / sqrt(CAST(n*n - sx*sx AS DOUBLE)
                             * CAST(n*n - sy*sy AS DOUBLE))
                 END * {FLOW_SCALE} + 0.5) / {FLOW_SCALE} AS flow_autocorr
    FROM agg
    """,
    doc="Order-flow persistence: lag-1 autocorrelation of the carried "
    "tick-rule trade sign per type — BIGINT sums only (a ±1 series "
    "needs no power sums), one sqrt, all-same-sign series NULL. "
    "Two-pass signs + within-day pairs + calendar-sized day-boundary "
    "pairs — no per-type raw-event window",
)
def q_flow_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flow_persistence(load(spark, sf_dir, "events"))


# ------------------------------------------------------ round-lot bias

RL_SCALE = 10**6


def round_lot_bias(events: DataFrame) -> DataFrame:
    """Round-lot clustering screen: the share of trades (and of volume)
    whose size is a multiple of 10 versus the ~10% a size-indifferent
    flow would show — retail flow and wash-trading programs both
    over-index on round lots, so the EXCESS over the uniform baseline
    is the anomaly signal. All-integer counts/sums, two divisions per
    type, one partial-agged exchange."""
    qty = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(0)
    )
    base = events.select("event_type", qty.alias("q")).filter(F.col("q") > 0)
    is_round = (F.col("q") % 10 == 0).cast("long")
    agg = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.sum(is_round).alias("n_round"),
        F.sum("q").alias("vol"),
        F.sum(F.col("q") * is_round).alias("vol_round"),
    )
    return agg.select(
        "event_type",
        "n_trades",
        "n_round",
        _q(F.col("n_round") / F.col("n_trades"), RL_SCALE).alias(
            "trade_share"
        ),
        _q(F.col("vol_round") / F.col("vol"), RL_SCALE).alias("vol_share"),
        _q(
            F.col("n_round") / F.col("n_trades") - 0.1, RL_SCALE
        ).alias("excess_vs_uniform"),
    )


@register(
    "q_round_lots",
    f"""
    WITH base AS (
      SELECT event_type,
             coalesce(json_extract_string(props, '$.k')::BIGINT, 0) AS q
      FROM events
      WHERE coalesce(json_extract_string(props, '$.k')::BIGINT, 0) > 0
    ), agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_trades,
             CAST(sum(CASE WHEN q % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_round,
             CAST(sum(q) AS BIGINT) AS vol,
             CAST(sum(CASE WHEN q % 10 = 0 THEN q ELSE 0 END) AS BIGINT)
               AS vol_round
      FROM base GROUP BY event_type
    )
    SELECT event_type, n_trades, n_round,
           floor(n_round * 1.0 / n_trades * {RL_SCALE} + 0.5)
             / {RL_SCALE} AS trade_share,
           floor(vol_round * 1.0 / vol * {RL_SCALE} + 0.5)
             / {RL_SCALE} AS vol_share,
           floor((n_round * 1.0 / n_trades - 0.1) * {RL_SCALE} + 0.5)
             / {RL_SCALE} AS excess_vs_uniform
    FROM agg
    """,
    doc="Round-lot clustering screen per type: share of trades/volume at "
    "multiples of 10 vs the 10% size-indifferent baseline — the retail-"
    "flow / wash-trading tell. Integer counts and sums, two divisions, "
    "one exchange",
)
def q_round_lots(spark: SparkSession, sf_dir: str) -> DataFrame:
    return round_lot_bias(load(spark, sf_dir, "events"))


# ----------------------------------------------- inter-arrival profile

IA_PCTS = (50, 90, 99)  # integer percentiles — exact order statistics


def interarrival_profile(events: DataFrame) -> DataFrame:
    """Trade-intensity profile per type: exact p50/p90/p99 of the
    inter-event arrival gap (microseconds, integer) — the arrival-clock
    summary behind capacity planning and burst detection (Fano-factor
    burstiness q_burstiness says HOW clustered; this says how FAST).
    Gaps are exact integer µs via lag; each percentile is the EXACT
    ⌈p·n/100⌉-th order statistic — the smallest gap value whose
    cumulative multiplicity reaches the rank (no interpolation
    ambiguity across engines).

    Scale: gaps come from within-(type, day) lags plus one calendar-
    sized cross-day boundary gap per day (first event of a day vs the
    previous present day's last event) — no per-type raw-event window.
    The order statistic runs over the (type, gap_us) COUNT rollup — a
    value-histogram cumsum bounded by distinct gap values (the
    q_weighted_median / q_ks_test shape), never a per-type sort of the
    raw gap multiset.
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = events.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        us.alias("us"),
    )
    wday = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    within = base.withColumn(
        "gap_us", F.col("us") - F.lag("us").over(wday)
    ).filter(F.col("gap_us").isNotNull())
    wd = Window.partitionBy("event_type").orderBy("day")
    day_bounds = base.groupBy("event_type", "day").agg(
        F.min("us").alias("_first_us"), F.max("us").alias("_last_us")
    )
    boundary = (
        day_bounds.withColumn(
            "gap_us", F.col("_first_us") - F.lag("_last_us").over(wd)
        )
        .filter(F.col("gap_us").isNotNull())
        .select("event_type", "gap_us")
    )
    gaps = within.select("event_type", "gap_us").unionByName(boundary)
    hist = gaps.groupBy("event_type", "gap_us").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wv = Window.partitionBy("event_type").orderBy("gap_us")
    ranked = hist.select(
        "event_type",
        "gap_us",
        "cnt",
        F.sum("cnt")
        .over(wv.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("cnt")
        .over(
            Window.partitionBy("event_type").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    aggs = [F.sum("cnt").alias("n_gaps")]
    for p in IA_PCTS:
        k = F.floor((F.lit(p) * F.col("n") + 99) / F.lit(100.0)).cast("long")
        aggs.append(
            F.min(F.when(F.col("cum") >= k, F.col("gap_us"))).alias(
                f"p{p}_gap_us"
            )
        )
    return ranked.groupBy("event_type").agg(*aggs)


@register(
    "q_interarrival",
    f"""
    WITH e AS (
      SELECT event_type, ts, event_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    ), ranked AS (
      SELECT event_type, gap_us,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY gap_us, ts, event_id) AS r,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM e WHERE gap_us IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(min(CASE WHEN r = CAST(floor((50 * n + 99) / 100.0)
                                     AS BIGINT)
                    THEN gap_us END) AS BIGINT) AS p50_gap_us,
           CAST(min(CASE WHEN r = CAST(floor((90 * n + 99) / 100.0)
                                     AS BIGINT)
                    THEN gap_us END) AS BIGINT) AS p90_gap_us,
           CAST(min(CASE WHEN r = CAST(floor((99 * n + 99) / 100.0)
                                     AS BIGINT)
                    THEN gap_us END) AS BIGINT) AS p99_gap_us
    FROM ranked GROUP BY event_type
    """,
    doc="Inter-arrival profile per type: exact p50/p90/p99 of the "
    "integer-microsecond event gap as ⌈p·n/100⌉-th order statistics "
    "(no interpolation ambiguity) — the arrival-clock summary behind "
    "capacity planning, next to q_burstiness's clustering measure. "
    "Within-day lags + calendar-sized boundary gaps, percentile over "
    "the (type, gap) value histogram — no per-type raw-event window",
)
def q_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    return interarrival_profile(load(spark, sf_dir, "events"))


# ------------------------------------------------------------ markouts

MARKOUT_HORIZONS = (1, 5, 20)  # events ahead


def markouts(
    events: DataFrame, horizons: tuple[int, ...] = MARKOUT_HORIZONS
) -> DataFrame:
    """Post-trade markouts per type: the mean SIGNED price move h events
    after a trade, signed by the trade's tick direction — positive
    markouts mean the market keeps moving the trade's way (informed
    flow / adverse selection against whoever filled it); the execution-
    quality metric desks monitor per venue. Same carried tick sign as
    q_vpin; moves are integer cent differences; means are integer sums
    divided once.

    Scale: the per-type lead(h) window over raw events is replaced by
    a GLOBAL ROW INDEX (within-(type, day) row_number + calendar-sized
    per-day count offsets — the q_dollar_bars two-pass) and one
    shuffle equi-join on (event_type, rn + h) with the horizon stack
    exploded on the probe side: each trade meets the trade h events
    ahead by key, horizons beyond the stream end simply don't match
    (= the window's NULL leads). No single task ever sorts a type's
    full stream.
    """
    signed = _tick_signed(events)
    wday = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    indexed = _day_offset(
        signed.withColumn("_rnd", F.row_number().over(wday)),
        "_rnd",
        "_rnoff",
        how="count",
    ).withColumn("rn", F.col("_rnoff") + F.col("_rnd"))
    target = indexed.select(
        "event_type", F.col("rn").alias("trn"), F.col("c").alias("ct")
    )
    probe = (
        indexed.filter(F.col("s").isNotNull())
        .select(
            "event_type",
            "rn",
            "s",
            "c",
            F.explode(
                F.array(*[F.lit(int(h)) for h in horizons])
            ).alias("horizon"),
        )
        .withColumn("trn", F.col("rn") + F.col("horizon"))
    )
    melted = probe.join(target, ["event_type", "trn"]).select(
        "event_type",
        "horizon",
        (F.col("s") * (F.col("ct") - F.col("c"))).alias("mv"),
    )
    return (
        melted.groupBy("event_type", "horizon")
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.sum("mv").alias("_s"),
        )
        .select(
            "event_type",
            F.col("horizon").cast("int").alias("horizon"),
            "n_trades",
            _q(F.col("_s") / (F.col("n_trades") * 100.0), 10000).alias(
                "mean_markout"
            ),
        )
    )


@register(
    "q_markout",
    f"""
    WITH e AS (
      SELECT event_type, ts, event_id, {_CENTS} AS c FROM events
    ), d AS (
      SELECT *, CASE WHEN c - lag(c) OVER w > 0 THEN 1
                     WHEN c - lag(c) OVER w < 0 THEN -1 END AS s0
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), s AS (
      SELECT event_type, ts, event_id, c,
             last_value(s0 IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM d
    ), m AS (
      SELECT event_type, s,
             s * (lead(c, 1) OVER w - c) AS m1,
             s * (lead(c, 5) OVER w - c) AS m5,
             s * (lead(c, 20) OVER w - c) AS m20
      FROM s WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), stacked AS (
      SELECT event_type, 1 AS horizon, m1 AS mv FROM m WHERE s IS NOT NULL
      UNION ALL
      SELECT event_type, 5, m5 FROM m WHERE s IS NOT NULL
      UNION ALL
      SELECT event_type, 20, m20 FROM m WHERE s IS NOT NULL
    )
    SELECT event_type, CAST(horizon AS INT) AS horizon,
           CAST(count(*) AS BIGINT) AS n_trades,
           floor(CAST(sum(mv) AS BIGINT) / (count(*) * 100.0)
                 * 10000 + 0.5) / 10000 AS mean_markout
    FROM stacked WHERE mv IS NOT NULL
    GROUP BY event_type, horizon
    """,
    doc="Post-trade markouts per type at 1/5/20-event horizons: mean "
    "signed move AFTER a trade in its tick direction — the adverse-"
    "selection / execution-quality metric. Two-pass global row index "
    "+ horizon-exploded equi-join on (type, rn+h) instead of per-type "
    "lead windows over raw events; integer-sum means",
)
def q_markout(spark: SparkSession, sf_dir: str) -> DataFrame:
    return markouts(load(spark, sf_dir, "events"))


# -------------------------------------------- intraday flow imbalance

IMB_SCALE = 10**6


def imbalance_profile(events: DataFrame) -> DataFrame:
    """Intraday order-flow imbalance heatmap: tick-rule buy/sell volume
    per (event_type, hour-of-day) and the normalized imbalance
    (buy − sell)/(buy + sell) — where in the session the flow leans,
    the companion to q_seasonal_profile's count seasonality and the
    input to intraday execution scheduling.

    Signs come from the shared two-pass ``_tick_signed`` (no raw-event
    window); everything after is one partial-agged exchange to the
    |types|·24 grid. BIGINT volume sums; zero-volume cells pin the
    ratio to 0.0 on both engines (0/0 guard)."""
    qty = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(0)
    )
    signed = _tick_signed(events, {"q": qty}).filter(F.col("s").isNotNull())
    agg = signed.groupBy(
        "event_type", F.hour(F.col("ts").cast("timestamp")).alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.sum(F.when(F.col("s") > 0, F.col("q")).otherwise(0)).alias("buy"),
        F.sum(F.when(F.col("s") < 0, F.col("q")).otherwise(0)).alias("sell"),
    )
    vol = F.col("buy") + F.col("sell")
    return agg.select(
        "event_type",
        F.col("hr").cast("int").alias("hr"),
        "n_trades",
        "buy",
        "sell",
        F.when(vol == 0, F.lit(0.0))
        .otherwise(_q((F.col("buy") - F.col("sell")) / vol, IMB_SCALE))
        .alias("imbalance"),
    )


@register(
    "q_imbalance_profile",
    f"""
    WITH e AS (
      SELECT event_type, ts, event_id, {_CENTS} AS c,
             coalesce(json_extract_string(props, '$.k')::BIGINT, 0) AS q
      FROM events
    ), d AS (
      SELECT *, CASE WHEN c - lag(c) OVER w > 0 THEN 1
                     WHEN c - lag(c) OVER w < 0 THEN -1 END AS s0
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), s AS (
      SELECT event_type, ts, q,
             last_value(s0 IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM d
    ), agg AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
             CAST(count(*) AS BIGINT) AS n_trades,
             CAST(sum(CASE WHEN s > 0 THEN q ELSE 0 END) AS BIGINT) AS buy,
             CAST(sum(CASE WHEN s < 0 THEN q ELSE 0 END) AS BIGINT) AS sell
      FROM s WHERE s IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, hr, n_trades, buy, sell,
           CASE WHEN buy + sell = 0 THEN 0.0
                ELSE floor((buy - sell) * 1.0 / (buy + sell)
                           * {IMB_SCALE} + 0.5) / {IMB_SCALE}
           END AS imbalance
    FROM agg
    """,
    doc="Intraday flow-imbalance heatmap per (type, hour): tick-rule "
    "buy/sell volume and (buy−sell)/(buy+sell) — where the flow leans "
    "inside the session. Two-pass carried signs (no raw-event window), "
    "one exchange to the |types|x24 grid, BIGINT sums, 0-volume cells "
    "pinned 0.0",
)
def q_imbalance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return imbalance_profile(load(spark, sf_dir, "events"))
