"""Technical indicators, continued (round-8 batch 6): the range/flow
family over daily OHLCV bars.

Same contract as indicators_queries / indicators2_queries — the
reference's daily OHLC report (xetra_transformer.py:126-208) is the
input; these are the next indicators a consumer computes on it:

- **q_williams_r**: Williams %R — where the close sits inside the
  N-day high-low range, −100·(HH−C)/(HH−LL). Integer cents, one
  division, flat-range windows NULL.
- **q_aroon**: Aroon up/down — 100·(N − bars since the most recent
  N-bar high/low)/N. The "bars since" position comes from an
  integer-encoded (value, row-number) max/min over the frame
  (``h·2²⁰ + rn``), so the argmax is an exact integer window max with
  the most-recent-tie convention built into the encoding — no
  engine-specific arg_max tie rules.
- **q_cci**: Commodity Channel Index — (TP − SMA)/(0.015·MD) with
  TP = (H+L+C)/3. Everything stays on the integer 3·TP scale: the
  mean deviation MD is Σ|N·tp3_j − Σtp3| over the frame via an
  offset-exploded equi-join back to the bar table (the q_markout
  shape), so no float enters before the single final division chain.
- **q_vortex**: Vortex VI+/VI− — Σ|H−prev L| and Σ|L−prev H| over the
  N-day frame, each divided by ΣTR (the ATR true range). Pure integer
  sums, two divisions.
- **q_chaikin**: Accumulation/Distribution line + Chaikin Money Flow —
  CLV = ((C−L)−(H−C))/(H−L) fixed to integer micro-units with the sign
  split off, money-flow volume = CLV·volume, AD = running sum, CMF =
  N-day Σmfv/Σvol. BIGINT end-to-end, one division per output.
- **q_ichimoku**: Ichimoku components (tenkan/kijun/senkou A/B/chikou)
  as rolling high-low midpoints with the kijun-length displacement —
  all integer cent sums lagged/led as integers, divided once for
  display. Standard 9/26/52 spans scaled to the 30-day test calendar
  (5/10/15, displacement 10) the same way q_bollinger scales its 20.

Scale design: one (event_type, day) exchange builds the OHLCV bar
table; every window/frame and the CCI self-join then run on
calendar-bounded rows (~10⁵× smaller than the stream at 100 TB). The
Aroon encoding assumes prices < $88B (h·2²⁰ < 2⁶³) and < 2²⁰ bars per
type — both comfortable for a daily calendar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import _BARS_SQL, daily_ohlcv

WR_N = 14
AROON_N = 10
CCI_N = 10
VX_N = 14
CMF_N = 10
TENKAN, KIJUN, SENKOU_B, DISP = 5, 10, 15, 10
CLV_SCALE = 10**6
RN_BITS = 20  # Aroon (value, rn) encoding: code = value·2^20 + rn


def _ohlcv(events: DataFrame) -> DataFrame:
    """(event_type, day, o_c, h_c, l_c, c_c, vol, rn): integer-cent
    daily OHLCV + per-type day index — ONE fact-sized exchange."""
    wt = Window.partitionBy("event_type").orderBy("day")
    return daily_ohlcv(events).withColumn("rn", F.row_number().over(wt))


# ---------------------------------------------------------- Williams %R


def williams_r(events: DataFrame, n: int = WR_N) -> DataFrame:
    """%R = −100·(HH−C)/(HH−LL) over the n-bar high-low range; flat
    ranges NULL; full frames only."""
    wf = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        -(n - 1), 0
    )
    d = (
        _ohlcv(events)
        .withColumn("hh", F.max("h_c").over(wf))
        .withColumn("ll", F.min("l_c").over(wf))
        .filter(F.col("rn") >= n)
    )
    r = (
        F.lit(-100.0)
        * (F.col("hh") - F.col("c_c"))
        / F.nullif((F.col("hh") - F.col("ll")).cast("double"), F.lit(0.0))
    )
    return d.select(
        "event_type",
        "day",
        (F.col("c_c") / 100.0).alias("close"),
        (F.col("hh") / 100.0).alias("hh"),
        (F.col("ll") / 100.0).alias("ll"),
        _q(r, 10000).alias("williams_r"),
    )


@register(
    "q_williams_r",
    f"""
    WITH {_BARS_SQL}, fr AS (
      SELECT event_type, day, c_c,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             CAST(max(h_c) OVER f AS BIGINT) AS hh,
             CAST(min(l_c) OVER f AS BIGINT) AS ll
      FROM bars
      WINDOW f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {WR_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, c_c / 100.0 AS close,
           hh / 100.0 AS hh, ll / 100.0 AS ll,
           floor(-100.0 * (hh - c_c)
                 / nullif(CAST(hh - ll AS DOUBLE), 0.0) * 10000 + 0.5)
             / 10000 AS williams_r
    FROM fr WHERE rn >= {WR_N}
    """,
    doc=f"Williams %R-{WR_N}: close position inside the {WR_N}-day "
    "high-low range, -100*(HH-C)/(HH-LL) — integer cents, one "
    "division, flat-range windows NULL. Same one-exchange bar chain "
    "as q_atr",
)
def q_williams_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    return williams_r(load(spark, sf_dir, "events"))


# --------------------------------------------------------------- Aroon


def aroon(events: DataFrame, n: int = AROON_N) -> DataFrame:
    """Aroon up/down: 100·(n − bars since the most recent n-bar
    high/low)/n via integer (value, rn) encodings — max picks the
    most recent equal extreme deterministically."""
    wf = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        -(n - 1), 0
    )
    enc_h = F.col("h_c") * (1 << RN_BITS) + F.col("rn")
    # low: encode the NEGATED value (biased positive so the % decode
    # never sees a negative dividend — truncated modulo would corrupt
    # it) so max() finds the minimum; rn still breaks ties toward the
    # most recent bar
    enc_l = (F.lit(1 << 42) - F.col("l_c")) * (1 << RN_BITS) + F.col("rn")
    d = (
        _ohlcv(events)
        .withColumn("code_h", F.max(enc_h).over(wf))
        .withColumn("code_l", F.max(enc_l).over(wf))
        .filter(F.col("rn") >= n)
    )
    rn_h = F.col("code_h") % (1 << RN_BITS)
    rn_l = F.col("code_l") % (1 << RN_BITS)
    up = (F.lit(n) - (F.col("rn") - rn_h)) * F.lit(100.0) / F.lit(n)
    dn = (F.lit(n) - (F.col("rn") - rn_l)) * F.lit(100.0) / F.lit(n)
    return d.select(
        "event_type",
        "day",
        (F.col("rn") - rn_h).cast("long").alias("bars_since_high"),
        (F.col("rn") - rn_l).cast("long").alias("bars_since_low"),
        _q(up, 100).alias("aroon_up"),
        _q(dn, 100).alias("aroon_down"),
    )


@register(
    "q_aroon",
    f"""
    WITH {_BARS_SQL}, nbars AS (
      SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM bars
    ), enc AS (
      SELECT event_type, day, rn,
             CAST(max(h_c * {1 << RN_BITS} + rn) OVER f AS BIGINT)
               AS code_h,
             CAST(max(({1 << 42} - l_c) * {1 << RN_BITS} + rn) OVER f
                  AS BIGINT) AS code_l
      FROM nbars
      WINDOW f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {AROON_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           CAST(rn - code_h % {1 << RN_BITS} AS BIGINT)
             AS bars_since_high,
           CAST(rn - code_l % {1 << RN_BITS} AS BIGINT)
             AS bars_since_low,
           floor(({AROON_N} - (rn - code_h % {1 << RN_BITS})) * 100.0
                 / {AROON_N} * 100 + 0.5) / 100 AS aroon_up,
           floor(({AROON_N} - (rn - code_l % {1 << RN_BITS})) * 100.0
                 / {AROON_N} * 100 + 0.5) / 100 AS aroon_down
    FROM enc WHERE rn >= {AROON_N}
    """,
    doc=f"Aroon-{AROON_N} up/down: bars since the most recent "
    f"{AROON_N}-bar high/low as 100*(N-since)/N — the argmax is an "
    "integer-encoded (value, rn) window max, so tie-break (most "
    "recent extreme) is engine-exact by construction",
)
def q_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    return aroon(load(spark, sf_dir, "events"))


# ----------------------------------------------------------------- CCI


def cci(events: DataFrame, n: int = CCI_N) -> DataFrame:
    """CCI-n on the integer 3·TP scale: SMA via a frame sum, mean
    deviation via an offset-exploded equi-join back to the bar table
    (Σ|n·tp3_j − Σtp3|) — no float before the final division."""
    wf = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        -(n - 1), 0
    )
    bars = _ohlcv(events).withColumn(
        "tp3", F.col("h_c") + F.col("l_c") + F.col("c_c")
    )
    anchors = (
        bars.withColumn("sum3", F.sum("tp3").over(wf))
        .filter(F.col("rn") >= n)
        .select(
            "event_type",
            F.col("day").alias("a_day"),
            F.col("rn").alias("a_rn"),
            F.col("tp3").alias("a_tp3"),
            "sum3",
        )
        .withColumn("off", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
        .withColumn("j_rn", F.col("a_rn") - F.col("off"))
    )
    joined = anchors.join(
        bars.select("event_type", F.col("rn").alias("j_rn"), "tp3"),
        ["event_type", "j_rn"],
    )
    md = joined.groupBy("event_type", "a_day", "a_tp3", "sum3").agg(
        F.sum(F.abs(F.lit(n) * F.col("tp3") - F.col("sum3"))).alias("md_n")
    )
    # CCI = (tp−sma)/(0.015·MD) on the 3·TP integer scale:
    # (n·tp3 − sum3)·(4000/3)/md_n with md_n = Σ|n·tp3_j − sum3|
    val = (
        (F.lit(n) * F.col("a_tp3") - F.col("sum3"))
        * F.lit(4000.0)
        / (F.lit(3.0) * F.nullif(F.col("md_n").cast("double"), F.lit(0.0)))
    )
    return md.select(
        "event_type",
        F.col("a_day").alias("day"),
        (F.col("a_tp3") / 300.0).alias("typical_price"),
        _q(val, 10000).alias("cci"),
    )


@register(
    "q_cci",
    f"""
    WITH {_BARS_SQL}, tp AS (
      SELECT event_type, day,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             h_c + l_c + c_c AS tp3
      FROM bars
    ), anch AS (
      SELECT event_type, day AS a_day, rn AS a_rn, tp3 AS a_tp3,
             CAST(sum(tp3) OVER f AS BIGINT) AS sum3
      FROM tp
      WINDOW f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {CCI_N - 1} PRECEDING AND CURRENT ROW)
    ), md AS (
      SELECT a.event_type, a.a_day, a.a_tp3, a.sum3,
             CAST(sum(abs({CCI_N} * j.tp3 - a.sum3)) AS BIGINT) AS md_n
      FROM anch a JOIN tp j
        ON j.event_type = a.event_type
       AND j.rn BETWEEN a.a_rn - {CCI_N - 1} AND a.a_rn
      WHERE a.a_rn >= {CCI_N}
      GROUP BY a.event_type, a.a_day, a.a_tp3, a.sum3
    )
    SELECT event_type, a_day AS day,
           a_tp3 / 300.0 AS typical_price,
           floor(({CCI_N} * a_tp3 - sum3) * 4000.0
                 / (3.0 * nullif(CAST(md_n AS DOUBLE), 0.0)) * 10000
                 + 0.5) / 10000 AS cci
    FROM md
    """,
    doc=f"CCI-{CCI_N}: (typical price - SMA)/(0.015 * mean deviation) "
    "kept on the integer 3*TP scale end-to-end — SMA from a frame "
    "sum, mean deviation via an offset-exploded equi-join over the "
    "calendar-bounded bar table, one final division chain",
)
def q_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cci(load(spark, sf_dir, "events"))


# -------------------------------------------------------------- Vortex


def vortex(events: DataFrame, n: int = VX_N) -> DataFrame:
    """Vortex VI+/VI−: Σ|H−prev L| / ΣTR and Σ|L−prev H| / ΣTR over an
    n-bar frame — integer sums, two divisions; needs a previous bar."""
    wp = Window.partitionBy("event_type").orderBy("day")
    wf = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        -(n - 1), 0
    )
    prev_c = F.lag("c_c").over(wp)
    prev_h = F.lag("h_c").over(wp)
    prev_l = F.lag("l_c").over(wp)
    tr = F.greatest(
        F.col("h_c") - F.col("l_c"),
        F.abs(F.col("h_c") - prev_c),
        F.abs(F.col("l_c") - prev_c),
    )
    d = (
        _ohlcv(events)
        .withColumn("vmp", F.abs(F.col("h_c") - prev_l))
        .withColumn("vmm", F.abs(F.col("l_c") - prev_h))
        .withColumn("tr", tr)
        .filter(F.col("rn") >= 2)
        .withColumn("s_vmp", F.sum("vmp").over(wf))
        .withColumn("s_vmm", F.sum("vmm").over(wf))
        .withColumn("s_tr", F.sum("tr").over(wf))
        .withColumn("k", F.count(F.lit(1)).over(wf))
        .filter(F.col("k") == n)
    )
    s_tr = F.nullif(F.col("s_tr").cast("double"), F.lit(0.0))
    return d.select(
        "event_type",
        "day",
        _q(F.col("s_vmp") / s_tr, 10000).alias("vi_plus"),
        _q(F.col("s_vmm") / s_tr, 10000).alias("vi_minus"),
    )


@register(
    "q_vortex",
    f"""
    WITH {_BARS_SQL}, vm AS (
      SELECT event_type, day, row_number() OVER pw AS rn,
             abs(h_c - lag(l_c) OVER pw) AS vmp,
             abs(l_c - lag(h_c) OVER pw) AS vmm,
             greatest(h_c - l_c,
                      abs(h_c - lag(c_c) OVER pw),
                      abs(l_c - lag(c_c) OVER pw)) AS tr
      FROM bars
      WINDOW pw AS (PARTITION BY event_type ORDER BY day)
    ), s AS (
      SELECT event_type, day,
             CAST(sum(vmp) OVER f AS BIGINT) AS s_vmp,
             CAST(sum(vmm) OVER f AS BIGINT) AS s_vmm,
             CAST(sum(tr) OVER f AS BIGINT) AS s_tr,
             count(*) OVER f AS k
      FROM vm WHERE rn >= 2
      WINDOW f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {VX_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           floor(s_vmp / nullif(CAST(s_tr AS DOUBLE), 0.0) * 10000 + 0.5)
             / 10000 AS vi_plus,
           floor(s_vmm / nullif(CAST(s_tr AS DOUBLE), 0.0) * 10000 + 0.5)
             / 10000 AS vi_minus
    FROM s WHERE k = {VX_N}
    """,
    doc=f"Vortex VI+/VI- over {VX_N} bars: directional movement "
    "|H - prev L| vs |L - prev H| each normalized by the true-range "
    "sum — exact integer sums, two divisions; the trend-reversal "
    "crossover indicator",
)
def q_vortex(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vortex(load(spark, sf_dir, "events"))


# ------------------------------------------------- Chaikin A/D + CMF


def chaikin(events: DataFrame, n: int = CMF_N) -> DataFrame:
    """A/D line + CMF-n: CLV fixed to integer micro-units with the sign
    split off (truncating division on non-negative operands), money-flow
    volume = CLV·vol, AD = running sum, CMF = frame Σmfv/Σvol."""
    num = 2 * F.col("c_c") - F.col("h_c") - F.col("l_c")
    clv_fx = F.when(F.col("h_c") > F.col("l_c"), (
        F.when(num >= 0, F.lit(1)).otherwise(F.lit(-1)).cast("long")
        * F.expr(
            f"abs(2 * c_c - h_c - l_c) * {CLV_SCALE} DIV (h_c - l_c)"
        )
    )).otherwise(F.lit(0))
    wr = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        -(n - 1), 0
    )
    d = (
        _ohlcv(events)
        .withColumn("mfv", clv_fx * F.col("vol"))
        .withColumn("ad_fx", F.sum("mfv").over(wr))
        .withColumn("s_mfv", F.sum("mfv").over(wf))
        .withColumn("s_vol", F.sum("vol").over(wf))
        .filter(F.col("rn") >= n)
    )
    cmf = F.col("s_mfv") / (
        F.lit(CLV_SCALE)
        * F.nullif(F.col("s_vol").cast("double"), F.lit(0.0))
    )
    return d.select(
        "event_type",
        "day",
        _q(F.col("ad_fx") / F.lit(float(CLV_SCALE)), 10000).alias("ad_line"),
        _q(cmf, 10000).alias("cmf"),
    )


@register(
    "q_chaikin",
    f"""
    WITH {_BARS_SQL}, clv AS (
      SELECT event_type, day, vol,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             CASE WHEN h_c > l_c THEN
               (CASE WHEN 2 * c_c - h_c - l_c >= 0 THEN 1 ELSE -1 END)
               * (abs(2 * c_c - h_c - l_c) * {CLV_SCALE} // (h_c - l_c))
             ELSE 0 END * vol AS mfv
      FROM bars
    ), s AS (
      SELECT event_type, day, rn,
             CAST(sum(mfv) OVER r AS BIGINT) AS ad_fx,
             CAST(sum(mfv) OVER f AS BIGINT) AS s_mfv,
             CAST(sum(vol) OVER f AS BIGINT) AS s_vol
      FROM clv
      WINDOW r AS (PARTITION BY event_type ORDER BY day
                   ROWS UNBOUNDED PRECEDING),
             f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {CMF_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           floor(ad_fx / {CLV_SCALE}.0 * 10000 + 0.5) / 10000 AS ad_line,
           floor(s_mfv / ({CLV_SCALE} * nullif(CAST(s_vol AS DOUBLE), 0.0))
                 * 10000 + 0.5) / 10000 AS cmf
    FROM s WHERE rn >= {CMF_N}
    """,
    doc=f"Chaikin A/D line + {CMF_N}-day Chaikin Money Flow: close "
    "location value fixed to integer micro-units (sign split off the "
    "truncating division), money-flow volume summed as BIGINTs — the "
    "volume-flow confirmation indicator; one division per output",
)
def q_chaikin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chaikin(load(spark, sf_dir, "events"))


# ------------------------------------------------------------ Ichimoku


def ichimoku(events: DataFrame) -> DataFrame:
    """Ichimoku components as integer midpoint sums lagged/led as
    integers and divided once for display: tenkan/kijun high-low
    midpoints, senkou A/B displaced forward by the kijun span, chikou
    the close led back. Full tenkan..senkou_B frames only; chikou NULL
    on the last DISP days."""
    w = Window.partitionBy("event_type").orderBy("day")

    def hl2(n: int) -> F.Column:
        f = w.rowsBetween(-(n - 1), 0)
        return F.max("h_c").over(f) + F.min("l_c").over(f)

    d = (
        _ohlcv(events)
        .withColumn("tenkan2", hl2(TENKAN))
        .withColumn("kijun2", hl2(KIJUN))
        .withColumn("senkou_b2_raw", hl2(SENKOU_B))
        .withColumn(
            "senkou_a4", F.lag(F.col("tenkan2") + F.col("kijun2"), DISP).over(w)
        )
        .withColumn("senkou_b2", F.lag("senkou_b2_raw", DISP).over(w))
        .withColumn("chikou_c", F.lead("c_c", DISP).over(w))
        .filter(F.col("rn") >= SENKOU_B + DISP)
    )
    return d.select(
        "event_type",
        "day",
        (F.col("c_c") / 100.0).alias("close"),
        (F.col("tenkan2") / 200.0).alias("tenkan"),
        (F.col("kijun2") / 200.0).alias("kijun"),
        (F.col("senkou_a4") / 400.0).alias("senkou_a"),
        (F.col("senkou_b2") / 200.0).alias("senkou_b"),
        (F.col("chikou_c") / 100.0).alias("chikou"),
    )


@register(
    "q_ichimoku",
    f"""
    WITH {_BARS_SQL}, mids AS (
      SELECT event_type, day, c_c,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             CAST(max(h_c) OVER t + min(l_c) OVER t AS BIGINT) AS tenkan2,
             CAST(max(h_c) OVER k + min(l_c) OVER k AS BIGINT) AS kijun2,
             CAST(max(h_c) OVER s + min(l_c) OVER s AS BIGINT) AS sb2raw
      FROM bars
      WINDOW t AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {TENKAN - 1} PRECEDING AND CURRENT ROW),
             k AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {KIJUN - 1} PRECEDING AND CURRENT ROW),
             s AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {SENKOU_B - 1} PRECEDING AND CURRENT ROW)
    ), shifted AS (
      SELECT event_type, day, rn, c_c, tenkan2, kijun2,
             lag(tenkan2 + kijun2, {DISP}) OVER pw AS senkou_a4,
             lag(sb2raw, {DISP}) OVER pw AS senkou_b2,
             lead(c_c, {DISP}) OVER pw AS chikou_c
      FROM mids
      WINDOW pw AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, c_c / 100.0 AS close,
           tenkan2 / 200.0 AS tenkan, kijun2 / 200.0 AS kijun,
           senkou_a4 / 400.0 AS senkou_a, senkou_b2 / 200.0 AS senkou_b,
           chikou_c / 100.0 AS chikou
    FROM shifted WHERE rn >= {SENKOU_B + DISP}
    """,
    doc=f"Ichimoku components (tenkan {TENKAN}/kijun {KIJUN}/senkou B "
    f"{SENKOU_B}, displacement {DISP} — standard 9/26/52 scaled to the "
    "test calendar): rolling high-low midpoints kept as integer sums, "
    "lagged/led as integers, one display division each; chikou NULL on "
    "the trailing days",
)
def q_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ichimoku(load(spark, sf_dir, "events"))
