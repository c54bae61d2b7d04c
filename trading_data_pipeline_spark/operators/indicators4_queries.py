"""Technical indicators, round-8 batch 11: the directional-movement /
volume-flow family over daily OHLCV bars.

Same contract as indicators_queries / indicators2 / indicators3 — the
reference's daily OHLC report (ref xetra_transformer.py:126-208) is
the input:

- **q_adx**: Wilder's DMI/ADX — +DM/−DM/TR are exact integer cents;
  the Wilder smoothing uses TRUNCATED (1−1/n)^i literal weights (the
  q_macd contract: Python-computed double literals injected into BOTH
  plans, no pow() in either engine; normalization cancels in the DI
  ratio), DX = 100·|DI+−DI−|/(DI++DI−), ADX = normalized truncated
  Wilder mean of DX. Full-history rows only.
- **q_ultimate_osc**: Ultimate Oscillator over 5/10/20-day frames
  (classic 7/14/28 scaled to the 30-day test calendar):
  BP = C − min(L, prevC) and TR = max(H, prevC) − min(L, prevC) are
  exact integers; UO = 100·(4·a₅ + 2·a₁₀ + a₂₀)/7 with each a = ΣBP/ΣTR
  a rational of integer frame sums.
- **q_keltner**: Keltner channels in the ORIGINAL Chester Keltner form
  (SMA of typical price ± SMA of range — no EMA recursion): everything
  on the integer 3·TP scale, one division per output.
- **q_force_index**: Elder's Force Index (ΔC · volume, exact BIGINT)
  + its 5-day SMA.
- **q_ease_of_movement**: Arms' EOM = (midpoint move × range / volume)
  per day + 5-day SMA — per-row rational of integers, frame mean as
  the single double chain.

Scale design: one (event_type, day) exchange builds the OHLCV bar
table (indicators3_queries._ohlcv); every window/frame then runs on
calendar-bounded rows (~10⁵× smaller than the stream at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import _BARS_SQL
from .indicators2_queries import sum_left
from .indicators3_queries import _ohlcv

ADX_N = 7  # classic 14 scaled to the 30-day test calendar
UO_F, UO_M, UO_S = 5, 10, 20  # classic 7/14/28 scaled
KELT_N = 10
FI_N = 5
EOM_N = 5
IND_SCALE = 10**4


def _wilder_weights(n: int) -> list[float]:
    """Truncated Wilder weights (1−1/n)^i, i = 0..n−1 — Python-computed
    double literals shared by both plans (the q_macd contract)."""
    out, w = [], 1.0
    for _ in range(n):
        out.append(w)
        w *= 1.0 - 1.0 / n
    return out


def _wsum_col(col: str, w: Window, weights: list[float]):
    """Un-normalized literal-weight dot product over trailing lags,
    left-to-right (identical fold order in both engines)."""
    s = F.lag(col, 0).over(w) * F.lit(weights[0])
    for i, wi in enumerate(weights[1:], 1):
        s = s + F.lag(col, i).over(w) * F.lit(wi)
    return s


def _wsum_sql(col: str, weights: list[float]) -> str:
    return " + ".join(
        f"lag({col}, {i}) OVER tw * {wi!r}" for i, wi in enumerate(weights)
    )


def _dmtr(events: DataFrame) -> DataFrame:
    """Bars + (pdm, ndm, tr) integer directional movement / true range;
    rows with a previous bar only; rn re-indexed over those rows."""
    w = Window.partitionBy("event_type").orderBy("day")
    b = (
        _ohlcv(events)
        .select(
            "event_type",
            "day",
            "h_c",
            "l_c",
            "c_c",
            F.lag("h_c").over(w).alias("ph"),
            F.lag("l_c").over(w).alias("pl"),
            F.lag("c_c").over(w).alias("pc"),
        )
        .filter(F.col("ph").isNotNull())
    )
    up = F.col("h_c") - F.col("ph")
    dn = F.col("pl") - F.col("l_c")
    pdm = F.when((up > dn) & (up > 0), up).otherwise(F.lit(0))
    ndm = F.when((dn > up) & (dn > 0), dn).otherwise(F.lit(0))
    tr = F.greatest(
        F.col("h_c") - F.col("l_c"),
        F.abs(F.col("h_c") - F.col("pc")),
        F.abs(F.col("l_c") - F.col("pc")),
    )
    return b.select(
        "event_type",
        "day",
        pdm.alias("pdm"),
        ndm.alias("ndm"),
        tr.alias("tr"),
        F.row_number().over(w).alias("rn"),
    )


_DMTR_SQL = f"""{_BARS_SQL}, pbars AS (
      SELECT event_type, day, h_c, l_c, c_c,
             lag(h_c) OVER (PARTITION BY event_type ORDER BY day) AS ph,
             lag(l_c) OVER (PARTITION BY event_type ORDER BY day) AS pl,
             lag(c_c) OVER (PARTITION BY event_type ORDER BY day) AS pc
      FROM bars
    ), dm AS (
      SELECT event_type, day,
             CASE WHEN h_c - ph > pl - l_c AND h_c - ph > 0
                  THEN h_c - ph ELSE 0 END AS pdm,
             CASE WHEN pl - l_c > h_c - ph AND pl - l_c > 0
                  THEN pl - l_c ELSE 0 END AS ndm,
             greatest(h_c - l_c, abs(h_c - pc), abs(l_c - pc)) AS tr,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS rn
      FROM pbars WHERE ph IS NOT NULL
    )"""


# ------------------------------------------------------------------ ADX


def adx(events: DataFrame, n: int = ADX_N) -> DataFrame:
    """DMI/ADX with truncated Wilder smoothing; rows with full DI and
    ADX history only (rn ≥ 2n)."""
    wts = _wilder_weights(n)
    tw = Window.partitionBy("event_type").orderBy("day")
    d = _dmtr(events)
    d = (
        d.withColumn("s_pdm", _wsum_col("pdm", tw, wts))
        .withColumn("s_ndm", _wsum_col("ndm", tw, wts))
        .withColumn("s_tr", F.nullif(_wsum_col("tr", tw, wts), F.lit(0.0)))
        .filter(F.col("rn") >= n)
    )
    di_p = 100.0 * F.col("s_pdm") / F.col("s_tr")
    di_n = 100.0 * F.col("s_ndm") / F.col("s_tr")
    # dx from the RAW smoothed sums (not from di_p/di_n): the oracle
    # computes 100*|s_pdm-s_ndm|/(s_pdm+s_ndm); the divide-by-s_tr form
    # is algebraically equal but differs by ulps, and both engines must
    # run the identical float chain for quantized-digit parity.
    dx = (
        100.0
        * F.abs(F.col("s_pdm") - F.col("s_ndm"))
        / F.nullif(F.col("s_pdm") + F.col("s_ndm"), F.lit(0.0))
    )
    d2 = d.select(
        "event_type",
        "day",
        "rn",
        di_p.alias("di_plus"),
        di_n.alias("di_minus"),
        dx.alias("dx"),
    )
    a = _wsum_col("dx", tw, wts) / F.lit(sum_left(wts))
    return (
        d2.withColumn("adx", a)
        .filter(F.col("rn") >= 2 * n - 1)
        .select(
            "event_type",
            "day",
            _q(F.col("di_plus"), IND_SCALE).alias("di_plus"),
            _q(F.col("di_minus"), IND_SCALE).alias("di_minus"),
            _q(F.col("dx"), IND_SCALE).alias("dx"),
            _q(F.col("adx"), IND_SCALE).alias("adx"),
        )
    )


def _adx_oracle(n: int) -> str:
    wts = _wilder_weights(n)
    return f"""
    WITH {_DMTR_SQL}, sm AS (
      SELECT event_type, day, rn,
             {_wsum_sql('pdm', wts)} AS s_pdm,
             {_wsum_sql('ndm', wts)} AS s_ndm,
             nullif({_wsum_sql('tr', wts)}, 0) AS s_tr
      FROM dm
      WINDOW tw AS (PARTITION BY event_type ORDER BY day)
    ), di AS (
      SELECT event_type, day, rn,
             100 * s_pdm / s_tr AS di_plus,
             100 * s_ndm / s_tr AS di_minus,
             100 * abs(s_pdm - s_ndm) / nullif(s_pdm + s_ndm, 0) AS dx
      FROM sm WHERE rn >= {n}
    ), ad AS (
      SELECT event_type, day, rn, di_plus, di_minus, dx,
             ({_wsum_sql('dx', wts)}) / {sum_left(wts)!r} AS adx
      FROM di
      WINDOW tw AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day,
           floor(di_plus * {IND_SCALE} + 0.5) / {IND_SCALE} AS di_plus,
           floor(di_minus * {IND_SCALE} + 0.5) / {IND_SCALE} AS di_minus,
           floor(dx * {IND_SCALE} + 0.5) / {IND_SCALE} AS dx,
           floor(adx * {IND_SCALE} + 0.5) / {IND_SCALE} AS adx
    FROM ad WHERE rn >= {2 * n - 1}
    """


@register(
    "q_adx",
    _adx_oracle(ADX_N),
    doc=f"Wilder DMI/ADX-{ADX_N}: integer-cent +DM/-DM/TR, truncated "
    "(1-1/n)^i literal-weight Wilder smoothing (q_macd contract, no "
    "pow in either engine), DX and its Wilder mean; calendar-bounded "
    "windows after one fact exchange",
)
def q_adx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return adx(load(spark, sf_dir, "events"))


# ---------------------------------------------------- Ultimate Oscillator


def ultimate_osc(
    events: DataFrame, f: int = UO_F, m: int = UO_M, s: int = UO_S
) -> DataFrame:
    """UO = 100·(4·a_f + 2·a_m + a_s)/7, a = ΣBP/ΣTR per frame."""
    w = Window.partitionBy("event_type").orderBy("day")
    b = (
        _ohlcv(events)
        .select(
            "event_type",
            "day",
            "h_c",
            "l_c",
            "c_c",
            F.lag("c_c").over(w).alias("pc"),
        )
        .filter(F.col("pc").isNotNull())
    )
    tl = F.least("l_c", "pc")
    th = F.greatest("h_c", "pc")
    d = b.select(
        "event_type",
        "day",
        (F.col("c_c") - tl).alias("bp"),
        (th - tl).alias("tr"),
        F.row_number().over(w).alias("rn"),
    )
    outc = []
    for tag, span in (("f", f), ("m", m), ("s", s)):
        wf = w.rowsBetween(-(span - 1), 0)
        d = d.withColumn(f"bp_{tag}", F.sum("bp").over(wf)).withColumn(
            f"tr_{tag}", F.sum("tr").over(wf)
        )
        outc.append(
            F.col(f"bp_{tag}")
            / F.nullif(F.col(f"tr_{tag}").cast("double"), F.lit(0.0))
        )
    uo = 100.0 * (4.0 * outc[0] + 2.0 * outc[1] + outc[2]) / 7.0
    return d.filter(F.col("rn") >= s).select(
        "event_type",
        "day",
        _q(outc[0] * 100.0, IND_SCALE).alias("avg_fast"),
        _q(outc[1] * 100.0, IND_SCALE).alias("avg_mid"),
        _q(outc[2] * 100.0, IND_SCALE).alias("avg_slow"),
        _q(uo, IND_SCALE).alias("uo"),
    )


@register(
    "q_ultimate_osc",
    f"""
    WITH {_BARS_SQL}, pb AS (
      SELECT event_type, day, h_c, l_c, c_c,
             lag(c_c) OVER (PARTITION BY event_type ORDER BY day) AS pc
      FROM bars
    ), d AS (
      SELECT event_type, day,
             c_c - least(l_c, pc) AS bp,
             greatest(h_c, pc) - least(l_c, pc) AS tr,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS rn
      FROM pb WHERE pc IS NOT NULL
    ), fr AS (
      SELECT event_type, day, rn,
             CAST(sum(bp) OVER wf AS BIGINT)
               / nullif(CAST(sum(tr) OVER wf AS DOUBLE), 0) AS af,
             CAST(sum(bp) OVER wm AS BIGINT)
               / nullif(CAST(sum(tr) OVER wm AS DOUBLE), 0) AS am,
             CAST(sum(bp) OVER ws AS BIGINT)
               / nullif(CAST(sum(tr) OVER ws AS DOUBLE), 0) AS asl
      FROM d
      WINDOW wf AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {UO_F - 1} PRECEDING AND CURRENT ROW),
             wm AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {UO_M - 1} PRECEDING AND CURRENT ROW),
             ws AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {UO_S - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           floor(af * 100 * {IND_SCALE} + 0.5) / {IND_SCALE} AS avg_fast,
           floor(am * 100 * {IND_SCALE} + 0.5) / {IND_SCALE} AS avg_mid,
           floor(asl * 100 * {IND_SCALE} + 0.5) / {IND_SCALE} AS avg_slow,
           floor(100 * (4 * af + 2 * am + asl) / 7 * {IND_SCALE} + 0.5)
             / {IND_SCALE} AS uo
    FROM fr WHERE rn >= {UO_S}
    """,
    doc=f"Ultimate Oscillator {UO_F}/{UO_M}/{UO_S} (classic 7/14/28 "
    "scaled to the 30-day calendar): integer BP/TR frame sums, "
    "weighted 4/2/1 blend, one division per frame",
)
def q_ultimate_osc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ultimate_osc(load(spark, sf_dir, "events"))


# -------------------------------------------------------------- Keltner


def keltner(events: DataFrame, n: int = KELT_N) -> DataFrame:
    """Original Keltner channels: SMA(TP) ± SMA(H−L) over n days —
    integer 3·TP scale, one division per output."""
    w = Window.partitionBy("event_type").orderBy("day")
    wf = w.rowsBetween(-(n - 1), 0)
    d = (
        _ohlcv(events)
        .withColumn(
            "tp3", F.col("h_c") + F.col("l_c") + F.col("c_c")
        )
        .withColumn("rng", F.col("h_c") - F.col("l_c"))
        .withColumn("s_tp3", F.sum("tp3").over(wf))
        .withColumn("s_rng", F.sum("rng").over(wf))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") >= n)
    )
    center = F.col("s_tp3") / (3.0 * n * 100.0)
    band = F.col("s_rng") / (n * 100.0)
    return d.select(
        "event_type",
        "day",
        (F.col("c_c") / 100.0).alias("close"),
        _q(center, IND_SCALE).alias("center"),
        _q(center + band, IND_SCALE).alias("upper"),
        _q(center - band, IND_SCALE).alias("lower"),
    )


@register(
    "q_keltner",
    f"""
    WITH {_BARS_SQL}, fr AS (
      SELECT event_type, day, c_c,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             CAST(sum(h_c + l_c + c_c) OVER f AS BIGINT) AS s_tp3,
             CAST(sum(h_c - l_c) OVER f AS BIGINT) AS s_rng
      FROM bars
      WINDOW f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {KELT_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, c_c / 100.0 AS close,
           floor(s_tp3 / (3.0 * {KELT_N} * 100.0) * {IND_SCALE} + 0.5)
             / {IND_SCALE} AS center,
           floor((s_tp3 / (3.0 * {KELT_N} * 100.0)
                  + s_rng / ({KELT_N} * 100.0)) * {IND_SCALE} + 0.5)
             / {IND_SCALE} AS upper,
           floor((s_tp3 / (3.0 * {KELT_N} * 100.0)
                  - s_rng / ({KELT_N} * 100.0)) * {IND_SCALE} + 0.5)
             / {IND_SCALE} AS lower
    FROM fr WHERE rn >= {KELT_N}
    """,
    doc=f"Keltner channels (original SMA form, {KELT_N}-day): "
    "SMA(typical price) +/- SMA(high-low range) — integer 3*TP scale, "
    "no EMA recursion, one division per output",
)
def q_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    return keltner(load(spark, sf_dir, "events"))


# ----------------------------------------------------------- Force Index


def force_index(events: DataFrame, n: int = FI_N) -> DataFrame:
    """Elder's Force Index ΔC·vol (exact BIGINT, cent·shares scale)
    + n-day SMA."""
    w = Window.partitionBy("event_type").orderBy("day")
    wf = w.rowsBetween(-(n - 1), 0)
    d = (
        _ohlcv(events)
        .withColumn("pc", F.lag("c_c").over(w))
        .filter(F.col("pc").isNotNull())
        .withColumn(
            "fi", (F.col("c_c") - F.col("pc")) * F.col("vol")
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("s_fi", F.sum("fi").over(wf))
        .filter(F.col("rn") >= n)
    )
    return d.select(
        "event_type",
        "day",
        (F.col("fi") / 100.0).alias("force_index"),
        _q(F.col("s_fi") / (100.0 * n), IND_SCALE).alias("fi_sma"),
    )


@register(
    "q_force_index",
    f"""
    WITH {_BARS_SQL}, pb AS (
      SELECT event_type, day, c_c, vol,
             lag(c_c) OVER (PARTITION BY event_type ORDER BY day) AS pc
      FROM bars
    ), d AS (
      SELECT event_type, day, (c_c - pc) * vol AS fi,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS rn
      FROM pb WHERE pc IS NOT NULL
    ), fr AS (
      SELECT event_type, day, fi, rn,
             CAST(sum(fi) OVER f AS BIGINT) AS s_fi
      FROM d
      WINDOW f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {FI_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, fi / 100.0 AS force_index,
           floor(s_fi / (100.0 * {FI_N}) * {IND_SCALE} + 0.5)
             / {IND_SCALE} AS fi_sma
    FROM fr WHERE rn >= {FI_N}
    """,
    doc=f"Elder Force Index (close-move x volume, exact BIGINT) + "
    f"{FI_N}-day SMA; dollar scale via one final /100 division",
)
def q_force_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return force_index(load(spark, sf_dir, "events"))


# ------------------------------------------------------ Ease of Movement


def ease_of_movement(events: DataFrame, n: int = EOM_N) -> DataFrame:
    """Arms' EOM: midpoint move × range / volume (per-row rational of
    integers, doubled-midpoint trick: dm2 = (H+L) − (prevH+prevL))."""
    w = Window.partitionBy("event_type").orderBy("day")
    wf = w.rowsBetween(-(n - 1), 0)
    d = (
        _ohlcv(events)
        .withColumn("ph", F.lag("h_c").over(w))
        .withColumn("pl", F.lag("l_c").over(w))
        .filter(F.col("ph").isNotNull() & (F.col("vol") > 0))
        .withColumn(
            "eom",
            (
                (F.col("h_c") + F.col("l_c") - F.col("ph") - F.col("pl"))
                * (F.col("h_c") - F.col("l_c"))
            ).cast("double")
            / (2.0 * 100.0 * 100.0 * F.col("vol")),
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("s_eom", F.sum("eom").over(wf))
        .filter(F.col("rn") >= n)
    )
    return d.select(
        "event_type",
        "day",
        _q(F.col("eom"), IND_SCALE).alias("eom"),
        _q(F.col("s_eom") / n, IND_SCALE).alias("eom_sma"),
    )


@register(
    "q_ease_of_movement",
    f"""
    WITH {_BARS_SQL}, pb AS (
      SELECT event_type, day, h_c, l_c, vol,
             lag(h_c) OVER (PARTITION BY event_type ORDER BY day) AS ph,
             lag(l_c) OVER (PARTITION BY event_type ORDER BY day) AS pl
      FROM bars
    ), d AS (
      SELECT event_type, day,
             CAST((h_c + l_c - ph - pl) * (h_c - l_c) AS DOUBLE)
               / (2.0 * 100.0 * 100.0 * vol) AS eom,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS rn
      FROM pb WHERE ph IS NOT NULL AND vol > 0
    ), fr AS (
      SELECT event_type, day, eom, rn, sum(eom) OVER f AS s_eom
      FROM d
      WINDOW f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {EOM_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           floor(eom * {IND_SCALE} + 0.5) / {IND_SCALE} AS eom,
           floor(s_eom / {EOM_N} * {IND_SCALE} + 0.5)
             / {IND_SCALE} AS eom_sma
    FROM fr WHERE rn >= {EOM_N}
    """,
    doc=f"Arms Ease-of-Movement (doubled-midpoint-move x range / "
    f"volume, dollar scale) + {EOM_N}-day SMA; per-row rational of "
    "integer cents, frame mean as the only accumulation",
)
def q_ease_of_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ease_of_movement(load(spark, sf_dir, "events"))
