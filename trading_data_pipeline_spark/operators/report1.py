"""The flagship report1 OHLC pipeline, Spark-first.

Reference semantics (xetra/transformers/xetra_transformer.py:127-208), in
pipeline order — SURVEY.md §2.b/§2.c rows 9-20:

1.  project configured source columns        (:144-145)
2.  drop rows with any null                  (:146-147)
3.  opening price  = FIRST(StartPrice) over (ISIN, Date) ordered by Time (:148-155)
4.  closing price  = LAST(StartPrice)  over (ISIN, Date) ordered by Time (:156-163)
5.  rename price/volume columns to target names (:164-172)
6.  groupBy (ISIN, Date): min(open), min(close), min(MinPrice),
    max(MaxPrice), sum(TradedVolume)         (:173-185)
7.  prev-day **opening** price via LAG over ISIN ordered by Date (:186-192 —
    the code shifts the opening column despite the "closing" comment; golden
    outputs at tests/transformers/test_xetra_transformer.py:252-256 pin
    opening-vs-opening: (20.58-20.21)/20.21*100 = 1.83)
8.  pct change = (open - prev_open)/prev_open * 100 (:193-200)
9.  round all numeric columns to 2 decimals  (:201-202)
10. keep rows with Date >= extract_date      (:203-206) — the warm-up
    previous day exists only to seed the LAG. The reference hardcodes the
    ``.Date`` attribute here; we use the configured column name (documented
    divergence, SURVEY.md §7 risk register).

Spark execution notes (100 TB design):
- Steps 3, 4 and 6 are one call to ``bars.ohlc``, the package's only bar
  definition; its docstring carries the exactness argument (first/last
  over an unbounded ROWS frame, folded by ``min``). Its window exchange on
  (ISIN, Date) is reused by the aggregation, so the whole report needs
  exactly two shuffles: that one and one over (ISIN) for the LAG —
  tests/test_plans.py pins the count.
- Determinism: ties on the order key are broken by ``tiebreak_cols`` (the
  reference inherits pandas stable file order, which is not reproducible on
  a distributed engine; fixtures have unique times so goldens are unaffected).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import SourceConfig, TargetConfig
from .bars import ohlc


def transform_report1(
    df: DataFrame,
    src: SourceConfig,
    trg: TargetConfig,
    extract_date: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Pure DataFrame→DataFrame port of XetraETL.transform_report1.

    ``extract_date``: ISO date string; rows strictly before it are dropped
    from the output (they only seed the LAG), ref :203-206.

    Lazy throughout: an empty input yields an empty, report-shaped frame
    (ref :136-140 short-circuits with an ``isEmpty()`` probe instead, which
    here would scan the CSVs once more before the write).
    """
    if not df.columns:
        return df

    agg = ohlc(
        df.select(*src.src_columns).na.drop("any"),
        [src.src_col_isin, src.src_col_date],
        [src.src_col_time, *(tiebreak_cols or [])],
        src.src_col_start_price,
        F.sum(src.src_col_traded_vol).alias(trg.trg_col_dail_trad_vol),
        low=src.src_col_min_price,
        high=src.src_col_max_price,
    ).withColumnsRenamed(
        {
            "open": trg.trg_col_op_price,
            "close": trg.trg_col_clos_price,
            "low": trg.trg_col_min_price,
            "high": trg.trg_col_max_price,
        }
    )

    lag_w = Window.partitionBy(src.src_col_isin).orderBy(src.src_col_date)
    prev_open = F.lag(trg.trg_col_op_price).over(lag_w)
    # zero/null prev → NULL (ANSI-safe; identical to the oracle's x/0→NULL)
    pct = F.when(
        prev_open != 0, (F.col(trg.trg_col_op_price) - prev_open) / prev_open * 100
    )

    numeric = {
        trg.trg_col_op_price, trg.trg_col_clos_price,
        trg.trg_col_min_price, trg.trg_col_max_price,
    }

    def out(c: str) -> Column:
        # ref :201-202 — df.round(2) rounds every numeric column; volumes are
        # integral so rounding is a no-op on them, mirrored exactly.
        return F.round(c, 2).alias(c) if c in numeric else F.col(c)

    return (
        agg.withColumn(trg.trg_col_ch_prev_clos, pct)
        .select(
            src.src_col_isin,
            src.src_col_date,
            *(out(c) for c in (
                trg.trg_col_op_price, trg.trg_col_clos_price,
                trg.trg_col_min_price, trg.trg_col_max_price,
                trg.trg_col_dail_trad_vol,
            )),
            F.round(trg.trg_col_ch_prev_clos, 2).alias(trg.trg_col_ch_prev_clos),
        )
        .filter(F.col(src.src_col_date) >= F.lit(extract_date))
    )


# --- flagship adaptation to the driver's synthetic `events` table ----------
# events(event_id long, ts timestamp, user_id long, event_type string,
#        value double, props string) maps onto the Xetra trade shape:
# user_id→ISIN, to_date(ts)→Date, ts→Time order key, value→StartPrice,
# count(*)→volume surrogate (FIXTURES.md §5).

def report1_events(events: DataFrame) -> DataFrame:
    """Per-(user_id, day) OHLC + day-over-day opening pct change.

    The same ``bars.ohlc`` bar as transform_report1 (two shuffles: window
    over (user_id, date) reused by the groupBy; LAG over (user_id)); order
    ties broken deterministically by event_id.
    """
    agg = ohlc(
        events.withColumn("date", F.to_date("ts")),
        ["user_id", "date"],
        ["ts", "event_id"],
        "value",
        F.count(F.lit(1)).alias("traded_volume"),
    )
    lag_w = Window.partitionBy("user_id").orderBy("date")
    prev_open = F.lag("open").over(lag_w)
    return agg.select(
        "user_id",
        "date",
        F.round("open", 2).alias("opening_price"),
        F.round("close", 2).alias("closing_price"),
        F.round("low", 2).alias("minimum_price"),
        F.round("high", 2).alias("maximum_price"),
        F.col("traded_volume"),
        F.round(
            F.when(prev_open != 0, (F.col("open") - prev_open) / prev_open * 100),
            2,
        ).alias("change_prev_pct"),
    )


REPORT1_EVENTS_ORACLE = """
WITH base AS (
  SELECT user_id, CAST(ts AS DATE) AS date, value,
         first_value(value) OVER w AS opening,
         last_value(value)  OVER w AS closing
  FROM events
  WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
agg AS (
  SELECT user_id, date,
         min(opening) AS opening_price,
         min(closing) AS closing_price,
         min(value)   AS minimum_price,
         max(value)   AS maximum_price,
         count(*)     AS traded_volume
  FROM base GROUP BY user_id, date
)
SELECT user_id, date,
       round(opening_price, 2) AS opening_price,
       round(closing_price, 2) AS closing_price,
       round(minimum_price, 2) AS minimum_price,
       round(maximum_price, 2) AS maximum_price,
       traded_volume,
       round((opening_price - lag(opening_price) OVER w2)
             / lag(opening_price) OVER w2 * 100, 2) AS change_prev_pct
FROM agg
WINDOW w2 AS (PARTITION BY user_id ORDER BY date)
"""
