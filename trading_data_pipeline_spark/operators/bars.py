"""Bars: the one definition of open/high/low/close in the package.

The reference's whole computation is the per-instrument, per-day bar
(xetra_transformer.py:148-185): open = first StartPrice by Time, close =
last StartPrice by Time, min, max, summed volume. Every bar in the
package — the Report1 ETL, q_report1, the daily bars the indicator, risk
and microstructure queries run on, and dollar bars — is built by
:func:`ohlc` below.

The daily bar is defined once per engine, here, and the two definitions
make the same three decisions: prices are fixed to integer cents
(:func:`cents`, SQL ``_CENTS``) before any bar arithmetic, so every
comparison and sum over bars is exact; open/close are the first/last
price in (ts, event_id) order, NULL when that row's price is NULL; vol
is the sum of ``coalesce(props.$.k, 0)``. Consumers may rely on these
columns, and on no other:

- :func:`daily_ohlcv` / ``_BARS_SQL``'s ``bars``:
  (event_type, day, o_c, h_c, l_c, c_c, vol);
- :func:`daily_bars` / ``moves``: (event_type, day, c_c, vol, dc, prev_c),
  where ``dc`` is the close change from the type's previous day;
- :func:`daily_moves` / ``_MOVES_SQL``'s ``mv``: (event_type, day, x, vol),
  the rows with a previous day.

Every DuckDB oracle that needs a daily bar starts ``WITH {_BARS_SQL}, …``
or ``WITH {_MOVES_SQL}, …`` (tests/test_bars.py checks both that no
oracle writes its own and that the two engines agree row for row).

Left on other forms, each for a reason:
- ``trading_queries.bar_aggs`` uses ``min_by``/``max_by``: it is shared
  verbatim with the streaming ``F.window`` aggregation, and streaming
  cannot run window functions.
- the ``min_by`` opens/closes in ``microstructure_queries`` are fused
  with other per-day aggregates in one pass.
- the ``_ohlc_frame`` micro-queries in ``report1_queries`` exist to
  exercise the window operator itself.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pandas as pd

_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"

# The daily bar, DuckDB side: ``bars`` is :func:`daily_ohlcv`, ``moves``
# is :func:`daily_bars`.
_BARS_SQL = f"""
    e AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
             {_CENTS} AS cents,
             coalesce(json_extract_string(props, '$.k')::BIGINT, 0) AS q
      FROM events
    ), w AS (
      SELECT *,
             first_value(cents) OVER d AS o,
             last_value(cents) OVER d AS c
      FROM e
      WINDOW d AS (PARTITION BY event_type, day ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ), bars AS (
      SELECT event_type, day,
             min(o) AS o_c, max(cents) AS h_c,
             min(cents) AS l_c, min(c) AS c_c,
             CAST(sum(q) AS BIGINT) AS vol
      FROM w GROUP BY event_type, day
    ), moves AS (
      SELECT event_type, day, c_c, vol,
             c_c - lag(c_c) OVER (PARTITION BY event_type ORDER BY day)
               AS dc,
             lag(c_c) OVER (PARTITION BY event_type ORDER BY day)
               AS prev_c
      FROM bars
    )
"""

# ``mv`` is :func:`daily_moves`.
_MOVES_SQL = f"""{_BARS_SQL}, mv AS (
      SELECT event_type, day, dc AS x, vol FROM moves
      WHERE dc IS NOT NULL
    )"""


def cents(col: str = "value") -> Column:
    """Integer cents ``floor(v·100 + 0.5)::long`` (SQL twin: ``_CENTS``;
    pandas twin, for the streams: :func:`pandas_cents`)."""
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


def pandas_cents(values: pd.Series) -> pd.Series:
    """:func:`cents` for a pandas float column: ``Int64``, NULL kept as
    ``<NA>``. Arrow hands a NULL double to pandas as NaN, so NaN is NULL
    here."""
    import numpy as np

    return np.floor(values * 100 + 0.5).astype("Int64")


def ohlc(
    df: DataFrame,
    keys: list[str],
    order: list[str],
    price: str,
    *aggs: Column,
    low: str | None = None,
    high: str | None = None,
) -> DataFrame:
    """One bar per ``keys`` group: ``keys + (open, high, low, close, *aggs)``.

    open/close are ``first``/``last`` of ``price`` over a ROWS UNBOUNDED
    frame partitioned by ``keys`` and ordered by ``order``; one
    ``groupBy(keys)`` then folds them with ``min`` next to
    ``max(high or price)``, ``min(low or price)`` and ``aggs``. The
    window's exchange on ``keys`` is reused by the groupBy, so a bar
    costs one shuffle.

    Exactness: the window value is constant within a group, and ``min``
    of a constant returns it, so open/close are exactly the first/last
    row's price. The result is deterministic only if ``order`` is unique
    within a group — callers append ``event_id`` or tie-break columns.
    A NULL price in the first (last) row gives a NULL open (close), as
    DuckDB's ``first_value``/``last_value`` do. Catalyst prunes the
    outputs a caller never reads, window functions and aggregates alike.
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        df.withColumns(
            {"_open": F.first(price).over(w), "_close": F.last(price).over(w)}
        )
        .groupBy(*keys)
        .agg(
            F.min("_open").alias("open"),
            F.max(high or price).alias("high"),
            F.min(low or price).alias("low"),
            F.min("_close").alias("close"),
            *aggs,
        )
    )


def daily_ohlcv(events: DataFrame) -> DataFrame:
    """(event_type, day, o_c, h_c, l_c, c_c, vol): integer-cent daily bar
    of ``events`` in (ts, event_id) order, vol = Σ coalesce(props.$.k, 0)
    — ONE (event_type, day) exchange."""
    qty = F.coalesce(F.get_json_object("props", "$.k").cast("long"), F.lit(0))
    day = events.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        cents().alias("cents"),
        qty.alias("q"),
    )
    return ohlc(
        day, ["event_type", "day"], ["ts", "event_id"], "cents",
        F.sum("q").alias("vol"),
    ).withColumnsRenamed(
        {"open": "o_c", "high": "h_c", "low": "l_c", "close": "c_c"}
    )


def daily_bars(events: DataFrame) -> DataFrame:
    """(event_type, day, c_c, vol, dc, prev_c): daily close and volume
    plus the day-over-day close change — :func:`daily_ohlcv`, then a
    per-type window (SQL twin: ``_BARS_SQL``'s ``moves``)."""
    wt = Window.partitionBy("event_type").orderBy("day")
    return daily_ohlcv(events).select(
        "event_type",
        "day",
        "c_c",
        "vol",
        (F.col("c_c") - F.lag("c_c").over(wt)).alias("dc"),
        F.lag("c_c").over(wt).alias("prev_c"),
    )


def daily_moves(events: DataFrame) -> DataFrame:
    """(event_type, day, x, vol): integer-cent daily close moves, the
    first day of each type (no previous close) dropped."""
    return (
        daily_bars(events)
        .filter(F.col("dc").isNotNull())
        .select("event_type", "day", F.col("dc").alias("x"), "vol")
    )
