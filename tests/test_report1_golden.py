"""Golden-frame test for the report1 transform — ports the reference's
pinned 9-row → 3-row case (tests/transformers/test_xetra_transformer.py:
113-213 input, :252-256 expected) with order-insensitive comparison.
"""

from __future__ import annotations

import pytest

from trading_data_pipeline_spark.config import SourceConfig, TargetConfig
from trading_data_pipeline_spark.operators.report1 import transform_report1

SRC_COLUMNS = [
    "ISIN", "Mnemonic", "Date", "Time",
    "StartPrice", "EndPrice", "MinPrice", "MaxPrice", "TradedVolume",
]

# (ISIN, Mnemonic, Date, Time, StartPrice, EndPrice, MinPrice, MaxPrice, Vol)
FIXTURE_ROWS = [
    ("AT0000A0E9W5", "SANT", "2021-04-15", "12:00", 20.19, 18.45, 18.20, 20.33, 877),
    ("AT0000A0E9W5", "SANT", "2021-04-16", "15:00", 18.27, 21.19, 18.27, 21.34, 987),
    ("AT0000A0E9W5", "SANT", "2021-04-17", "13:00", 20.21, 18.27, 18.21, 20.42, 633),
    ("AT0000A0E9W5", "SANT", "2021-04-17", "14:00", 18.27, 21.19, 18.27, 21.34, 455),
    ("AT0000A0E9W5", "SANT", "2021-04-18", "07:00", 20.58, 19.27, 18.89, 20.58, 9066),
    ("AT0000A0E9W5", "SANT", "2021-04-18", "08:00", 19.27, 21.14, 19.27, 21.14, 1220),
    ("AT0000A0E9W5", "SANT", "2021-04-19", "07:00", 23.58, 23.58, 23.58, 23.58, 1035),
    ("AT0000A0E9W5", "SANT", "2021-04-19", "08:00", 23.58, 24.22, 23.31, 24.34, 1028),
    ("AT0000A0E9W5", "SANT", "2021-04-19", "09:00", 24.22, 22.21, 22.21, 25.01, 1523),
]

# (ISIN, Date, open, close, min, max, volume, change_pct)
GOLDEN_REPORT = [
    ("AT0000A0E9W5", "2021-04-17", 20.21, 18.27, 18.21, 21.34, 1088, 10.62),
    ("AT0000A0E9W5", "2021-04-18", 20.58, 19.27, 18.89, 21.14, 10286, 1.83),
    ("AT0000A0E9W5", "2021-04-19", 23.58, 24.22, 22.21, 25.01, 3586, 14.58),
]

SCHEMA = (
    "ISIN string, Mnemonic string, Date string, Time string, "
    "StartPrice double, EndPrice double, MinPrice double, MaxPrice double, "
    "TradedVolume long"
)


@pytest.fixture(scope="module")
def src_df(spark):
    return spark.createDataFrame(FIXTURE_ROWS, SCHEMA)


def test_transform_matches_golden_report(spark, src_df):
    result = transform_report1(
        src_df, SourceConfig(), TargetConfig(), extract_date="2021-04-17"
    )
    rows = sorted(tuple(r) for r in result.collect())
    assert rows == sorted(GOLDEN_REPORT)


def test_output_schema(spark, src_df):
    result = transform_report1(
        src_df, SourceConfig(), TargetConfig(), extract_date="2021-04-17"
    )
    assert result.columns == [
        "ISIN", "Date",
        "opening_price_eur", "closing_price_eur",
        "minimum_price_eur", "maximum_price_eur",
        "daily_traded_volume", "change_prev_closing_%",
    ]


def test_empty_input_short_circuits(spark):
    """Empty input yields an empty frame with the report's columns (the
    transform stays lazy; no probe decides the shape)."""
    empty = spark.createDataFrame([], SCHEMA)
    result = transform_report1(
        empty, SourceConfig(), TargetConfig(), extract_date="2021-04-17"
    )
    assert result.columns == [
        "ISIN", "Date",
        "opening_price_eur", "closing_price_eur",
        "minimum_price_eur", "maximum_price_eur",
        "daily_traded_volume", "change_prev_closing_%",
    ]
    assert result.count() == 0


def test_null_rows_dropped(spark):
    rows = FIXTURE_ROWS + [
        ("AT0000A0E9W5", None, "2021-04-18", "09:00", None, None, None, None, None)
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    result = transform_report1(
        df, SourceConfig(), TargetConfig(), extract_date="2021-04-17"
    )
    got = sorted(tuple(r) for r in result.collect())
    assert got == sorted(GOLDEN_REPORT)  # the null row must not perturb anything


def test_ohlc_invariants(spark, src_df):
    result = transform_report1(
        src_df, SourceConfig(), TargetConfig(), extract_date="2021-04-15"
    )
    for r in result.collect():
        assert r["minimum_price_eur"] <= r["opening_price_eur"] <= r["maximum_price_eur"]
        assert r["minimum_price_eur"] <= r["closing_price_eur"] <= r["maximum_price_eur"]
        assert r["daily_traded_volume"] > 0
