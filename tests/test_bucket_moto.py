"""Object-store protocol tests over moto's in-process S3 mock — the
engine's answer to the reference's live-bucket integration test
(tests/integration_tests/test_int_xetra_transformer.py:280-304) and unit
tests (tests/common/test_s3.py), runnable with no network, jars, or
credentials: BucketConnector speaks the real S3 API (boto3) against moto.

The s3a bulk path stays covered by tests/test_s3a_integration.py
(env-gated on the hadoop-aws jar); THIS file is what guarantees the
object-store protocol itself — listing, incremental meta, timestamped
report keys, empty-write skip, format dispatch, PUT atomic overwrite —
is exercised every run."""

from __future__ import annotations

import io
from datetime import date, timedelta

import pandas as pd
import pytest

try:
    import boto3
    from moto import mock_aws
except ImportError:  # pragma: no cover
    pytest.skip("moto/boto3 not installed", allow_module_level=True)

from trading_data_pipeline_spark.config import SourceConfig, TargetConfig
from trading_data_pipeline_spark.etl import Report1ETL
from trading_data_pipeline_spark.exceptions import (
    WrongFormatException,
    WrongMetaFileException,
)
from trading_data_pipeline_spark.sources.bucket import BucketConnector

SRC_BUCKET = "src-int-test"
TRG_BUCKET = "trg-int-test"

# the reference integration fixture's 9 source columns
# (test_int_xetra_transformer.py:100-110)
CSV_SCHEMA_9 = (
    "ISIN string, Mnemonic string, Date string, Time string, "
    "StartPrice double, EndPrice double, MinPrice double, MaxPrice double, "
    "TradedVolume long"
)

# (offset_back, time, start, end, min, max, volume) — the reference's
# golden 9-row frame (test_int_xetra_transformer.py:112-259), re-dated
ROWS = [
    (5, "12:00", 20.19, 18.45, 18.20, 20.33, 877),
    (4, "15:00", 18.27, 21.19, 18.27, 21.34, 987),
    (3, "13:00", 20.21, 18.27, 18.21, 20.42, 633),
    (3, "14:00", 18.27, 21.19, 18.27, 21.34, 455),
    (2, "07:00", 20.58, 19.27, 18.89, 20.58, 9066),
    (2, "08:00", 19.27, 21.14, 19.27, 21.14, 1220),
    (1, "07:00", 23.58, 23.58, 23.58, 23.58, 1035),
    (1, "08:00", 23.58, 24.22, 23.31, 24.34, 1028),
    (1, "09:00", 24.22, 22.21, 22.21, 25.01, 1523),
]


def day(off: int) -> str:
    return (date.today() - timedelta(days=off)).isoformat()


@pytest.fixture()
def buckets(monkeypatch):
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "testing")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "testing")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    with mock_aws():
        s3 = boto3.client("s3")
        s3.create_bucket(Bucket=SRC_BUCKET)
        s3.create_bucket(Bucket=TRG_BUCKET)
        yield s3


@pytest.fixture()
def src(spark, buckets):
    conn = BucketConnector(spark, SRC_BUCKET)
    cols = [
        "ISIN", "Mnemonic", "Date", "Time",
        "StartPrice", "EndPrice", "MinPrice", "MaxPrice", "TradedVolume",
    ]
    for i, (off, t, sp, ep, mn, mx, vol) in enumerate(ROWS):
        d = day(off)
        pdf = pd.DataFrame(
            [["AT0000A0E9W5", "SANT", d, t, sp, ep, mn, mx, vol]],
            columns=cols,
        )
        buckets.put_object(
            Bucket=SRC_BUCKET,
            Key=f"{d}/{d}_BINS_XETR{i:02d}.csv",
            Body=pdf.to_csv(index=False).encode(),
        )
    return conn


def test_list_files_in_prefix_filters_server_side(spark, buckets, src):
    d1, other = day(1), day(2)
    keys = src.list_files_in_prefix(d1)
    assert len(keys) == 3 and all(k.startswith(d1 + "/") for k in keys)
    assert not any(other in k for k in keys)
    assert src.list_files_in_prefix("no-such-prefix/") == []


def test_read_csv_many_keys_one_dataframe(spark, buckets, src):
    keys = src.list_files_in_prefix(day(1))
    df = src.read_csv(keys, schema=CSV_SCHEMA_9)
    assert df.count() == 3
    assert df.schema.simpleString().count("double") == 4
    assert {r.Time for r in df.collect()} == {"07:00", "08:00", "09:00"}


def test_read_csv_prefixes_skips_missing_prefixes(spark, buckets, src):
    """Same contract as ``FileSystemConnector.read_csv_prefixes``: one
    frame over every object of the prefixes that hold any, None when
    none does."""
    df = src.read_csv_prefixes([day(3), "no-such-prefix/", day(1)], schema=CSV_SCHEMA_9)
    assert sorted(r.Time for r in df.collect()) == ["07:00", "08:00", "09:00", "13:00", "14:00"]
    assert src.read_csv_prefixes(["no-such-prefix/", day(9)], schema=CSV_SCHEMA_9) is None


def test_write_round_trips_and_put_overwrites(spark, buckets):
    conn = BucketConnector(spark, TRG_BUCKET)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    assert conn.write(df, "out/data.csv", "csv") is True
    body = buckets.get_object(Bucket=TRG_BUCKET, Key="out/data.csv")["Body"].read()
    assert pd.read_csv(io.BytesIO(body)).to_dict("list") == {
        "id": [1, 2], "s": ["a", "b"],
    }
    # parquet branch round trip
    assert conn.write(df, "out/data.parquet", "parquet") is True
    got = conn.read_parquet("out/data.parquet")
    assert sorted(map(tuple, got.collect())) == [(1, "a"), (2, "b")]
    # PUT overwrite: same key, new content, no partial/merged state
    df2 = spark.createDataFrame([(9, "z")], "id long, s string")
    assert conn.write(df2, "out/data.csv", "csv") is True
    body = buckets.get_object(Bucket=TRG_BUCKET, Key="out/data.csv")["Body"].read()
    assert pd.read_csv(io.BytesIO(body)).to_dict("list") == {"id": [9], "s": ["z"]}


def test_write_guards(spark, buckets):
    conn = BucketConnector(spark, TRG_BUCKET, max_rows=3)
    empty = spark.createDataFrame([], "id long")
    # empty frame → skip, no object (ref s3.py:93-95)
    assert conn.write(empty, "out/skip.csv", "csv") is None
    assert conn.list_files_in_prefix("out/skip.csv") == []
    # unsupported format → WrongFormatException (ref s3.py:104-107)
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(WrongFormatException):
        conn.write(df, "out/x.json", "json")
    # oversize single-object write → hard error, not a driver collect
    big = spark.range(10).toDF("id")
    with pytest.raises(ValueError, match="max_rows"):
        conn.write(big, "out/big.csv", "csv")


def test_meta_protocol_over_bucket(spark, buckets):
    """update_meta_file / return_date_list run unchanged against the
    bucket duck-type: append, drift guard, and incremental resolution."""
    from trading_data_pipeline_spark.meta import (
        return_date_list,
        update_meta_file,
    )

    conn = BucketConnector(spark, TRG_BUCKET)
    meta_key = "meta/report1_meta.csv"
    # first run: no meta object → cutoff is first_date itself
    cutoff, dates = return_date_list(conn, day(3), meta_key)
    assert cutoff == day(3) and dates[0] == day(4)
    assert update_meta_file(conn, meta_key, [day(3), day(2)]) is True
    # second resolution sees the processed dates
    cutoff2, dates2 = return_date_list(conn, day(3), meta_key)
    assert cutoff2 == day(1) and day(2) not in dates2[1:]
    # appends preserve earlier rows
    assert update_meta_file(conn, meta_key, [day(1), day(0)]) is True
    meta = pd.read_csv(io.BytesIO(conn.read_bytes(meta_key)), dtype=str)
    assert sorted(meta["source_date"]) == sorted([day(3), day(2), day(1), day(0)])
    cutoff3, dates3 = return_date_list(conn, day(3), meta_key)
    assert cutoff3 == "2200-01-01" and dates3 == []
    # drift guard: foreign columns in the stored object must raise
    buckets.put_object(
        Bucket=TRG_BUCKET,
        Key="meta/drifted.csv",
        Body=b"wrong_col,another\n1,2\n",
    )
    with pytest.raises(WrongMetaFileException):
        update_meta_file(conn, "meta/drifted.csv", [day(0)])


def test_int_etl_report1_over_buckets(spark, buckets, src):
    """The reference's end-to-end integration flow
    (test_int_xetra_transformer.py:280-304) over moto: date-prefixed
    source CSVs → Report1ETL.run() → ONE timestamped parquet report
    object + meta CSV in the target bucket, golden values intact; a
    second run is an incremental no-op."""
    trg = BucketConnector(spark, TRG_BUCKET)
    src_cfg = SourceConfig(
        src_first_extract_date=day(3),
        src_columns=[
            "ISIN", "Mnemonic", "Date", "Time",
            "StartPrice", "EndPrice", "MinPrice", "MaxPrice", "TradedVolume",
        ],
    )
    trg_cfg = TargetConfig(
        trg_col_isin="ISIN",
        trg_col_date="Date",
        trg_key="report1/daily_report1_",
        trg_format="parquet",
    )
    etl = Report1ETL(
        spark, src, trg, "meta/report1_meta.csv", src_cfg, trg_cfg,
        csv_schema=CSV_SCHEMA_9,
    )
    assert etl.run() is True

    reports = trg.list_files_in_prefix("report1/")
    assert len(reports) == 1 and reports[0].endswith(".parquet")
    report = {r["Date"]: r for r in trg.read_parquet(reports[0]).collect()}
    # reference golden report rows (test_int_xetra_transformer.py:262-268)
    assert set(report) == {day(3), day(2), day(1)}
    r3 = report[day(3)]
    assert (
        r3["opening_price_eur"], r3["closing_price_eur"],
        r3["minimum_price_eur"], r3["maximum_price_eur"],
        r3["daily_traded_volume"], r3["change_prev_closing_%"],
    ) == (20.21, 18.27, 18.21, 21.34, 1088, 10.62)
    assert report[day(2)]["change_prev_closing_%"] == 1.83
    assert report[day(1)]["change_prev_closing_%"] == 14.58

    meta = pd.read_csv(io.BytesIO(trg.read_bytes("meta/report1_meta.csv")), dtype=str)
    got_dates = sorted(meta["source_date"])
    assert got_dates == sorted([day(3), day(2), day(1), day(0)])

    # second construction: sentinel cutoff, run() is a no-op write-wise
    etl2 = Report1ETL(
        spark, src, trg, "meta/report1_meta.csv", src_cfg, trg_cfg,
        csv_schema=CSV_SCHEMA_9,
    )
    assert etl2.extract_date == "2200-01-01"
    assert etl2.run() is True
    assert trg.list_files_in_prefix("report1/") == reports
