"""Meta/incremental protocol tests — the 8 reference cases
(tests/common/test_meta_process.py:58-314) on local paths, plus the
driver-side I/O contract (no Spark job, exact bytes) and bad meta objects
on both connectors.
"""

from __future__ import annotations

from datetime import date, datetime

import pytest

from trading_data_pipeline_spark.exceptions import WrongMetaFileException
from trading_data_pipeline_spark.meta import (
    META_DATE_COL,
    META_PROCESS_COL,
    META_SCHEMA,
    return_date_list,
    update_meta_file,
)
from trading_data_pipeline_spark.sources.connector import FileSystemConnector

TODAY = date(2021, 4, 20)
NOW = datetime(2021, 4, 20, 12, 0, 0)
META_KEY = "meta/meta_file.csv"


@pytest.fixture()
def conn(spark, tmp_path):
    return FileSystemConnector(spark, str(tmp_path))


@pytest.fixture(params=["filesystem", "bucket"])
def any_conn(request, spark, tmp_path, monkeypatch):
    """A FileSystemConnector over ``tmp_path``, or a BucketConnector over a
    moto bucket (skipped where moto is not installed)."""
    if request.param == "filesystem":
        yield FileSystemConnector(spark, str(tmp_path))
        return
    boto3 = pytest.importorskip("boto3")
    moto = pytest.importorskip("moto")
    from trading_data_pipeline_spark.sources.bucket import BucketConnector

    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "testing")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "testing")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    with moto.mock_aws():
        boto3.client("s3").create_bucket(Bucket="meta-test")
        yield BucketConnector(spark, "meta-test")


def read_meta(conn):
    # Spark-side read of the driver-written object: the interop check
    df = conn.read_csv(META_KEY, schema=META_SCHEMA)
    return sorted(map(tuple, df.collect()))


def test_update_creates_meta(conn):
    # ref test_meta_process.py:58-101 — first write creates the file
    assert update_meta_file(conn, META_KEY, ["2021-04-16", "2021-04-17"], NOW)
    assert read_meta(conn) == [
        ("2021-04-16", "2021-04-20 12:00:00"),
        ("2021-04-17", "2021-04-20 12:00:00"),
    ]


def test_update_appends(conn):
    update_meta_file(conn, META_KEY, ["2021-04-16"], NOW)
    update_meta_file(conn, META_KEY, ["2021-04-17"], datetime(2021, 4, 21, 8, 0, 0))
    assert read_meta(conn) == [
        ("2021-04-16", "2021-04-20 12:00:00"),
        ("2021-04-17", "2021-04-21 08:00:00"),
    ]


def test_update_empty_list_noop(conn, tmp_path):
    assert update_meta_file(conn, META_KEY, [], NOW) is True
    assert not (tmp_path / META_KEY).exists()


def test_wrong_schema_raises(conn, spark):
    # ref test_meta_process.py:160-182 — wrong_column header → exception
    bad = spark.createDataFrame(
        [("2021-04-16", "x")], f"wrong_column string, {META_PROCESS_COL} string"
    )
    conn.write_single_object(bad, META_KEY, "csv")
    with pytest.raises(WrongMetaFileException):
        update_meta_file(conn, META_KEY, ["2021-04-17"], NOW)


def test_date_list_no_meta_full_backfill(conn):
    # ref meta_process.py:116-124 — no meta → min date is first_date itself,
    # the scan list still starts at first_date - 1 (LAG warm-up day)
    start, dates = return_date_list(conn, "2021-04-16", META_KEY, today=TODAY)
    assert start == "2021-04-16"
    assert dates == [
        "2021-04-15", "2021-04-16", "2021-04-17",
        "2021-04-18", "2021-04-19", "2021-04-20",
    ]


def test_date_list_partial_meta(conn):
    # ref meta_process.py:88-107 — gap → min date is min(missing) (:100-102);
    # the scan list starts one day earlier so LAG sees the previous close
    update_meta_file(conn, META_KEY, ["2021-04-16", "2021-04-17"], NOW)
    start, dates = return_date_list(conn, "2021-04-16", META_KEY, today=TODAY)
    assert start == "2021-04-18"
    assert dates == ["2021-04-17", "2021-04-18", "2021-04-19", "2021-04-20"]


def test_date_list_up_to_date_sentinel(conn):
    # ref meta_process.py:108-115 — nothing missing → sentinel 2200-01-01
    update_meta_file(
        conn, META_KEY,
        ["2021-04-16", "2021-04-17", "2021-04-18", "2021-04-19", "2021-04-20"],
        NOW,
    )
    start, dates = return_date_list(conn, "2021-04-16", META_KEY, today=TODAY)
    assert start == "2200-01-01"
    assert dates == []


def test_meta_columns_names():
    assert META_DATE_COL == "source_date"
    assert META_PROCESS_COL == "datetime_of_processing"

def test_date_list_no_meta_normalizes_unpadded_date(conn):
    # a parseable-but-unpadded config date must come back zero-padded, or
    # the lexicographic Date >= cutoff filters downstream drop every row
    start, dates = return_date_list(conn, "2021-4-16", META_KEY, today=TODAY)
    assert start == "2021-04-16"
    assert dates[0] == "2021-04-15"


# ---------------------------------------------- driver-side meta I/O


def test_meta_protocol_starts_no_spark_job(conn, jobs_started):
    """Reading and rewriting the meta table is driver-side byte I/O: no
    Spark job on create, append, or date resolution (2-4 jobs per call
    when the table went through Spark)."""
    def protocol():
        return_date_list(conn, "2021-04-16", META_KEY, today=TODAY)
        update_meta_file(conn, META_KEY, ["2021-04-16", "2021-04-17"], NOW)
        update_meta_file(conn, META_KEY, ["2021-04-18"], NOW)
        return_date_list(conn, "2021-04-16", META_KEY, today=TODAY)

    assert jobs_started("meta-protocol", protocol) == 0
    assert len(read_meta(conn)) == 3


def test_meta_bytes_after_create_and_append(any_conn):
    """The object's exact bytes: header, then one ``\n``-terminated row
    per date, appended rows after the existing ones."""
    update_meta_file(any_conn, META_KEY, ["2021-04-16", "2021-04-17"], NOW)
    update_meta_file(any_conn, META_KEY, ["2021-04-18"], datetime(2021, 4, 21, 8, 0, 0))
    assert any_conn.read_bytes(META_KEY) == (
        b"source_date,datetime_of_processing\n"
        b"2021-04-16,2021-04-20 12:00:00\n"
        b"2021-04-17,2021-04-20 12:00:00\n"
        b"2021-04-18,2021-04-21 08:00:00\n"
    )


def _assert_bad_meta_raises(conn, body: bytes):
    conn.write_bytes(META_KEY, body)
    with pytest.raises(WrongMetaFileException):
        return_date_list(conn, "2021-04-16", META_KEY, today=TODAY)
    with pytest.raises(WrongMetaFileException):
        update_meta_file(conn, META_KEY, ["2021-04-20"], NOW)
    assert conn.read_bytes(META_KEY) == body  # a failed update writes nothing


def test_empty_meta_object_raises(any_conn):
    _assert_bad_meta_raises(any_conn, b"")


def test_meta_without_date_column_raises(any_conn):
    _assert_bad_meta_raises(any_conn, b"garbage\n")


def test_meta_with_unparseable_date_raises(any_conn):
    _assert_bad_meta_raises(
        any_conn,
        b"source_date,datetime_of_processing\n"
        b"2021-04-16,2021-04-20 12:00:00\n"
        b"2021-13-45,2021-04-20 12:00:00\n",
    )
