"""End-to-end report1 job test — the engine's analogue of the reference's
integration test (tests/integration_tests/test_int_xetra_transformer.py:
280-304): date-prefixed source CSVs → Report1ETL.run() → single-object
parquet report + meta file; a second run is an incremental no-op."""

from __future__ import annotations

import glob
from datetime import date, timedelta

import pytest

from trading_data_pipeline_spark.config import SourceConfig, TargetConfig
from trading_data_pipeline_spark.etl import Report1ETL
from trading_data_pipeline_spark.sources.connector import FileSystemConnector

CSV_HEADER = (
    "ISIN,Mnemonic,Currency,SecurityType,Date,Time,StartPrice,MaxPrice,"
    "MinPrice,EndPrice,TradedVolume,NumberOfTrades"
)

# golden 9-row fixture re-dated relative to today (offset days back: 4..0)
ROWS = [
    (4, "12:00", 20.19, 20.33, 18.20, 18.45, 877),
    (3, "15:00", 18.27, 21.34, 18.27, 21.19, 987),
    (2, "13:00", 20.21, 20.42, 18.21, 18.27, 633),
    (2, "14:00", 18.27, 21.34, 18.27, 21.19, 455),
    (1, "07:00", 20.58, 20.58, 18.89, 19.27, 9066),
    (1, "08:00", 19.27, 21.14, 19.27, 21.14, 1220),
    (0, "07:00", 23.58, 23.58, 23.58, 23.58, 1035),
    (0, "08:00", 23.58, 24.34, 23.31, 24.22, 1028),
    (0, "09:00", 24.22, 25.01, 22.21, 22.21, 1523),
]


def day(offset_back: int) -> str:
    return (date.today() - timedelta(days=offset_back)).isoformat()


@pytest.fixture()
def roots(tmp_path):
    src_root = tmp_path / "source"
    trg_root = tmp_path / "target"
    by_date: dict[str, list[str]] = {}
    for off, t, sp, mx, mn, ep, vol in ROWS:
        d = day(off)
        by_date.setdefault(d, []).append(
            f"AT0000A0E9W5,SANT,EUR,common_stock,{d},{t},{sp},{mx},{mn},{ep},{vol},100"
        )
    for d, lines in by_date.items():
        p = src_root / d
        p.mkdir(parents=True)
        (p / f"{d}_BINS_XETR12.csv").write_text("\n".join([CSV_HEADER, *lines]))
    return str(src_root), str(trg_root)


def make_etl(spark, roots, first_offset: int = 3):
    src_root, trg_root = roots
    return Report1ETL(
        spark,
        FileSystemConnector(spark, src_root),
        FileSystemConnector(spark, trg_root),
        "meta/report1_meta.csv",
        SourceConfig(src_first_extract_date=day(first_offset)),
        TargetConfig(),
    )


def test_etl_first_run_writes_report_and_meta(spark, roots):
    src_root, trg_root = roots
    etl = make_etl(spark, roots)
    # no meta → cutoff is first_date itself (ref meta_process.py:118); the
    # scan list still starts at first_date - 1, the LAG warm-up day
    assert etl.extract_date == day(3)
    assert etl.extract_date_list[0] == day(4)
    assert etl.meta_update_list == [day(3), day(2), day(1), day(0)]

    assert etl.run() is True

    reports = glob.glob(f"{trg_root}/report1/*.parquet")
    assert len(reports) == 1
    df = spark.read.parquet(reports[0])
    assert df.schema.simpleString() == (
        "struct<ISIN:string,Date:string,opening_price_eur:double,"
        "closing_price_eur:double,minimum_price_eur:double,"
        "maximum_price_eur:double,daily_traded_volume:bigint,"
        "change_prev_closing_%:double>"
    )
    # one ISIN: the LAG window leaves its days in date order. The warm-up
    # day day(4) seeds the LAG but is NOT emitted (ref :203-206): day(3)'s
    # pct change is seeded by its opening, (18.27 - 20.19) / 20.19 * 100 =
    # -9.51. Golden OHLC + pct-change values (reference golden frame,
    # re-dated).
    isin = "AT0000A0E9W5"
    assert [tuple(r) for r in df.collect()] == [
        (isin, day(3), 18.27, 18.27, 18.27, 21.34, 987, -9.51),
        (isin, day(2), 20.21, 18.27, 18.21, 21.34, 1088, 10.62),
        (isin, day(1), 20.58, 19.27, 18.89, 21.14, 10286, 1.83),
        (isin, day(0), 23.58, 24.22, 22.21, 25.01, 3586, 14.58),
    ]

    # only dates >= the cutoff land in meta — the warm-up day never does,
    # so a later gap restart re-derives it instead of duplicating it
    meta = spark.read.options(header=True).csv(f"{trg_root}/meta/report1_meta.csv")
    processed = sorted(r.source_date for r in meta.collect())
    assert processed == sorted(etl.meta_update_list)
    assert day(4) not in processed


def test_etl_second_run_is_incremental_noop(spark, roots):
    src_root, trg_root = roots
    assert make_etl(spark, roots).run() is True
    first_reports = set(glob.glob(f"{trg_root}/report1/*"))

    second = make_etl(spark, roots)
    # everything processed → sentinel + empty work list (ref :108-115)
    assert second.extract_date == "2200-01-01"
    assert second.extract_date_list == []
    assert second.meta_update_list == []
    assert second.run() is True  # load() skips the write on empty input
    assert set(glob.glob(f"{trg_root}/report1/*")) == first_reports


def test_etl_meta_work_starts_no_spark_job(spark, roots, jobs_started):
    """Only the report write starts Spark jobs: a no-op run (construction
    included) starts none, and an incremental run starts at most the
    report write's three (two shuffles and the write). With the meta
    table read and written through Spark these were 2 and 7."""
    from trading_data_pipeline_spark.meta import update_meta_file

    src_root, trg_root = roots
    trg = FileSystemConnector(spark, trg_root)
    update_meta_file(trg, "meta/report1_meta.csv", [day(3), day(2), day(1)])

    def run():
        etl = make_etl(spark, roots)
        assert etl.extract_date_list == [day(1), day(0)]
        etl.run()

    assert jobs_started("etl-incremental", run) <= 3
    assert glob.glob(f"{trg_root}/report1/*.parquet")
    assert jobs_started("etl-noop", lambda: make_etl(spark, roots).run()) == 0


def test_backfill_extract_starts_no_spark_job(spark, tmp_path, jobs_started):
    """A backfill over 40-44 source files in 10-11 date directories (no
    directory on weekend days) builds its scan with no Spark job: the
    driver globs the date prefixes once and Spark lists the few matched
    directories itself. Handing Spark the file paths instead (more than
    the 32-path parallel-listing threshold) starts a listing job."""
    src_root, trg_root = tmp_path / "source", tmp_path / "target"
    trading_days = [day(off) for off in range(15) if date.fromisoformat(day(off)).weekday() < 5]
    for d in trading_days:
        for hour in range(4):
            line = f"AT0000A0E9W5,SANT,EUR,common_stock,{d},{hour:02d}:00,20.0,21.0,19.0,20.5,100,1"
            (src_root / d).mkdir(parents=True, exist_ok=True)
            (src_root / d / f"{d}_BINS_XETR{hour:02d}.csv").write_text("\n".join([CSV_HEADER, line]))
    etl = make_etl(spark, (str(src_root), str(trg_root)), first_offset=13)
    assert etl.extract_date_list == [day(off) for off in range(14, -1, -1)]
    assert 4 * len(trading_days) >= 33 and len(trading_days) <= 32
    assert len(trading_days) < len(etl.extract_date_list)  # weekends hold no prefix

    frames = []
    assert jobs_started("etl-extract", lambda: frames.append(etl.extract())) == 0
    assert frames[0].count() == 4 * len(trading_days)


def test_noop_run_never_builds_the_report(spark, roots, monkeypatch):
    """With nothing to extract, run() goes straight to load: no scan and
    no report frame is built."""
    import trading_data_pipeline_spark.etl as etl_mod

    assert make_etl(spark, roots).run() is True

    def fail(*args, **kwargs):
        raise AssertionError("no-op run built a report")

    monkeypatch.setattr(etl_mod, "transform_report1", fail)
    noop = make_etl(spark, roots)
    monkeypatch.setattr(noop.src_conn, "read_csv_prefixes", fail)
    assert noop.extract_date_list == []
    assert noop.run() is True


@pytest.mark.parametrize("drop_out", ["null_prices", "before_cutoff"])
def test_etl_run_with_no_report_rows_still_appends_meta(spark, tmp_path, drop_out):
    """Every scanned row drops out of the report (NULL prices are dropped;
    rows before the cutoff only seed the LAG): no report object is
    written, but the processed dates still land in the meta file."""
    src_root, trg_root = tmp_path / "source", tmp_path / "target"
    offsets = range(5) if drop_out == "null_prices" else [4]  # day(4): warm-up only
    for off in offsets:
        d = day(off)
        price = "" if drop_out == "null_prices" else "20.19"
        line = f"AT0000A0E9W5,SANT,EUR,common_stock,{d},12:00,{price},20.33,18.20,18.45,877,100"
        (src_root / d).mkdir(parents=True)
        (src_root / d / f"{d}_BINS_XETR12.csv").write_text("\n".join([CSV_HEADER, line]))
    etl = make_etl(spark, (str(src_root), str(trg_root)))

    assert etl.run() is True
    assert glob.glob(f"{trg_root}/report1/*") == []
    meta = spark.read.options(header=True).csv(f"{trg_root}/meta/report1_meta.csv")
    assert sorted(r.source_date for r in meta.collect()) == sorted(etl.meta_update_list)
    assert etl.meta_update_list == [day(3), day(2), day(1), day(0)]


def test_noop_run_without_csv_schema(spark, roots):
    """A run with nothing to extract and no declared CSV schema writes
    nothing, and its extract and transform called on their own still
    build an empty report frame."""
    src_root, trg_root = roots
    assert make_etl(spark, roots).run() is True
    before = sorted(glob.glob(f"{trg_root}/**", recursive=True))
    noop = Report1ETL(
        spark,
        FileSystemConnector(spark, src_root),
        FileSystemConnector(spark, trg_root),
        "meta/report1_meta.csv",
        SourceConfig(src_first_extract_date=day(3)),
        TargetConfig(),
        csv_schema=None,
    )
    assert noop.extract_date_list == []
    assert noop.run() is True
    assert sorted(glob.glob(f"{trg_root}/**", recursive=True)) == before
    assert noop.transform(noop.extract()).isEmpty()


def test_cli_runs_from_yaml(spark, roots, tmp_path):
    src_root, trg_root = roots
    cfg = tmp_path / "job.yaml"
    cfg.write_text(
        f"""
app_name: report1-test
paths:
  source_root: {src_root}
  target_root: {trg_root}
meta:
  meta_key: meta/report1_meta.csv
source:
  src_first_extract_date: "{day(3)}"
target:
  trg_format: parquet
"""
    )
    from trading_data_pipeline_spark.etl import run_job

    assert run_job(str(cfg), spark=spark) is True
    assert glob.glob(f"{trg_root}/report1/*.parquet")


# ------------------------------------------------------------ query CLI


def test_cli_query_list(capsys):
    from trading_data_pipeline_spark.__main__ import main

    assert main(["query", "--list"]) == 0
    out = capsys.readouterr().out
    assert "q_report1" in out and "q_auc" in out


def test_cli_query_unknown_name(capsys):
    from trading_data_pipeline_spark.__main__ import main

    assert main(["query", "q_nope"]) == 2


def test_cli_query_show_and_write(tmp_path, capsys, sf_dir):
    from trading_data_pipeline_spark.__main__ import main

    assert main(["query", "q_groupby_agg", "--sf-dir", sf_dir, "--show", "3"]) == 0
    out_dir = tmp_path / "cli_out"
    assert (
        main(
            ["query", "q_groupby_agg", "--sf-dir", sf_dir,
             "--out", str(out_dir), "--format", "parquet"]
        )
        == 0
    )
    import glob

    assert glob.glob(str(out_dir) + "/*.parquet")
