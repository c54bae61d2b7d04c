"""End-to-end report1 ETL orchestration — the engine's equivalent of the
reference's ``XetraETL`` + ``run.py`` (xetra/transformers/
xetra_transformer.py:74-244, run.py:17-57).

Lifecycle (ref SURVEY.md §3 EP1): resolve incremental dates from the meta
file → extract (one glob over the pruned date prefixes, one CSV scan of
the matched directories) → transform (pure DataFrame chain,
operators/report1.py) → load (parquet sink + meta append). Everything
before the sink is lazy; the only actions are the two writes. Neither
probes its frame for emptiness first: the report write observes its own
row count and skips the object on zero rows
(``FileSystemConnector.write_single_object``), and a run with no dates to
extract skips extract, transform and the report write outright. Each
phase logs its time.

Scale: the date resolution is the manual partition-pruning the reference
does (xetra_transformer.py:112-116) — Spark receives only the pruned date
directories, so a backfill over years of history still reads just the
missing days. The reference lists each prefix and reads each file
(xetra_transformer.py:104-125); here the driver makes one ``globStatus``
call for all prefixes and Spark lists the matched directories inside the
scan, so no file is listed twice and no py4j call is made per file. With
a Hive-partitioned layout (``.../date=YYYY-MM-DD/``) the same pruning
falls out of a ``filter`` instead.
"""

from __future__ import annotations

import logging
import time
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from .config import SourceConfig, TargetConfig, load_configs
from .meta import return_date_list, update_meta_file
from .operators.report1 import transform_report1
from .sources.connector import FileSystemConnector

logger = logging.getLogger(__name__)

CSV_SCHEMA_XETRA = (
    "ISIN string, Mnemonic string, Currency string, SecurityType string, "
    "Date string, Time string, StartPrice double, MaxPrice double, "
    "MinPrice double, EndPrice double, TradedVolume long, NumberOfTrades long"
)


class Report1ETL:
    """Incremental OHLC report job (ref XetraETL, xetra_transformer.py:69-244).

    Like the reference, construction already performs the incremental date
    resolution (ref :97-102): ``extract_date`` is the cutoff for output
    rows, ``extract_date_list`` the dates to scan (one warm-up day before
    the cutoff seeds the LAG), ``meta_update_list`` the dates the meta file
    gains after a successful load.
    """

    def __init__(
        self,
        spark: SparkSession,
        src_connector: FileSystemConnector,
        trg_connector: FileSystemConnector,
        meta_key: str,
        src: SourceConfig,
        trg: TargetConfig,
        csv_schema: str | None = CSV_SCHEMA_XETRA,
    ):
        self.spark = spark
        self.src_conn = src_connector
        self.trg_conn = trg_connector
        self.meta_key = meta_key
        self.src = src
        self.trg = trg
        self.csv_schema = csv_schema
        self.extract_date, self.extract_date_list = return_date_list(
            trg_connector, src.src_first_extract_date, meta_key
        )
        self.meta_update_list = [
            d for d in self.extract_date_list if d >= self.extract_date
        ]

    def extract(self) -> DataFrame:
        """One Spark scan over every file under every extract date prefix
        (ref :104-125 — but one glob and a single distributed read instead
        of a per-prefix listing and a sequential per-file read + concat
        loop). Dates with no source prefix (weekends, holidays) are
        skipped; with none at all the frame is empty."""
        t0 = time.perf_counter()
        df = self.src_conn.read_csv_prefixes(self.extract_date_list, schema=self.csv_schema)
        if df is None:
            # an inferred schema has nothing to infer from: fall back to the
            # Xetra layout the default SourceConfig reads
            df = self.spark.createDataFrame([], self.csv_schema or CSV_SCHEMA_XETRA)
        logger.info(
            "extract: scan of %d date prefixes built in %.3f s",
            len(self.extract_date_list), time.perf_counter() - t0,
        )
        return df

    def transform(self, df: DataFrame) -> DataFrame:
        t0 = time.perf_counter()
        report = transform_report1(df, self.src, self.trg, self.extract_date)
        logger.info("transform: report frame built in %.3f s", time.perf_counter() - t0)
        return report

    def load(self, report: DataFrame | None) -> bool:
        """Write the report + append processed dates to the meta file
        (ref :210-232). Returns True (ref load always returns True).

        With no dates to extract nothing was scanned, so the report is
        empty by construction (``run`` passes None) and its write is
        skipped."""
        t0 = time.perf_counter()
        if self.extract_date_list:
            key = (
                self.trg.trg_key
                + datetime.today().strftime(self.trg.trg_key_date_format)
                + "."
                + self.trg.trg_format
            )
            if self.trg_conn.write_single_object(report, key, self.trg.trg_format):
                logger.info("report written to %s", key)
        if self.meta_update_list:
            update_meta_file(self.trg_conn, self.meta_key, self.meta_update_list)
            logger.info("meta file updated with %d dates", len(self.meta_update_list))
        logger.info("load: %.3f s", time.perf_counter() - t0)
        return True

    def run(self) -> bool:
        """extract → transform → load (ref etl_report1, :234-244). With no
        dates to extract there is no report to build: straight to load."""
        if not self.extract_date_list:
            return self.load(None)
        return self.load(self.transform(self.extract()))


def run_job(config_path: str, spark: SparkSession | None = None) -> bool:
    """CLI entry: YAML config → Report1ETL → run (ref run.py:17-57)."""
    src, trg, cfg = load_configs(config_path)
    if spark is None:
        from .session import build_session

        spark = build_session(cfg.get("app_name", "report1"))
    paths = cfg.get("paths", {})
    etl = Report1ETL(
        spark,
        FileSystemConnector(spark, paths["source_root"]),
        FileSystemConnector(spark, paths["target_root"]),
        cfg.get("meta", {}).get("meta_key", "meta/report1.csv"),
        src,
        trg,
        csv_schema=cfg.get("source", {}).get("csv_schema", CSV_SCHEMA_XETRA),
    )
    return etl.run()
