"""Incremental meta-file protocol — port of ``MetaProcess``
(xetra/common/meta_process.py:15-125).

The meta table is a tiny state file ``(source_date, datetime_of_processing)``
that records which source dates were already processed. Two operations:

- ``update_meta_file``: append newly-processed dates (with one shared
  processing timestamp) to the file, guarding against schema drift
  (meta_process.py:20-59).
- ``return_date_list``: compute which dates still need extraction — build a
  date spine from ``first_date - 1 day`` through today, subtract the dates
  already in the meta file, return ``(min_missing, all spine dates >=
  min_missing - 1 day)``: the returned *min date* is the output cutoff
  (ref meta_process.py:100-102 returns ``min_date + 1 day``), while the
  returned *date list* still starts one day earlier so the LAG warm-up row
  is scanned but never re-emitted or re-appended to the meta file; sentinel
  ``2200-01-01`` + empty list when nothing is missing (meta_process.py:61-125).

Design: the meta table grows with processed days, not with data — a few
KB after years — so all of it runs on the driver and starts no Spark job.
The object moves as bytes through the connector (``read_bytes`` /
``write_bytes``) and is parsed and formatted with pandas, as the reference
does over boto3. ``FileSystemConnector`` moves those bytes through the
Hadoop FileSystem it uses for everything else, so the same code works on
``s3a://`` and ``hdfs://``; ``BucketConnector`` does a GET and a PUT. The
date arithmetic is plain Python over a spine of at most a few thousand
dates (SURVEY.md §2 row 21).

A meta object that cannot be the protocol's state — empty, without a
``source_date`` column, or with a date that does not parse — raises
``WrongMetaFileException`` from both operations.
"""

from __future__ import annotations

from datetime import date, datetime, timedelta
from io import BytesIO

import pandas as pd
from pyspark.sql.types import StringType, StructField, StructType

from .exceptions import WrongMetaFileException
from .sources.connector import FileSystemConnector

META_DATE_COL = "source_date"  # ref constants.py:24-26
META_PROCESS_COL = "datetime_of_processing"
META_DATE_FORMAT = "%Y-%m-%d"  # ref constants.py:22
META_PROCESS_FORMAT = "%Y-%m-%d %H:%M:%S"  # ref constants.py:23

META_SCHEMA = StructType(
    [
        StructField(META_DATE_COL, StringType(), True),
        StructField(META_PROCESS_COL, StringType(), True),
    ]
)


def _read_meta(connector: FileSystemConnector, meta_key: str) -> pd.DataFrame | None:
    """The meta table as written (every column a string); None when it
    doesn't exist yet (first run — ref meta_process.py:52-54,116-118,
    boto3 NoSuchKey → empty meta).

    The header is kept as written: the schema-drift guard must see the
    file's real columns (ref meta_process.py:47-50).
    """
    if not connector.exists(meta_key):
        return None
    try:
        meta = pd.read_csv(
            BytesIO(connector.read_bytes(meta_key)), dtype=str, keep_default_na=False
        )
    except (pd.errors.EmptyDataError, pd.errors.ParserError) as exc:
        raise WrongMetaFileException(f"meta file {meta_key} is not a CSV table: {exc}") from exc
    if META_DATE_COL not in meta.columns:
        raise WrongMetaFileException(
            f"meta file {meta_key} has no {META_DATE_COL} column: {list(meta.columns)}"
        )
    return meta


def _processed_dates(meta: pd.DataFrame, meta_key: str) -> set[date]:
    try:
        return {datetime.strptime(d, META_DATE_FORMAT).date() for d in meta[META_DATE_COL]}
    except ValueError as exc:
        raise WrongMetaFileException(f"meta file {meta_key}: {exc}") from exc


def update_meta_file(
    connector: FileSystemConnector,
    meta_key: str,
    extract_date_list: list[str],
    now: datetime | None = None,
) -> bool:
    """Append processed dates to the meta file (ref meta_process.py:20-59).

    Schema drift in the existing file raises WrongMetaFileException
    (column-multiset comparison, :47-50), as does a file whose dates do
    not parse. The whole file is rewritten — correct for a tiny state
    table; at scale this would be a Delta-style transactional append.
    """
    if not extract_date_list:
        return True
    stamp = (now or datetime.today()).strftime(META_PROCESS_FORMAT)
    meta = pd.DataFrame({META_DATE_COL: extract_date_list, META_PROCESS_COL: stamp})
    old = _read_meta(connector, meta_key)
    if old is not None:
        if sorted(old.columns) != sorted(meta.columns):
            raise WrongMetaFileException(
                f"meta file columns {list(old.columns)} != expected {list(meta.columns)}"
            )
        _processed_dates(old, meta_key)
        meta = pd.concat([old, meta[old.columns]], ignore_index=True)
    # single CSV object, matching the reference's one-key meta layout
    connector.write_bytes(
        meta_key, meta.to_csv(index=False, lineterminator="\n").encode("utf-8")
    )
    return True


def date_spine(first_date: str, today: date | None = None) -> list[date]:
    """Dates from ``first_date - 1 day`` through today (ref :77-87)."""
    start = datetime.strptime(first_date, META_DATE_FORMAT).date() - timedelta(days=1)
    end = today or date.today()
    return [start + timedelta(days=i) for i in range((end - start).days + 1)]


def return_date_list(
    connector: FileSystemConnector,
    first_date: str,
    meta_key: str,
    today: date | None = None,
) -> tuple[str, list[str]]:
    """(extract start date, list of dates to process) — ref :61-125.

    The min date is the OUTPUT cutoff: ``first_date`` on first run (:118)
    or ``min(missing)`` on a gap restart (:98-102, ``min_date + 1 day``).
    The date LIST starts one day earlier (the LAG warm-up day, :103-107 /
    :119-124) — it is scanned so pct-change has its previous close, but
    rows before the cutoff are filtered out of the report and never
    re-appended to the meta file (``meta_update_list`` keeps only dates
    ``>= extract_date``). Everything processed → sentinel ``2200-01-01``,
    empty list (:108-115).
    """
    spine = date_spine(first_date, today)
    meta = _read_meta(connector, meta_key)
    if meta is None:
        # ref :118 returns first_date itself; the list still starts a day
        # early. Re-format through strptime so a parseable-but-unpadded
        # config date ('2021-4-16') yields the same normalized form as the
        # spine strings — the downstream Date >= cutoff filters compare
        # lexicographically and would silently drop every row otherwise.
        normalized = datetime.strptime(first_date, META_DATE_FORMAT).strftime(
            META_DATE_FORMAT
        )
        return normalized, [d.strftime(META_DATE_FORMAT) for d in spine]
    else:
        processed = _processed_dates(meta, meta_key)
        missing = sorted(set(spine[1:]) - processed)
        if not missing:
            return "2200-01-01", []
        return_min = min(missing)
        warmup = return_min - timedelta(days=1)
        dates = [d for d in spine if d >= warmup]
    return (
        return_min.strftime(META_DATE_FORMAT),
        [d.strftime(META_DATE_FORMAT) for d in dates],
    )
