"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

- ``write_tables``: the ten registry tables (TESTDATA.md) at sf0.1 row
  counts, drawn from the same schemas, value ranges and distributions as
  the sf0.1 test data (uniform keys, 2-decimal prices and event values,
  documents of 10-100 words from a 30-word vocabulary with planted
  near-duplicates and exact duplicates, unit-norm 64-d embeddings). One
  snappy parquet file with one row group per table, like the test data's
  files, so scan splits match too. The tables are generated rather than
  read from the test data because a benchmark run reads only inside its
  checkout and makes its inputs from its seed.
- ``write_xetra``: date-prefixed Xetra CSVs for ``Report1ETL``:
  ``<date>/<date>_BINS_XETR<HH>.csv`` with the ``CSV_SCHEMA_XETRA`` header,
  weekdays only (weekend prefixes stay empty), unique (ISIN, Date, Time),
  dates ending at the run's today because the meta spine ends there.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, timedelta

import numpy as np
import pandas as pd

# The test data's document vocabulary: 30 uniform words, plus "dup" appended
# to planted near-duplicates.
WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
N_NEAR_DUPS = 250
N_EXACT_DUPS = 8

SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    start = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - start).astype(int))
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_documents(rng, n: int) -> pd.DataFrame:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    # Planted copies of unplanted documents, so every duplicate family is a
    # star around one original: near-duplicates append " dup", exact
    # duplicates copy the text as is.
    ids = rng.permutation(n)
    copies, originals = ids[: N_NEAR_DUPS + N_EXACT_DUPS], ids[N_NEAR_DUPS + N_EXACT_DUPS :]
    for k, i in enumerate(copies):
        texts[i] = texts[int(rng.choice(originals))] + (" dup" if k < N_NEAR_DUPS else "")
    doc_id = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in doc_id],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def make_tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = SF01_ROWS
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    c = n["customer"]
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(_SEGMENTS, c),
        }
    )
    s = n["supplier"]
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    pk = np.arange(p, dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(rng.choice(_PART_ADJ, p), " "), rng.choice(_PART_NOUN, p)
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
            "p_type": rng.choice(_PART_TYPES, p),
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    o = n["orders"]
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
            "o_orderpriority": rng.choice(_PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, o, li).astype(np.int64),
            "l_partkey": rng.integers(0, p, li).astype(np.int64),
            "l_suppkey": rng.integers(0, s, li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
        }
    )
    e = n["events"]
    # unique, increasing microsecond timestamps over 30 days
    us = np.unique(rng.integers(0, 30 * 86_400 * 10**6, 2 * e))
    us = np.sort(rng.choice(us, e, replace=False))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, e).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    t["documents"] = make_documents(rng, n["documents"])
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": list(vec),
            "label": rng.integers(0, 10, m).astype(np.int32),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, names: list[str] | None = None) -> dict:
    """Write the registry tables for ``seed`` under ``out_dir``; returns
    ``{table: {"rows": n, "bytes": b}}``."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, df in make_tables(seed).items():
        if names is not None and name not in names:
            continue
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path, index=False, compression="snappy")
        sizes[name] = {"rows": len(df), "bytes": os.path.getsize(path)}
    return sizes


# ----------------------------------------------------------------- Xetra

@dataclass(frozen=True)
class XetraSpec:
    isins: int = 120
    calendar_days: int = 14  # the backfill window, today included
    hours: tuple[int, ...] = tuple(range(8, 17))
    trades_per_hour: float = 0.1  # share of (ISIN, minute) slots that trade


def trading_days(first: date, last: date) -> list[date]:
    out, d = [], first
    while d <= last:
        if d.weekday() < 5:
            out.append(d)
        d += timedelta(days=1)
    return out


def first_extract_date(today: date, spec: XetraSpec = XetraSpec()) -> date:
    return today - timedelta(days=spec.calendar_days - 1)


def write_xetra(
    root: str, seed: int, today: date, spec: XetraSpec = XetraSpec()
) -> dict:
    """Write Xetra CSVs for every weekday from one day before
    ``first_extract_date`` (the LAG warm-up day) through ``today``.
    Returns total rows, files and bytes, and rows per date."""
    rng = np.random.default_rng(seed)
    isins = np.array([f"DE{seed % 1000:03d}{i:07d}" for i in range(spec.isins)])
    mnemonics = np.array([f"M{i:04d}" for i in range(spec.isins)])
    base = np.round(rng.uniform(5.0, 500.0, spec.isins), 2)
    first = first_extract_date(today, spec) - timedelta(days=1)
    rows_by_date: dict[str, int] = {}
    files = nbytes = 0
    for d in trading_days(first, today):
        ds = d.isoformat()
        os.makedirs(os.path.join(root, ds), exist_ok=True)
        for hh in spec.hours:
            # unique (ISIN, Time): the same number of trades in every file,
            # at distinct (ISIN, minute) slots
            slots = spec.isins * 60
            k = int(slots * spec.trades_per_hour)
            isin_i, minute = np.divmod(np.sort(rng.choice(slots, k, replace=False)), 60)
            start = np.round(base[isin_i] * rng.uniform(0.97, 1.03, k), 2)
            end = np.round(start * rng.uniform(0.99, 1.01, k), 2)
            hi = np.round(np.maximum(start, end) * rng.uniform(1.0, 1.01, k), 2)
            lo = np.round(np.minimum(start, end) * rng.uniform(0.99, 1.0, k), 2)
            df = pd.DataFrame(
                {
                    "ISIN": isins[isin_i],
                    "Mnemonic": mnemonics[isin_i],
                    "Currency": "EUR",
                    "SecurityType": "Common stock",
                    "Date": ds,
                    "Time": [f"{hh:02d}:{m:02d}" for m in minute],
                    "StartPrice": start,
                    "MaxPrice": hi,
                    "MinPrice": lo,
                    "EndPrice": end,
                    "TradedVolume": rng.integers(1, 5000, k),
                    "NumberOfTrades": rng.integers(1, 50, k),
                }
            )
            path = os.path.join(root, ds, f"{ds}_BINS_XETR{hh:02d}.csv")
            df.to_csv(path, index=False, float_format="%.2f")
            rows_by_date[ds] = rows_by_date.get(ds, 0) + k
            files += 1
            nbytes += os.path.getsize(path)
    return {
        "rows": sum(rows_by_date.values()),
        "files": files,
        "bytes": nbytes,
        "rows_by_date": rows_by_date,
    }
