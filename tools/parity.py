"""Local mirror of the driver's DuckDB-oracle correctness check.

Runs every registered query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, column names/types, and
order-insensitive values (columns sorted by name, rows sorted by all
columns). Catches hash mismatches before the driver does.

Usage: python tools/parity.py [sf_dir] [query ...]

With query names, only those run and the count is over them; an unknown
name exits 2 before Spark starts.
"""

from __future__ import annotations

import math
import os
import sys
import time

# runnable as `python tools/parity.py` from the repo root without PYTHONPATH
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    from trading_data_pipeline_spark.registry import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object and s.map(lambda v: isinstance(v, (list, tuple))).any():
            df[c] = s.map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
        # unify datetimes/dates to ISO strings, decimals to float
        elif "datetime" in str(s.dtype):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v) if hasattr(v, "isoformat") else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def canon_dtype(s: pd.Series) -> str:
    """Canonical type class for a result column, mirroring how a value hash
    would serialize it. int-vs-float drift (e.g. a DuckDB HUGEINT ``sum()``
    fetched as float64/object against Spark's int64) must FAIL here even
    when the values compare numerically equal — that exact drift produced
    5 red driver rows in CORRECTNESS_r05 while this mirror stayed green."""
    import datetime
    import decimal

    d = str(s.dtype)
    if "datetime" in d:
        # date vs timestamp is NOT driver-breaking (r5 evidence: Spark
        # DateType objects vs DuckDB datetime64 hashed equal), so one class
        return "datetime"
    if d.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if d.startswith(("float", "Float")):
        return "float"
    if d == "bool" or d == "boolean":
        return "bool"
    if d == "object":
        for v in s:
            if v is None or v is pd.NA:
                continue
            try:
                if pd.isna(v):
                    continue
            except (TypeError, ValueError):
                pass
            if isinstance(v, bool):
                return "bool"
            if isinstance(v, int):
                return "int"
            if isinstance(v, (float, decimal.Decimal)):
                return "float" if isinstance(v, float) else "decimal"
            if isinstance(v, str):
                return "str"
            if isinstance(v, (bytes, bytearray)):
                return "bytes"
            if isinstance(v, (datetime.datetime, datetime.date)):
                return "datetime"
            if isinstance(v, (list, tuple)):
                return "list"
            return type(v).__name__
        return "null"
    return d


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    if (a is None or a is pd.NA) and (b is None or b is pd.NA):
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    errs: list[str] = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return [f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"]
    if len(spark_pdf) != len(duck_pdf):
        errs.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    # dtype-strict: the driver hashes values type-tagged, so a numeric
    # class mismatch is a hash mismatch even when values compare equal
    for c in sorted(spark_pdf.columns):
        ka, kb = canon_dtype(spark_pdf[c]), canon_dtype(duck_pdf[c])
        if "null" in (ka, kb):  # all-NULL column: class unknowable
            continue
        if ka != kb:
            errs.append(f"dtype col {c}: spark={ka} duck={kb} (driver hash would differ)")
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    n = min(len(a), len(b))
    bad = 0
    for i in range(n):
        for c in a.columns:
            if not values_equal(a.at[i, c], b.at[i, c]):
                bad += 1
                if bad <= 3:
                    errs.append(f"row {i} col {c}: spark={a.at[i, c]!r} duck={b.at[i, c]!r}")
    if bad > 3:
        errs.append(f"... {bad} mismatched cells total")
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from trading_data_pipeline_spark.registry import all_queries
    from trading_data_pipeline_spark.session import build_session

    specs = all_queries()
    unknown = sorted(only - set(specs))
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    selected = sorted(only or specs)
    spark = build_session("parity")
    con = duckdb_con(sf_dir)
    failed = []
    for name in selected:
        spec = specs[name]
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        if spec.oracle is None:
            print(f"ROWS  {name}: {len(sdf)} rows (rows-only) [{time.time()-t0:.1f}s]")
            if len(sdf) == 0:
                print(f"WARN  {name}: 0 rows")
            continue
        try:
            ddf = con.execute(spec.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        errs = compare(sdf, ddf)
        if errs:
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for e in errs[:6]:
                print(f"      {e}")
            failed.append(name)
        else:
            print(f"OK    {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(selected) - len(failed)}/{len(selected)} parity-clean" + (f"; FAILED: {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
