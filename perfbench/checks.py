"""Output checks, run outside the timed section.

- Registered queries with oracle SQL: the Spark result against DuckDB,
  with ``tools/parity.py``'s ``duckdb_con`` and ``compare``.
- Set-similarity joins whose oracle is too slow to run per benchmark run
  (the all-pairs token Jaccard join) or that have none (banded MinHash,
  rare-shingle containment): recomputed exactly with NumPy from the
  generated documents.
- The Report1 ETL: the written report against an independent DuckDB
  computation from the generated CSVs, and the meta file's date set.

Every check returns a list of error strings; empty means correct.
"""

from __future__ import annotations

import os
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
if _TOOLS not in sys.path:
    sys.path.insert(0, _TOOLS)

from parity import compare, duckdb_con, normalize  # noqa: E402,F401


def spark_round(x: float, digits: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on the decimal string form."""
    if x is None or (isinstance(x, float) and np.isnan(x)):
        return x
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def frames_match(spark_pdf: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """``parity.compare``, with a vectorised fast path for equal frames:
    the cell-by-cell compare only runs when the fast path sees a
    difference, so its verdict and messages stay authoritative."""
    if sorted(spark_pdf.columns) == sorted(expected.columns) and len(spark_pdf) == len(
        expected
    ):
        a, b = normalize(spark_pdf), normalize(expected)
        if all(str(a[c].dtype) == str(b[c].dtype) for c in a.columns) and a.equals(b):
            return []
    return compare(spark_pdf, expected)


_ROUND = re.compile(r"\bround\(", re.IGNORECASE)


def check_oracle(con, oracle_sql: str, spark_pdf: pd.DataFrame) -> list[str]:
    """The result against the oracle. When they differ and the oracle
    rounds, it is run again with Spark's rounding in place of DuckDB's:
    the two differ by one unit at an exact tie of the decimal form (a
    percentage of 2-decimal values can land on one), and every other
    difference remains."""
    errs = frames_match(spark_pdf, con.execute(oracle_sql).fetchdf())
    if not errs or not _ROUND.search(oracle_sql):
        return errs
    registered = con.execute(
        "SELECT count(*) FROM duckdb_functions() WHERE function_name = 'spark_round'"
    ).fetchall()[0][0]
    if not registered:
        con.create_function(
            "spark_round", spark_round, ["DOUBLE", "INTEGER"], "DOUBLE", side_effects=False
        )
    ties = con.execute(_ROUND.sub("spark_round(", oracle_sql)).fetchdf()
    return errs if frames_match(spark_pdf, ties) else []


# ------------------------------------------------------- set similarity


def _token_matrix(texts: list[str]) -> np.ndarray:
    vocab: dict[str, int] = {}
    rows = [[vocab.setdefault(w, len(vocab)) for w in set(t.split(" "))] for t in texts]
    m = np.zeros((len(texts), len(vocab)), dtype=np.float32)
    for i, cols in enumerate(rows):
        m[i, cols] = 1.0
    return m


def exact_token_jaccard_pairs(
    docs: pd.DataFrame, threshold: float, block: int = 1000
) -> pd.DataFrame:
    """All pairs ``doc_a < doc_b`` with token-set Jaccard >= threshold,
    by brute force over a doc x token matrix (the oracle's definition)."""
    docs = docs.sort_values("doc_id")
    ids = docs["doc_id"].to_numpy()
    m = _token_matrix(docs["text"].tolist())
    size = m.sum(axis=1)
    out_a, out_b, out_i, out_u = [], [], [], []
    for lo in range(0, len(ids), block):
        inter = m[lo : lo + block] @ m.T
        union = size[lo : lo + block, None] + size[None, :] - inter
        jac = inter.astype(np.float64) / union.astype(np.float64)
        upper = ids[lo : lo + block, None] < ids[None, :]
        r, c = np.nonzero((jac >= threshold) & upper)
        out_a.append(ids[lo + r])
        out_b.append(ids[c])
        out_i.append(inter[r, c].astype(np.int64))
        out_u.append(union[r, c].astype(np.int64))
    a, b = np.concatenate(out_a), np.concatenate(out_b)
    i, u = np.concatenate(out_i), np.concatenate(out_u)
    return pd.DataFrame({"doc_a": a, "doc_b": b, "jaccard": _round_ratio(i, u)})


def _round_ratio(num: np.ndarray, den: np.ndarray, digits: int = 4) -> np.ndarray:
    """``spark_round(num / den)`` over arrays with few distinct pairs."""
    keys = np.stack([num, den], axis=1)
    uniq, inv = np.unique(keys, axis=0, return_inverse=True)
    vals = np.array([spark_round(n / d, digits) for n, d in uniq], dtype=np.float64)
    return vals[inv.reshape(-1)]


def check_jaccard_join(spark_pdf: pd.DataFrame, docs: pd.DataFrame, threshold: float) -> list[str]:
    return frames_match(spark_pdf, exact_token_jaccard_pairs(docs, threshold))


def shingle_sets(docs: pd.DataFrame, n: int = 3) -> dict[int, set]:
    out = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = text.split(" ")
        if len(toks) >= n:
            out[int(doc_id)] = {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    return out


def duplicate_families(docs: pd.DataFrame) -> list[list[int]]:
    """Groups of documents planted as copies of one text (exact copies,
    and copies with " dup" appended)."""
    fam: dict[str, list[int]] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        base = text
        while base.endswith(" dup"):
            base = base[: -len(" dup")]
        fam.setdefault(base, []).append(int(doc_id))
    return [sorted(ids) for ids in fam.values() if len(ids) > 1]


def check_shingle_pairs(
    spark_pdf: pd.DataFrame,
    docs: pd.DataFrame,
    min_col: str,
    min_value: float,
) -> list[str]:
    """Soundness and planted recall of a 3-gram shingle pair join.

    Every returned pair's ``jaccard`` (and ``containment`` when present)
    must equal the exact value over word 3-gram sets, rounded as Spark
    rounds, and pass ``min_col >= min_value``. Every pair inside a planted
    duplicate family (similarity ~1) must be returned."""
    errs: list[str] = []
    sh = shingle_sets(docs)
    got = set()
    bad = 0
    for row in spark_pdf.itertuples(index=False):
        a, b = int(row.doc_a), int(row.doc_b)
        got.add((min(a, b), max(a, b)))
        sa, sb = sh.get(a), sh.get(b)
        if sa is None or sb is None:
            errs.append(f"pair ({a},{b}) names a document without shingles")
            continue
        inter = len(sa & sb)
        want = {"jaccard": spark_round(inter / (len(sa) + len(sb) - inter), 4)}
        if "containment" in spark_pdf.columns:
            want["containment"] = spark_round(inter / min(len(sa), len(sb)), 4)
        for col, val in want.items():
            if getattr(row, col) != val:
                bad += 1
                if bad <= 3:
                    errs.append(f"pair ({a},{b}) {col}={getattr(row, col)!r}, exact {val!r}")
        if want[min_col] < min_value:
            errs.append(f"pair ({a},{b}) below threshold: {min_col}={want[min_col]}")
    if bad > 3:
        errs.append(f"... {bad} wrong values in total")
    if len(got) != len(spark_pdf):
        errs.append(f"{len(spark_pdf) - len(got)} duplicate pairs")
    missing = [
        (x, y)
        for ids in duplicate_families(docs)
        for i, x in enumerate(ids)
        for y in ids[i + 1 :]
        if (x, y) not in got
    ]
    if missing:
        errs.append(f"{len(missing)} planted duplicate pairs missing, e.g. {missing[:3]}")
    return errs


# ---------------------------------------------------------------- ETL

REPORT_COLUMNS = [
    "ISIN",
    "Date",
    "opening_price_eur",
    "closing_price_eur",
    "minimum_price_eur",
    "maximum_price_eur",
    "daily_traded_volume",
    "change_prev_closing_%",
]

_XETRA_COLUMNS = (
    "{'ISIN': 'VARCHAR', 'Mnemonic': 'VARCHAR', 'Currency': 'VARCHAR', "
    "'SecurityType': 'VARCHAR', 'Date': 'VARCHAR', 'Time': 'VARCHAR', "
    "'StartPrice': 'DOUBLE', 'MaxPrice': 'DOUBLE', 'MinPrice': 'DOUBLE', "
    "'EndPrice': 'DOUBLE', 'TradedVolume': 'BIGINT', 'NumberOfTrades': 'BIGINT'}"
)


def expected_report1(csv_files: list[str], cutoff: str) -> pd.DataFrame:
    """Report1 from the source CSVs, computed by DuckDB: per (ISIN, Date)
    open/close by Time, min, max, volume sum; pct change of the opening
    price against the previous scanned date; rows from ``cutoff`` on."""
    import duckdb

    if not csv_files:
        return pd.DataFrame(columns=REPORT_COLUMNS)
    files = "[" + ", ".join(f"'{f}'" for f in csv_files) + "]"
    df = duckdb.connect().execute(
        f"""
        WITH src AS (
          SELECT * FROM read_csv({files}, header = true, columns = {_XETRA_COLUMNS})
          WHERE ISIN IS NOT NULL AND Mnemonic IS NOT NULL AND Date IS NOT NULL
            AND Time IS NOT NULL AND StartPrice IS NOT NULL AND EndPrice IS NOT NULL
            AND MinPrice IS NOT NULL AND MaxPrice IS NOT NULL
            AND TradedVolume IS NOT NULL
        ), day AS (
          SELECT ISIN, Date,
                 arg_min(StartPrice, Time) AS o, arg_max(StartPrice, Time) AS c,
                 min(MinPrice) AS lo, max(MaxPrice) AS hi,
                 sum(TradedVolume)::BIGINT AS v
          FROM src GROUP BY ISIN, Date
        )
        SELECT ISIN, Date, o, c, lo, hi, v,
               lag(o) OVER (PARTITION BY ISIN ORDER BY Date) AS prev
        FROM day
        """
    ).fetchdf()
    pct = [
        None if (p is None or np.isnan(p) or p == 0) else (o - p) / p * 100
        for o, p in zip(df["o"], df["prev"])
    ]
    out = pd.DataFrame(
        {
            "ISIN": df["ISIN"],
            "Date": df["Date"],
            "opening_price_eur": [spark_round(x, 2) for x in df["o"]],
            "closing_price_eur": [spark_round(x, 2) for x in df["c"]],
            "minimum_price_eur": [spark_round(x, 2) for x in df["lo"]],
            "maximum_price_eur": [spark_round(x, 2) for x in df["hi"]],
            "daily_traded_volume": df["v"].astype("int64"),
            "change_prev_closing_%": [
                np.nan if x is None else spark_round(x, 2) for x in pct
            ],
        }
    )
    return out[out["Date"] >= cutoff].reset_index(drop=True)


def check_report(report: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    if len(expected) == 0:
        return [f"expected an empty extract, got {len(report)} report rows"] if len(report) else []
    return frames_match(report, expected)


def check_meta_dates(meta_dates: list[str], expected: list[str]) -> list[str]:
    if sorted(meta_dates) == sorted(expected):
        return []
    extra = sorted(set(meta_dates) - set(expected))
    missing = sorted(set(expected) - set(meta_dates))
    dup = len(meta_dates) - len(set(meta_dates))
    return [f"meta dates differ: missing {missing[:3]}, extra {extra[:3]}, duplicates {dup}"]
