"""The rank statistics' one primitive, ``plans.global_rank.doubled_midranks``,
and their one NULL rule: a NULL value is not an observation.

- the primitive against a Python brute force, keyed and unkeyed, with
  NULL values, NULL keys, all-ties, single rows and empty input;
- Kruskal–Wallis over one value held by 2.2 M rows, whose t³ − t
  overflows a BIGINT;
- the raw-value statistics against their DuckDB oracles on a copy of the
  tables with every 97th price NULL;
- a guard that fails on a second copy of the mid-rank or the χ² cells.
"""

from __future__ import annotations

import inspect
import os
import shutil
import sys
from fractions import Fraction

import duckdb
import parity
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import trading_data_pipeline_spark.session as session
from trading_data_pipeline_spark.operators import (
    bi_queries,
    stattests2_queries,
    stattests_queries,
)
from trading_data_pipeline_spark.plans.global_rank import doubled_midranks
from trading_data_pipeline_spark.registry import load


def _brute_force(hist: dict) -> set:
    """(k, v, cnt, mid2, tie3) from the definition: the rows of a value
    take the ranks below+1 … below+cnt among the non-NULL values of
    their key."""
    out = set()
    for (k, v), cnt in hist.items():
        if v is None:
            continue
        below = sum(
            c for (k2, v2), c in hist.items() if k2 == k and v2 is not None and v2 < v
        )
        ranks = range(below + 1, below + cnt + 1)
        mid2 = Fraction(2 * sum(ranks), cnt)
        assert mid2.denominator == 1
        out.add((k, v, cnt, int(mid2), cnt**3 - cnt))
    return out


_hists = st.dictionaries(
    st.tuples(st.sampled_from([None, "a", "b"]), st.none() | st.integers(-3, 5)),
    st.integers(1, 4) | st.just(3_000_000),
    max_size=14,
)


@pytest.mark.parametrize("keyed", [True, False], ids=["keyed", "unkeyed"])
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(hist=_hists)
@example(hist={})
@example(hist={("a", 7): 1})
@example(hist={("a", None): 2})
@example(hist={("a", 1): 3, ("b", 1): 2, (None, 1): 5})
def test_doubled_midranks_match_brute_force(spark, keyed, hist):
    if not keyed:
        # one key: the unkeyed path ranks every row of the table together
        hist = {("a", v): c for (_, v), c in hist.items()}
    df = spark.createDataFrame(
        [(k, v, c) for (k, v), c in hist.items()], "k string, v long, cnt long"
    )
    got = {
        (r.k, r.v, r.cnt, r._mid2, int(r._tie3))
        for r in doubled_midranks(df, ["k"] if keyed else [], "v", "cnt").collect()
    }
    assert got == _brute_force(hist)


def test_kruskal_wallis_survives_a_value_held_by_2_2m_rows(spark):
    """Value 0 is held by 2,197,800 rows, so t³ − t ≈ 1.06e19 overflows a
    BIGINT (an ANSI error); the tie term runs in decimal(38,0). The 2,200
    other values are distinct and all in group 1."""
    n, every = 2_200_000, 1000
    ids = F.col("id")
    df = spark.range(n).select(
        (ids % 2).cast("string").alias("g"),
        F.when(ids % every == every - 1, ids + 1).otherwise(0).alias("v"),
    )
    r = stattests2_queries.kruskal_wallis(df, "g", F.col("v")).collect()[0]

    # rank sums from the definition: value 0 takes mid-rank (t0 + 1)/2,
    # the distinct values above it ranks t0 + 1 … n
    t0 = n - n // every
    zeros = {"0": n // 2, "1": n // 2 - n // every}
    r_sum = {g: Fraction(z * (t0 + 1), 2) for g, z in zeros.items()}
    r_sum["1"] += sum(range(t0 + 1, n + 1))
    s = sum(r**2 / (n // 2) for r in r_sum.values())
    h = Fraction(12, n * (n + 1)) * s - 3 * (n + 1)
    corr = 1 - Fraction(t0**3 - t0, n**3 - n)
    assert (r.n, r.k_groups, r.dof) == (n, 2, 1)
    assert abs(r.h - float(h)) <= 1e-4
    assert abs(r.h_tie_corrected - float(h / corr)) <= 1e-4


RAW_VALUE_QUERIES = [
    "q_ks_test",
    "q_spearman",
    "q_mann_whitney",
    "q_kruskal_wallis",
    "q_variance_ratio",
    "q_auc",
    "q_decile_lift",
]


def test_raw_value_statistics_match_their_oracles_on_null_prices(
    monkeypatch, spark, sf_dir, tmp_path, capsys
):
    """Every 97th ``events.value`` NULL: both engines leave those rows
    out, so they agree whatever order each sorts NULL in."""
    for f in os.listdir(sf_dir):
        shutil.copy(os.path.join(sf_dir, f), tmp_path / f)
    events = str(tmp_path / "events.parquet")
    duckdb.execute(
        "COPY (SELECT * REPLACE (CASE WHEN event_id % 97 <> 0 THEN value END AS value)"
        f" FROM read_parquet('{sf_dir}/events.parquet')) TO '{events}' (FORMAT parquet)"
    )
    monkeypatch.setattr(session, "build_session", lambda *args, **kwargs: spark)
    monkeypatch.setattr(sys, "argv", ["parity.py", str(tmp_path), *RAW_VALUE_QUERIES])
    assert parity.main() == 0
    n = len(RAW_VALUE_QUERIES)
    assert f"\n{n}/{n} parity-clean" in capsys.readouterr().out

    priced = dict(
        duckdb.execute(
            f"SELECT event_type, count(value) FROM read_parquet('{events}') GROUP BY 1"
        ).fetchall()
    )
    assert sum(priced.values()) < 1000
    got = stattests_queries.variance_ratio(load(spark, str(tmp_path), "events"))
    pairs = {(r.type_a, r.type_b): (r.n_a, r.n_b) for r in got.collect()}
    assert pairs and all(nn == (priced[a], priced[b]) for (a, b), nn in pairs.items())


def test_rank_statistics_share_one_midrank_and_one_chi2_table():
    """The rank statistics take their ranks from ``doubled_midranks``
    alone, and the χ² cells are written once per engine: a second copy
    of either fails here."""
    for fn in (
        stattests_queries.spearman,
        stattests_queries.mann_whitney,
        stattests2_queries.kruskal_wallis,
        bi_queries.auc_exact,
    ):
        src = inspect.getsource(fn)
        assert "Window." not in src and "global_cumsum(" not in src, fn.__name__
    srcs = [inspect.getsource(m) for m in (stattests_queries, stattests2_queries)]
    assert sum(s.count("CHI2_SCALE =") for s in srcs) == 1
    assert sum(s.count("JOIN ct USING (c)") for s in srcs) == 1
    assert sum(s.count('groupBy("r").agg(') for s in srcs) == 1
