"""Round-11 optimization pins.

Each test targets an internals change from the round-11 optimization
pass and pins the property that makes the rewrite EXACT:

- containment's count-only candidate prune (I_ub = c_ab + min(h_a, h_b))
  must never drop a true pair whose shared shingles are mostly HOT
  (df > max_df) — the false-negative trap if the hot term is ever lost —
  nor a pair whose raw ratio sits just below the threshold but rounds
  up to it (the output's 4-place rounding is the semantics);
- spearman's distinct-value rank tables must reproduce the row-window
  mid-ranks exactly, with ties, over the rows whose x and y are both
  non-NULL (a NULL value is not an observation) — pinned by computing
  the OLD row-window formulation inline;
- keyed_fanout's clamp behavior at both ends.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _trigrams(text: str) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}


def test_containment_prune_keeps_hot_gram_dominated_pairs(spark):
    """Docs 1/2 reach containment 1.0 mostly through BOILERPLATE
    shingles shared by four docs (df = 4 > max_df = 2, so they are
    invisible to candidate generation and to c_ab): if the prune's
    hot-gram term min(h_a, h_b) were dropped, I_ub would fall below
    t·min(n_a, n_b) and the TRUE pair would be silently pruned."""
    from trading_data_pipeline_spark.operators.dedup import (
        containment_pairs,
    )

    boiler = " ".join(f"b{i}" for i in range(10))
    texts = {
        1: f"{boiler} r1 r2 r3",
        2: f"{boiler} r1 r2 r3 x1",  # superset of 1: containment 1.0
        3: f"{boiler} y1 y2 y3 y4",  # makes the boiler shingles hot
        4: f"{boiler} z1 z2 z3 z4",
        # 5/6 share ONE rare shingle but are otherwise disjoint — a
        # classic false candidate the bound must (and does) reject
        # without touching the arrays; only absence is observable here.
        5: "q1 q2 q3 " + " ".join(f"u{i}" for i in range(20)),
        6: "q1 q2 q3 " + " ".join(f"v{i}" for i in range(20)),
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r.doc_a, r.doc_b): r
        for r in containment_pairs(docs, max_df=2).collect()
    }
    # brute-force expectation over word trigram sets
    a, b = _trigrams(texts[1]), _trigrams(texts[2])
    assert len(a & b) / min(len(a), len(b)) == 1.0
    assert (1, 2) in got, "true pair pruned — hot-gram bound broken"
    assert got[(1, 2)].containment == 1.0
    assert (5, 6) not in got  # containment 1/21 < 0.8
    # no pair involving 3/4 verifies (distinct tails, shared part only
    # reaches containment |shared| / min < 0.8)
    for k in got:
        assert set(k) <= {1, 2}, f"unexpected pair {k}"


def test_containment_prune_keeps_pairs_that_round_up_to_threshold(spark):
    """Doc 1 has 4009 trigrams, 3608 of them shared with doc 2: the raw
    containment 3608/4009 = 0.899975 is below t = 0.9, but the output
    rounds it to 0.9 and the final filter keeps it. The candidate prune
    must be at least as loose as that filter — a prune at t·min
    (3608 < 3608.1) dropped this true pair."""
    from trading_data_pipeline_spark.operators.dedup import (
        containment_pairs,
    )

    words = [f"a{i}" for i in range(4011)]
    texts = {
        1: " ".join(words),
        2: " ".join(words[:3610] + [f"b{i}" for i in range(501)]),
    }
    a, b = _trigrams(texts[1]), _trigrams(texts[2])
    assert (len(a), len(b), len(a & b)) == (4009, 4109, 3608)
    raw = len(a & b) / min(len(a), len(b))
    assert 0.9 - 5e-5 <= raw < 0.9 and round(raw, 4) == 0.9
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = [
        (r.doc_a, r.doc_b, r.containment)
        for r in containment_pairs(docs, min_containment=0.9).collect()
    ]
    assert got == [(1, 2, 0.9)]


@pytest.mark.parametrize("with_nulls", [False, True, "null_group"])
def test_spearman_distinct_rank_equals_row_window(spark, with_nulls):
    """The two-pass rank (distinct-value histogram + join-back) must
    give the ρ of the original row-window formulation
    2·rank() + count(ties) − 3 over the rows whose x and y are both
    non-NULL, with ties — and it must keep a NULL group, which the row
    window partitions like any other (an equi-join on the group key
    would drop its rows)."""
    from pyspark.sql import Window

    from trading_data_pipeline_spark.operators.stattests_queries import (
        spearman,
    )

    rows = [
        ("g1", 10, 5),
        ("g1", 10, 7),  # tie on x
        ("g1", 20, 7),  # tie on y
        ("g1", 30, 1),
        ("g1", 40, 9),
        ("g2", 1, 1),
        ("g2", 2, 2),
        ("g2", 3, 3),
    ]
    if with_nulls:
        rows += [("g1", None, 4), ("g1", None, 2), ("g2", None, None)]
    if with_nulls == "null_group":
        rows += [(None, 5, 1), (None, 6, 3), (None, 6, 2), (None, None, 7)]
    df = spark.createDataFrame(rows, "g string, x long, y long")

    got = {
        r.event_type: (r.n_rows, r.spearman_rho)
        for r in spearman(df, "g", F.col("x"), F.col("y")).collect()
    }

    # reference: the pre-round-11 row-window formulation, verbatim, over
    # the pairwise-complete rows
    def ranks2(col):
        wr = Window.partitionBy("g").orderBy(col)
        wt = Window.partitionBy("g", col)
        return (
            F.lit(2) * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 3
        ).cast("long")

    complete = df.filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    r = complete.withColumn("rx", ranks2("x")).withColumn("ry", ranks2("y"))
    _dec = "decimal(38,0)"
    agg = r.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum((F.col("rx") * F.col("ry")).cast(_dec)).alias("sxy"),
        F.sum((F.col("rx") * F.col("rx")).cast(_dec)).alias("sxx"),
        F.sum((F.col("ry") * F.col("ry")).cast(_dec)).alias("syy"),
    )
    num = (
        F.col("n").cast(_dec) * F.col("sxy")
        - F.col("sx").cast(_dec) * F.col("sy").cast(_dec)
    ).cast("double")
    dx = (
        F.col("n").cast(_dec) * F.col("sxx")
        - F.col("sx").cast(_dec) * F.col("sx").cast(_dec)
    ).cast("double")
    dy = (
        F.col("n").cast(_dec) * F.col("syy")
        - F.col("sy").cast(_dec) * F.col("sy").cast(_dec)
    ).cast("double")
    rho = F.when((dx > 0) & (dy > 0), num / (F.sqrt(dx) * F.sqrt(dy)))
    from trading_data_pipeline_spark.functions.quantize import q as _q
    from trading_data_pipeline_spark.operators.stattests_queries import (
        RHO_SCALE,
    )

    want = {
        r.g: (r.n, r.rho)
        for r in agg.select(
            "g", F.col("n").alias("n"), _q(rho, RHO_SCALE).alias("rho")
        ).collect()
    }
    if with_nulls == "null_group":
        assert None in want and want[None][0] == 3
    assert got == want


def test_keyed_fanout_clamps_to_core_band(spark):
    from trading_data_pipeline_spark.plans.parallelism import keyed_fanout

    # the session fixture runs local[8]: the band is [8, 64]
    assert spark.sparkContext.defaultParallelism == 8

    def splits(n):
        return spark.range(0, 1000, 1, numPartitions=n)

    assert keyed_fanout(splits(1)) == 8  # floor: 8 x 1 = 8 = cores
    assert keyed_fanout(splits(3)) == 24  # inside the band: 8 x 3
    assert keyed_fanout(splits(8)) == 64  # 8 x 8 meets the ceiling
    assert keyed_fanout(splits(200)) == 64  # ceiling: 8 x cores
    assert keyed_fanout(splits(3), per_split=2) == 8  # 6 lifted to the floor
    assert keyed_fanout(splits(5), per_split=2) == 10
    assert keyed_fanout(splits(50), per_split=2) == 16  # ceiling: 2 x cores
