"""Scale-toolkit tests: salted joins produce identical results to plain
joins; bucketed tables join without exchanges; the session defaults carry
the AQE/skew knobs the 100 TB design assumes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trading_data_pipeline_spark.plans.skew import salted_join
from trading_data_pipeline_spark.registry import load
from trading_data_pipeline_spark.sources.bucketed import read_table, write_bucketed


def test_session_scale_knobs(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_salted_join_equals_plain_join(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    users = (
        events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    )
    plain = events.join(users, ["user_id"]).select("event_id", "n")
    salted = salted_join(events, users, on=["user_id"]).select("event_id", "n")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    small = spark.createDataFrame([(1, "x")], "k int, w string")
    out = salted_join(big, small, on=["k"], how="left", salt=4)
    rows = {r.k: r.w for r in out.collect()}
    assert rows == {1: "x", 2: None, 3: None}


def test_salted_join_spreads_hot_key(spark):
    """A single hot key must end up with >1 distinct salt (the whole point)."""
    from trading_data_pipeline_spark.plans.skew import SALT_COL

    hot = spark.range(0, 10_000).select(
        F.lit(7).alias("k"), F.col("id").alias("payload")
    )
    salted = hot.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*[F.col(c) for c in hot.columns]), F.lit(16))
    )
    n_salts = salted.select(SALT_COL).distinct().count()
    assert n_salts == 16


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    write_bucketed(
        orders, "b_orders", ["o_custkey"], 8,
        sort_keys=["o_custkey"], path=str(tmp_path / "b_orders"),
    )
    write_bucketed(
        customer.withColumn("c_custkey", F.col("c_custkey")),
        "b_customer", ["c_custkey"], 8,
        sort_keys=["c_custkey"], path=str(tmp_path / "b_customer"),
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_table(spark, "b_orders").join(
            read_table(spark, "b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # sanity: it actually joins
        assert joined.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_range_join_bucketed_equals_naive(spark, sf_dir):
    from trading_data_pipeline_spark.operators.rangejoin import range_join_bucketed

    orders = load(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("a", 0.0, 123_456.0), ("b", 123_456.0, 222_222.0),
         ("c", 222_222.0, 1_000_000.0)],
        "band string, lo double, hi double",
    )
    naive = orders.join(
        bands,
        (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
    ).select("o_orderkey", "band")
    bucketed = range_join_bucketed(
        orders, bands, "o_totalprice", "lo", "hi", bucket_width=75_000.0
    ).select("o_orderkey", "band")
    assert sorted(map(tuple, naive.collect())) == sorted(map(tuple, bucketed.collect()))
    # and it is a hash join on the bucket key, not a nested loop
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("m_bits, k", [(64, 1), (1 << 17, 5)])
def test_bloom_pruned_join_equals_plain_inner_join(spark, m_bits, k):
    """The Bloom pre-filter never drops a matching fact row and the closing
    equi-join removes its false positives: the result is the plain inner
    join's row multiset. Fact keys repeat, most are absent from the
    selective dim, and one is NULL; a 64-bit, one-hash filter lets false
    positives through."""
    from collections import Counter

    from trading_data_pipeline_spark.plans.bloom import (
        bloom_bitmap, bloom_pruned_join, with_bloom_filter,
    )

    fact = spark.createDataFrame(
        [(None, -1)] + [(i % 200, i) for i in range(800)], "k long, v long"
    )
    dim = spark.createDataFrame(
        [(3, "a"), (7, "b"), (41, "c"), (1000, "d")], "dk long, name string"
    )
    cols = ["k", "v", "dk", "name"]
    want = Counter(map(tuple, fact.join(dim, fact["k"] == dim["dk"]).select(cols).collect()))
    got = bloom_pruned_join(fact, dim, "k", "dk", m_bits=m_bits, k=k).select(cols)
    assert Counter(map(tuple, got.collect())) == want
    assert sum(want.values()) == 3 * 4
    if m_bits == 64:
        passed = with_bloom_filter(fact, bloom_bitmap(dim, "dk", m_bits, k), "k", m_bits, k)
        assert passed.count() > sum(want.values())  # false positives to remove


def test_global_ntile_matches_window_ntile_on_random_data(spark):
    """Property: the two-pass bucketed ntile must agree bit-for-bit with
    Spark's own single-partition ntile window (the semantics oracle) on
    random sizes, duplicates, and tile counts."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from trading_data_pipeline_spark.plans.global_rank import global_ntile

    rng = random.Random(11)
    for trial in range(6):
        n_rows = rng.choice([1, 2, 3, 7, 50, 315])
        n_tiles = rng.choice([2, 3, 4, 7, 10])
        rows = [(i, float(rng.randint(0, 9))) for i in range(n_rows)]  # heavy ties
        df = spark.createDataFrame(rows, "id long, v double")
        got = {
            r["id"]: r["tile"]
            for r in global_ntile(df, n_tiles, ["v", "id"]).collect()
        }
        w = Window.orderBy("v", "id")
        want = {
            r["id"]: r["t"]
            for r in df.select("id", F.ntile(n_tiles).over(w).alias("t")).collect()
        }
        assert got == want, (trial, n_rows, n_tiles)


def test_global_ntile_and_dup_clusters_handle_empty_input(spark):
    from pyspark.sql import functions as F

    from trading_data_pipeline_spark.operators.dedup import dup_clusters
    from trading_data_pipeline_spark.plans.global_rank import global_ntile

    empty_vals = spark.createDataFrame([], "id long, v double")
    assert global_ntile(empty_vals, 4, ["v", "id"]).count() == 0

    empty_pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = dup_clusters(empty_pairs)
    assert out.columns == ["doc_id", "cluster_id"]
    assert out.count() == 0


def test_zorder_layout_bounds_both_dimensions(spark, tmp_path):
    """Z-order clustering must give every output file a bounded min/max
    range in BOTH key dimensions (that is what parquet zone maps prune
    on); a single-column sort bounds only its own column and leaves the
    other at the full global range."""
    import statistics

    from pyspark.sql import functions as F

    from trading_data_pipeline_spark.plans.zorder import zorder_layout
    from trading_data_pipeline_spark.registry import load

    # sf0.01: wide enough key ranges (150 users x 30 days) for a 32-file
    # split to show per-dimension bounding; sf0.001's 15 users are not
    ev = load(spark, "/root/testdata/sf0.01", "events").select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).alias("day"),
    )
    zdir, sdir = str(tmp_path / "z"), str(tmp_path / "s")
    zorder_layout(ev, "user_id", "day", 32).drop("__zkey").write.parquet(zdir)
    ev.repartitionByRange(32, "day").sortWithinPartitions("day").write.parquet(sdir)

    def mean_spans(path):
        rows = (
            spark.read.parquet(path)
            .withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg(
                (F.max("user_id") - F.min("user_id")).alias("us"),
                (F.max("day") - F.min("day")).alias("ds"),
            )
            .collect()
        )
        return (
            statistics.mean(r.us for r in rows),
            statistics.mean(r.ds for r in rows),
        )

    g_user, g_day = ev.agg(
        F.max("user_id") - F.min("user_id"), F.max("day") - F.min("day")
    ).first()
    z_us, z_ds = mean_spans(zdir)
    s_us, s_ds = mean_spans(sdir)
    # day-sort bounds day but leaves user_id at the global range
    assert s_us > 0.9 * g_user
    # z-order bounds BOTH: user far below the single-sort layout, day
    # well below the global span
    assert z_us < 0.33 * s_us, (z_us, s_us)
    assert z_ds < 0.6 * g_day, (z_ds, g_day)


def test_morton_key_matches_python_reference(spark):
    """The Spark bit-spread formula must agree with a from-scratch Python
    interleave for values across the full 16-bit domain (including the
    mask boundaries), and be injective on distinct (a, b) pairs."""

    def py_morton(a: int, b: int) -> int:
        out = 0
        for bit in range(16):
            out |= ((a >> bit) & 1) << (2 * bit)
            out |= ((b >> bit) & 1) << (2 * bit + 1)
        return out

    import random

    from pyspark.sql import functions as F

    from trading_data_pipeline_spark.plans.zorder import morton_key

    rng = random.Random(11)
    cases = [(0, 0), (65535, 65535), (65535, 0), (0, 65535), (1, 2)] + [
        (rng.randrange(65536), rng.randrange(65536)) for _ in range(200)
    ]
    df = spark.createDataFrame(cases, "a long, b long")
    got = {
        (r.a, r.b): r.z
        for r in df.select(
            "a", "b", morton_key(F.col("a"), F.col("b")).alias("z")
        ).collect()
    }
    assert got == {(a, b): py_morton(a, b) for a, b in cases}
    assert len(set(got.values())) == len(set(cases))
