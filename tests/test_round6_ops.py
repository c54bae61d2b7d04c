"""Hand-built semantics for the round-6 batch: linear gap interpolation,
salted two-phase aggregation, sign random projection, and k-core peeling."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from trading_data_pipeline_spark.operators.analytics_queries import (
    activity_streaks,
    changepoint_daily,
    interpolate_daily,
)
from trading_data_pipeline_spark.operators.profiling_queries import (
    benford_profile,
)
from trading_data_pipeline_spark.operators.bi_queries import (
    auc_exact,
    decile_lift,
)
from trading_data_pipeline_spark.operators.graph_queries import kcore
from trading_data_pipeline_spark.operators.scale_ops import salted_agg_stats
from trading_data_pipeline_spark.operators.similarity_queries import (
    RP_IN_DIM,
    RP_OUT_DIM,
    _rp_signs,
    random_projection,
)
from trading_data_pipeline_spark.registry import load

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _ev(spark, rows):
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, d, h), u, "click", v, "{}")
            for i, (d, h, u, v) in enumerate(rows)
        ],
        EVENT_SCHEMA,
    )


# ------------------------------------------------------------- interpolate


def test_interpolate_fills_gap_linearly(spark):
    # user 1: day 1 -> 10.0, day 4 -> 40.0; days 2/3 are silent
    out = {
        (r.user_id, r.day.day): (r.value_interp, r.observed)
        for r in interpolate_daily(
            _ev(spark, [(1, 9, 1, 10.0), (4, 9, 1, 40.0)])
        ).collect()
    }
    assert out == {
        (1, 1): (10.0, True),
        (1, 2): (20.0, False),
        (1, 3): (30.0, False),
        (1, 4): (40.0, True),
    }


def test_interpolate_takes_days_last_observation(spark):
    # two observations on day 1 (hours 9 and 15): the later one anchors
    out = {
        r.day.day: r.value_interp
        for r in interpolate_daily(
            _ev(spark, [(1, 9, 1, 99.0), (1, 15, 1, 10.0), (3, 9, 1, 30.0)])
        ).collect()
    }
    assert out == {1: 10.0, 2: 20.0, 3: 30.0}


def test_interpolate_single_observation_user(spark):
    rows = interpolate_daily(_ev(spark, [(5, 9, 7, 3.5)])).collect()
    assert len(rows) == 1 and rows[0].value_interp == 3.5 and rows[0].observed


def test_interpolate_never_null_inside_spine(spark):
    out = interpolate_daily(
        _ev(spark, [(1, 9, 1, 1.0), (9, 9, 1, 5.0), (2, 9, 2, 7.0)])
    )
    assert out.filter(F.col("value_interp").isNull()).count() == 0


# -------------------------------------------------------------- salted agg


def test_salted_agg_matches_plain_groupby(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    got = {
        r.event_type: r for r in salted_agg_stats(ev, salt=4).collect()
    }
    plain = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min(F.col("value").cast("decimal(18,2)")).cast("double").alias("mn"),
            F.max(F.col("value").cast("decimal(18,2)")).cast("double").alias("mx"),
        )
        .collect()
    }
    assert set(got) == set(plain)
    for t, p in plain.items():
        g = got[t]
        assert (g.n_events, g.n_users, g.min_val, g.max_val) == (
            p.n_events,
            p.n_users,
            p.mn,
            p.mx,
        )


# ------------------------------------------------------- random projection


def test_rp_matrix_is_deterministic_and_balanced():
    m = _rp_signs()
    assert m == _rp_signs()
    assert len(m) == RP_OUT_DIM and all(len(r) == RP_IN_DIM for r in m)
    for row in m:
        assert set(row) <= {-1, 1}
        # md5-derived signs: balanced within a loose band
        assert abs(sum(row)) <= RP_IN_DIM // 2


def test_rp_matches_hand_dot_product(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").limit(5)
    rows = {r.vec_id: r for r in random_projection(emb).collect()}
    src = {r.vec_id: list(r.embedding) for r in emb.collect()}
    m = _rp_signs()
    for vid, vec in src.items():
        for j in range(RP_OUT_DIM):
            want = sum(s * float(x) for s, x in zip(m[j], vec)) / math.sqrt(
                RP_IN_DIM
            )
            want = math.floor(want * 10000 + 0.5) / 10000
            assert rows[vid][f"rp_{j}"] == want


def test_rp_preserves_relative_distance_order(spark, sf_dir):
    # J-L sanity: nearest-by-far pairs stay nearer than farthest-by-far
    emb = load(spark, sf_dir, "embeddings").limit(40)
    orig = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    proj = {
        r.vec_id: [r[f"rp_{j}"] for j in range(RP_OUT_DIM)]
        for r in random_projection(emb).collect()
    }
    ids = sorted(orig)

    def d(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    pairs = [(i, j) for i in ids for j in ids if i < j]
    od = sorted(pairs, key=lambda p: d(orig[p[0]], orig[p[1]]))
    near, far = od[: len(od) // 4], od[-len(od) // 4 :]
    mean_near = sum(d(proj[a], proj[b]) for a, b in near) / len(near)
    mean_far = sum(d(proj[a], proj[b]) for a, b in far) / len(far)
    assert mean_near < mean_far


# ------------------------------------------------------------------ k-core


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _py_kcore(pairs, k):
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    return {n: len(nb) for n, nb in adj.items()}


def test_kcore_triangle_with_tail(spark):
    # triangle {1,2,3} survives the 2-core; the 3-4 tail is peeled
    out = {
        r.node: r.core_degree
        for r in kcore(_edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)]), k=2).collect()
    }
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_cascading_peel(spark):
    # path 1-2-3-4-5: every node peels (cascade needs multiple rounds)
    assert (
        kcore(_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]), k=2).count() == 0
    )


def test_kcore_matches_reference_peel(spark, sf_dir):
    from trading_data_pipeline_spark.operators.graph_queries import (
        similarity_edges_for,
    )

    edges = similarity_edges_for(spark, sf_dir)
    pairs = [(r.id_a, r.id_b) for r in edges.collect()]
    want = _py_kcore(pairs, 2)
    got = {r.node: r.core_degree for r in kcore(edges, k=2).collect()}
    assert got == want


# ----------------------------------------------------- streaks / changepoint


def test_streaks_hand_built(spark):
    # user 1 active days 1,2,3,5,6 -> streaks [1-3],[5-6]; user 2 one day
    rows = activity_streaks(
        _ev(
            spark,
            [(1, 9, 1, 0.0), (2, 9, 1, 0.0), (2, 15, 1, 1.0), (3, 9, 1, 0.0),
             (5, 9, 1, 0.0), (6, 9, 1, 0.0), (4, 9, 2, 0.0)],
        )
    ).collect()
    by_user = {r.user_id: r for r in rows}
    r1 = by_user[1]
    assert (r1.n_streaks, r1.n_active_days, r1.longest_len) == (2, 5, 3)
    assert (r1.longest_start.day, r1.longest_end.day) == (1, 3)
    r2 = by_user[2]
    assert (r2.n_streaks, r2.n_active_days, r2.longest_len) == (1, 1, 1)


def test_streaks_tie_prefers_earliest(spark):
    # two streaks of equal length 2: [1-2] and [4-5] -> earliest wins
    r = activity_streaks(
        _ev(spark, [(1, 9, 1, 0.0), (2, 9, 1, 0.0), (4, 9, 1, 0.0), (5, 9, 1, 0.0)])
    ).collect()[0]
    assert (r.longest_len, r.longest_start.day, r.longest_end.day) == (2, 1, 2)


def test_changepoint_finds_level_shift(spark):
    # 1 event/day on days 1-5, then 5/day on days 6-10: the CUSUM bridge
    # bottoms out exactly at day 5 (the last pre-shift day)
    rows = []
    i = 0
    for d in range(1, 6):
        rows.append((d, 9, 1, 1.0))
    for d in range(6, 11):
        for h in range(9, 14):
            rows.append((d, h, 1, 1.0))
    out = changepoint_daily(_ev(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.change_day.day == 5
    assert r.cusum_dev == -10.0  # cum(5)=5, mean=3/day -> 5 - 15
    assert r.daily_mean == 3.0


# ------------------------------------------------------------------ Benford


def test_benford_digit_extraction(spark):
    # 1.23 -> 123 cents -> digit 1; 0.05 -> 5 -> digit 5; 987.0 -> digit 9
    # non-positive and zero-cent values are excluded
    out = {
        r.digit: r.n
        for r in benford_profile(
            _ev(
                spark,
                [(1, 9, 1, 1.23), (1, 10, 1, 0.05), (1, 11, 1, 987.0),
                 (1, 12, 1, 0.001), (1, 13, 1, -4.0)],
            )
        ).collect()
    }
    assert out == {1: 1, 5: 1, 9: 1}


def test_benford_shares_sum_to_one(spark, sf_dir):
    rows = benford_profile(load(spark, sf_dir, "events")).collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert abs(r.deviation - (r.share - r.expected_share)) < 1e-6


# -------------------------------------------------------------- model eval


def _scored(spark, rows):
    """rows: (event_id, score, is_pos)"""
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1, 9), 1, "purchase" if pos else "click", s, "{}")
            for i, s, pos in rows
        ],
        EVENT_SCHEMA,
    )


def test_auc_perfect_separation(spark):
    rows = [(i, float(i), i >= 5) for i in range(10)]  # pos always scores higher
    r = auc_exact(_scored(spark, rows)).collect()[0]
    assert (r.auc, r.n_pos, r.n_neg) == (1.0, 5, 5)


def test_auc_inverted_scores(spark):
    rows = [(i, float(-i), i >= 5) for i in range(10)]
    assert auc_exact(_scored(spark, rows)).collect()[0].auc == 0.0


def test_auc_all_tied_is_half(spark):
    rows = [(i, 1.0, i % 2 == 0) for i in range(10)]
    assert auc_exact(_scored(spark, rows)).collect()[0].auc == 0.5


def test_auc_matches_hand_rank_sum(spark):
    # scores: pos {3.0, 2.0}, neg {2.0, 1.0} -> pairs: (3>2)=1, (3>1)=1,
    # (2=2)=0.5, (2>1)=1 -> AUC = 3.5/4
    rows = [(0, 3.0, True), (1, 2.0, True), (2, 2.0, False), (3, 1.0, False)]
    assert auc_exact(_scored(spark, rows)).collect()[0].auc == 0.875


def test_decile_lift_structure(spark, sf_dir):
    out = decile_lift(load(spark, sf_dir, "events")).collect()
    assert [r.decile for r in out] == list(range(1, 11))
    n_total = sum(r.n for r in out)
    # exact ntile: bucket sizes differ by at most 1
    sizes = {r.n for r in out}
    assert max(sizes) - min(sizes) <= 1
    # cumulative capture is monotone and ends at 1
    caps = [r.cum_capture for r in out]
    assert caps == sorted(caps) and abs(caps[-1] - 1.0) < 1e-9
    # lift identity: response_rate / base_rate
    base = sum(r.n_pos for r in out) / n_total
    for r in out:
        assert abs(r.lift - (r.n_pos / r.n) / base) < 1e-4


# -------------------------------------------------------------- containment


def test_containment_catches_superset_jaccard_misses(spark):
    from trading_data_pipeline_spark.operators.dedup import (
        banded_minhash_pairs,
        containment_pairs,
    )

    core = "alpha beta gamma delta epsilon zeta eta theta"
    wrapper = " ".join(f"filler{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, core, "en", "s", len(core)),
            (2, f"{wrapper} {core}", "en", "s", 0),  # superset copy
            (3, "totally unrelated words here now", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r.doc_a, r.doc_b): r for r in containment_pairs(docs).collect()
    }
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r.containment == 1.0  # every core shingle appears in the wrapper doc
    assert r.jaccard < 0.5  # symmetric score would have rejected the pair
    assert (1, 3) not in got and (2, 3) not in got
    # the symmetric banded-MinHash path indeed misses the superset pair
    sym = {
        (r.doc_a, r.doc_b)
        for r in banded_minhash_pairs(docs, min_jaccard=0.5).collect()
    }
    assert (1, 2) not in sym


def test_containment_passes_do_not_accumulate_pinned_storage(spark):
    """Round-8 ADVICE #5: the shingle persist must have a deterministic
    lifecycle — N successive containment passes in one session pin at
    most ONE generation of shingle blocks (each pass releases the
    previous one via the session-scoped cache slot), and explicit
    release empties the slot entirely."""
    from trading_data_pipeline_spark.operators.dedup import containment_pairs
    from trading_data_pipeline_spark.plans.cache_registry import release_slot

    import time

    def cached_ids() -> set[int]:
        return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    def settled(gone: set[int], timeout_s: float = 10.0) -> set[int]:
        # unpersist is deliberately non-blocking in production (never
        # stall a job to drop dead blocks), so the registry's release is
        # ASYNC: poll until ``gone`` has left instead of snapshotting — a
        # bare read raced under heavy co-load (round-9 flake). Only this
        # test's own ids are asserted on: RDDs pinned by earlier tests
        # (localCheckpoint blocks) may be cleaned at any point meanwhile.
        deadline = time.monotonic() + timeout_s
        ids = cached_ids()
        while ids & gone and time.monotonic() < deadline:
            time.sleep(0.2)
            ids = cached_ids()
        return ids

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta unique{i} token{i}", "en", "s", 0)
         for i in range(6)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    release_slot(spark)  # isolate from any earlier test's slots
    before = cached_ids()
    containment_pairs(docs).count()
    first = cached_ids() - before
    assert len(first) == 1, "first pass should pin one shingle table"
    before = cached_ids()
    containment_pairs(docs).count()
    after = settled(first)
    assert not after & first, "second pass must release the first's blocks"
    second = after - before
    assert len(second) == 1, "second pass should pin one shingle table"
    release_slot(spark, "containment_shingles")
    assert not settled(second) & second, "explicit release must unpin the slot"


def test_cache_registry_release_is_idempotent(spark):
    from trading_data_pipeline_spark.plans.cache_registry import (
        persist_slot,
        release_slot,
    )

    df = persist_slot(spark.range(10), "tmp_slot")
    assert df.count() == 10
    release_slot(spark, "tmp_slot")
    release_slot(spark, "tmp_slot")  # unknown/already-released: no-op
    release_slot(spark, "never_registered")
    release_slot(spark)  # blanket release on an empty registry: no-op


def test_containment_skips_boilerplate_shingles(spark):
    from trading_data_pipeline_spark.operators.dedup import containment_pairs

    # one shingle shared by MANY docs (df > max_df): its postings must be
    # dropped, so no candidate pairs arise from boilerplate alone
    boiler = "subscribe to our newsletter today friends"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique{i} token{i} word{i}", "en", "s", 0) for i in range(30)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert containment_pairs(docs, max_df=20).count() == 0


# ----------------------------------------------------------- table checksum


def test_table_checksum_flips_on_any_single_row_change(spark, sf_dir):
    from trading_data_pipeline_spark.operators.lake_queries import table_checksum

    orders = load(spark, sf_dir, "orders")
    base = {r.o_orderpriority: (r.n_rows, r.checksum) for r in table_checksum(orders).collect()}

    victim = orders.orderBy("o_orderkey").first()
    # value mutation: same rows, one price changed by a cent
    mutated = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") == victim.o_orderkey,
            F.col("o_totalprice") + 0.01,
        ).otherwise(F.col("o_totalprice")),
    )
    got = {r.o_orderpriority: (r.n_rows, r.checksum) for r in table_checksum(mutated).collect()}
    assert got[victim.o_orderpriority] != base[victim.o_orderpriority]
    for k in base:
        if k != victim.o_orderpriority:
            assert got[k] == base[k]  # unaffected groups identical

    # row loss: count AND checksum change for that group only
    dropped = orders.filter(F.col("o_orderkey") != victim.o_orderkey)
    got2 = {r.o_orderpriority: (r.n_rows, r.checksum) for r in table_checksum(dropped).collect()}
    assert got2[victim.o_orderpriority][0] == base[victim.o_orderpriority][0] - 1
    assert got2[victim.o_orderpriority][1] != base[victim.o_orderpriority][1]


def test_table_checksum_is_order_and_partitioning_independent(spark, sf_dir):
    from trading_data_pipeline_spark.operators.lake_queries import table_checksum

    orders = load(spark, sf_dir, "orders")
    a = {tuple(r) for r in table_checksum(orders).collect()}
    b = {
        tuple(r)
        for r in table_checksum(
            orders.repartition(17).sortWithinPartitions(F.desc("o_totalprice"))
        ).collect()
    }
    assert a == b


# ------------------------------------------------------- degenerate inputs


def test_round6_ops_survive_empty_and_one_class_input(spark):
    empty = spark.createDataFrame([], EVENT_SCHEMA)
    assert interpolate_daily(empty).count() == 0
    assert activity_streaks(empty).count() == 0
    assert changepoint_daily(empty).count() == 0
    assert salted_agg_stats(empty).count() == 0
    assert benford_profile(empty).count() == 0
    assert decile_lift(empty).count() == 0

    # AUC of a one-class stream is undefined -> NULL, never a crash
    one_class = _ev(spark, [(1, 9, 1, 5.0), (2, 9, 1, 7.0)])
    r = auc_exact(one_class).collect()[0]
    assert r.auc is None and (r.n_pos, r.n_neg) == (0, 2)


# ------------------------------------------------------------------ knn eval


def test_knn_eval_separable_clusters_score_perfectly(spark):
    from trading_data_pipeline_spark.operators.similarity import knn_label_eval

    rows = []
    for i in range(40):
        label = i % 2
        base = [1.0, 0.0] if label == 0 else [0.0, 1.0]
        vec = [base[0] + 0.01 * (i % 7), base[1] + 0.01 * ((i * 3) % 5)]
        rows.append((i, vec, label))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.true_label: r for r in knn_label_eval(emb, holdout_mod=5, k=3).collect()}
    assert set(out) == {0, 1}
    for r in out.values():
        assert r.accuracy == 1.0 and r.n_correct == r.n_eval > 0


def test_knn_join_exact_topk_matches_per_query_brute(spark):
    """knn_join_exact's per-query (id, sim) top-k — not just the label
    rollup — must match an exhaustive cross-join ranking, on data crafted
    so true neighbours straddle cell boundaries (the case pruning gets
    wrong if the radius bound is unsound)."""
    from pyspark.sql import Window

    from trading_data_pipeline_spark.functions.vector import cosine_similarity
    from trading_data_pipeline_spark.operators.similarity import build_ivf_index

    import math

    rows = []
    # ring of 60 unit vectors: neighbourhoods are angular, cells cut the
    # ring into arcs, so most queries' true k-NN cross a cell edge
    for i in range(60):
        a = 2 * math.pi * i / 60
        rows.append((i, [math.cos(a), math.sin(a)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    idx = build_ivf_index(corpus, n_cells=6)
    queries_df = emb.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    ).filter(F.col("qid") % 4 == 0)
    got = {
        (r.qid, r.vec_id)
        for r in idx.knn_join_exact(queries_df, k=3, n_probe=1).collect()
    }
    crossed = corpus.join(
        queries_df.withColumnRenamed("qvec", "_qv"), F.lit(True)
    ).select(
        "qid",
        "vec_id",
        cosine_similarity(
            F.col("embedding").cast("array<double>"), F.col("_qv")
        ).alias("_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("_sim"), F.asc("vec_id"))
    want = {
        (r.qid, r.vec_id)
        for r in crossed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .collect()
    }
    assert got == want


def test_knn_eval_counts_every_holdout_vector(spark, sf_dir):
    from trading_data_pipeline_spark.operators.similarity import knn_label_eval

    emb = load(spark, sf_dir, "embeddings")
    n_holdout = emb.filter(F.col("vec_id") % 10 == 0).count()
    out = knn_label_eval(emb).collect()
    assert sum(r.n_eval for r in out) == n_holdout
    for r in out:
        assert 0.0 <= r.accuracy <= 1.0


def test_decile_lift_zero_positive_stream_yields_null_lift(spark):
    # 12 rows, no purchases: deciles exist, lift/capture are NULL (never
    # an ANSI divide-by-zero)
    rows = [(i, 9, 1, float(i)) for i in range(1, 13)]
    out = decile_lift(_ev(spark, rows)).collect()
    assert len(out) == 10
    assert all(r.n_pos == 0 and r.lift is None and r.cum_capture is None
               for r in out)


def test_table_checksum_survives_long_overflow_volume(spark):
    # ~70k rows in ONE group: the 48-bit row hashes sum past 2^63, which
    # a long accumulator would reject under ANSI — the DECIMAL
    # accumulator must return the exact digit string instead
    from trading_data_pipeline_spark.operators.lake_queries import table_checksum

    n = 70_000
    orders = spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        F.col("id").alias("o_custkey"),
        F.lit(1.0).alias("o_totalprice"),
        F.lit("2024-01-01").cast("timestamp").alias("o_orderdate"),
        F.lit("1-URGENT").alias("o_orderpriority"),
    )
    rows = table_checksum(orders).collect()
    assert len(rows) == 1 and rows[0].n_rows == n
    assert int(rows[0].checksum) > 0  # parses as an exact integer


# ------------------------------------------- stratified take / skew audit


def test_stratified_exact_counts_and_determinism(spark, sf_dir):
    from trading_data_pipeline_spark.operators.profiling_queries import (
        stratified_exact_take,
    )

    docs = load(spark, sf_dir, "documents")
    per = {"k": 7}
    out = stratified_exact_take(docs, k=per["k"])
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    avail = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in counts.items():
        assert n == min(per["k"], avail[lang])
    # reproducible: same draw on re-execution and under repartitioning
    a = {tuple(r) for r in out.collect()}
    b = {tuple(r) for r in stratified_exact_take(docs.repartition(13), k=per["k"]).collect()}
    assert a == b


def test_skew_audit_hand_built(spark):
    from trading_data_pipeline_spark.operators.profiling_queries import skew_audit

    # key 1 -> 8 rows, keys 2..5 -> 1 row each: mean=2.4, skew=8/2.4
    rows = [(i, 1) for i in range(8)] + [(10 + k, k) for k in range(2, 6)]
    df = spark.createDataFrame(rows, "row_id long, k long")
    out = skew_audit(df, "k").collect()
    assert out[0].heavy_key == 1 and out[0].key_rows == 8
    r = out[0]
    assert (r.n_keys, r.n_rows, r.max_n) == (5, 12, 8)
    import math

    assert r.skew_factor == math.floor(8 / 2.4 * 10000 + 0.5) / 10000


def test_quantile_normalize_singleton_group_cross_engine(spark):
    """A singleton event_type group hits (rk-1)/(n-1) = 0/0: Spark
    (non-ANSI) yields NULL, DuckDB (ieee_floating_point_ops) yields NaN —
    both sides must instead pin the defined value 0.0 (ADVICE round 5)."""
    import duckdb
    import pandas as pd
    from pyspark.sql import Window

    from trading_data_pipeline_spark.functions.quantize import q as _q

    rows = [(1, "a", 5.0), (2, "a", 7.0), (3, "b", 9.0)]  # "b" is singleton
    events = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    got = {
        (r.event_id, r.qnorm)
        for r in events.select(
            "event_id",
            F.rank().over(w).alias("_rk"),
            F.count(F.lit(1)).over(wn).alias("_n"),
        )
        .select(
            "event_id",
            F.when(F.col("_n") == 1, F.lit(0.0))
            .otherwise(_q((F.col("_rk") - 1) / (F.col("_n") - 1), 10000))
            .alias("qnorm"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.register("events", pd.DataFrame(rows, columns=["event_id", "event_type", "value"]))
    want = {
        (int(e), float(qn))
        for e, qn in con.execute(
            """
            WITH r AS (
              SELECT event_id, value,
                     rank() OVER w AS rk,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
            )
            SELECT event_id,
                   CASE WHEN n = 1 THEN 0.0
                        ELSE floor((rk - 1) * 1.0 / (n - 1) * 10000 + 0.5) / 10000
                   END AS qnorm
            FROM r
            """
        ).fetchall()
    }
    assert got == want and (3, 0.0) in got
