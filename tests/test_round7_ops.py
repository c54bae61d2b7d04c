"""Round-7 exactness guards: the de-quadratified IVF routing of
q_hard_negatives must be byte-identical to its brute-force twin (the
EXACTNESS claim of knn_join_exact extended to max_sim / exclude_self
pruning)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from trading_data_pipeline_spark.operators.similarity import (
    build_ivf_index,
    hard_negatives,
)
from trading_data_pipeline_spark.registry import load


def test_hard_negatives_index_path_equals_brute_force(spark, sf_dir):
    """The registered q_hard_negatives routes through knn_join_exact with
    exclude_self + max_sim — exactness means identical (qid, id, cosine)
    rows to the brute-force nested-loop path."""
    emb = load(spark, sf_dir, "embeddings")
    idx = build_ivf_index(emb, n_cells=8)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    brute = sorted(
        map(tuple, hard_negatives(emb, queries, k=5, max_cos=0.95).collect())
    )
    pruned = sorted(
        map(
            tuple,
            hard_negatives(
                emb, queries, k=5, max_cos=0.95, index=idx, n_probe=2
            ).collect(),
        )
    )
    assert brute == pruned


def test_knn_join_exact_max_sim_bound_stays_exact_on_ring(spark):
    """Adversarial bound check for the max_sim extension: a ring of unit
    vectors where each query's nearest neighbours are ABOVE the max_sim
    threshold, so the true qualifying top-k live further around the ring
    — often in unprobed cells. If t_q were bounded on non-qualifying
    candidates (or pruning ignored the filter), pruned cells would
    swallow true qualifying neighbours and this comparison would fail."""
    rows = []
    for i in range(72):
        a = 2 * math.pi * i / 72
        rows.append((i, [math.cos(a), math.sin(a)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = build_ivf_index(emb, n_cells=6)
    queries = emb.filter(F.col("vec_id") % 9 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    # max_cos=0.9 disqualifies each query's ~4 nearest ring neighbours
    # (and itself via exclude_self), pushing the qualifying top-k into
    # neighbouring arcs/cells with n_probe=1.
    got = sorted(
        map(
            tuple,
            hard_negatives(
                emb, queries, k=5, max_cos=0.9, index=idx, n_probe=1
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, hard_negatives(emb, queries, k=5, max_cos=0.9).collect())
    )
    assert got == want and len(want) == 8 * 5


def test_entity_canonical_group_level_equals_row_level_reference(spark):
    """entity_canonical verifies at distinct (brand, name) granularity —
    exactness vs a row-level Python reference on data crafted to exercise
    every shape: repeated names across keys, cross-name fuzzy matches,
    chains collapsing to one canonical, singleton brands, and a name
    pair just OVER the edit budget."""
    rows = [
        # brand A: "red bolt" x3 keys, "red bol" (dist 1), "red volt"
        # (dist 1 from bolt), "green gear" (no match)
        (10, "red bolt", "A"),
        (11, "red bolt", "A"),
        (15, "red bolt", "A"),
        (12, "red bol", "A"),
        (13, "red volt", "A"),
        (14, "green gear", "A"),
        # brand B: same names must NOT match across brands
        (20, "red bolt", "B"),
        (21, "red bolts!", "B"),  # dist 2 from "red bolt" -> match
        (22, "crimson bolt", "B"),  # dist > 2 -> no match
        # brand C: singleton
        (30, "lone part", "C"),
    ]
    part = spark.createDataFrame(
        [(k, n, b) for k, n, b in rows],
        "p_partkey long, p_name string, p_brand string",
    )
    from trading_data_pipeline_spark.operators.dedup_queries import (
        entity_canonical,
    )

    got = {
        r.key: (r.canonical, r.n_matches)
        for r in entity_canonical(part, max_edits=2).collect()
    }

    def lev(a: str, b: str) -> int:
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (ca != cb)
                )
        return d[len(b)]

    want = {}
    for k, n, b in rows:
        matches = [
            k2
            for k2, n2, b2 in rows
            if k2 != k and b2 == b and lev(n, n2) <= 2
        ]
        want[k] = (min(matches + [k]), len(matches))
    assert got == want


def test_band_index_probe_recovers_after_cache_invalidation(spark, sf_dir):
    """The delta-dedup probe artifacts are parquet-backed: killing the
    session cache entry (the executor-loss / new-session analogue) must
    leave a later probe fully functional with identical pairs — the
    fault-tolerance contract the former localCheckpoint blocks broke."""
    from trading_data_pipeline_spark.operators import dedup_queries as dq
    from trading_data_pipeline_spark.registry import all_queries

    fn = all_queries()["q_dedup_delta"].fn
    warm = sorted(map(tuple, fn(spark, sf_dir).collect()))
    # invalidate: drop every cached entry for this app, as if the session
    # state (or the executors holding checkpoint blocks) was lost
    dq._BAND_INDEX_CACHE.clear()
    recovered = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert recovered == warm


def test_band_index_artifacts_are_file_scans_not_checkpoint_blocks(spark, sf_dir):
    """The cached probe artifacts must be parquet scans (re-readable after
    any executor loss), never lineage-free checkpoint RDDs (which are
    not)."""
    from trading_data_pipeline_spark.operators.dedup_queries import (
        band_index_for,
    )

    postings, shingles = band_index_for(spark, sf_dir)
    for df in (postings, shingles):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan parquet" in plan, plan.splitlines()[:5]
        assert "ExistingRDD" not in plan and "LogicalRDD" not in plan


def test_fixed_effects_residuals_hand_computed(spark):
    """2x2 balanced panel: residuals of the within transform must match
    the closed form v - u_mean - d_mean + grand, and a perfectly
    additive panel (v = user effect + day effect) demeans to zero."""
    import datetime as dt

    rows = []
    eff_u = {1: 10.0, 2: 20.0}
    eff_d = {1: 1.0, 2: 5.0}
    eid = 0
    for u in (1, 2):
        for d in (1, 2):
            eid += 1
            rows.append(
                (eid, dt.datetime(2024, 1, d, 9), u, "x",
                 eff_u[u] + eff_d[d], "{}")
            )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    from trading_data_pipeline_spark.operators.trainprep_queries import (
        fixed_effects_demean,
    )

    out = fixed_effects_demean(ev).collect()
    assert len(out) == 4 and all(r.resid == 0.0 for r in out)


def test_variance_ratio_hand_computed(spark):
    import datetime as dt

    rows = []
    # type a: values 1,3 (var 2 cents^2 scale: 10000*2); b: 1,5 (var 8*)
    for i, (t, v) in enumerate(
        [("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 5.0)], 1
    ):
        rows.append((i, dt.datetime(2024, 1, 1, 9), 1, t, v, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    from trading_data_pipeline_spark.operators.stattests_queries import (
        variance_ratio,
    )

    out = variance_ratio(ev).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.type_a, r.type_b) == ("a", "b")
    assert r.f_stat == 0.25  # var_a/var_b = 20000/80000


def test_flow_persistence_alternating_and_trending(spark):
    """A strictly alternating tape has sign autocorr -1; a strictly
    trending tape is all-same-sign (degenerate -> NULL)."""
    import datetime as dt
    import json

    from trading_data_pipeline_spark.operators.microstructure_queries import (
        flow_persistence,
    )

    def ev(prices, t):
        return [
            (i, dt.datetime(2024, 1, 1, 9, 0, i), 1, t, float(p),
             json.dumps({"k": 1}))
            for i, p in enumerate(prices, 1)
        ]

    # alternating: 10,11,10,11,... -> signs +,-,+,- from trade 2
    # trending: 10,11,12,... -> all +
    rows = ev([10, 11, 10, 11, 10, 11, 10], "alt") + ev(
        [10, 11, 12, 13, 14, 15], "up"
    )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r.event_type: r for r in flow_persistence(df).collect()}
    assert out["alt"].flow_autocorr == -1.0
    assert out["up"].flow_autocorr is None


def test_tcloseness_identical_cells_have_zero_tvd(spark):
    """If every cell's user distribution equals the global marginal,
    TVD is exactly 0; a cell owned by one user scores the max."""
    import datetime as dt

    from trading_data_pipeline_spark.operators.trainprep_queries import (
        tcloseness,
    )

    rows, eid = [], 0
    # Mon + Tue (Jan 1/2 2024): both cells see users 1 and 2 equally
    for day in (1, 2):
        for u in (1, 2):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, day, 9), u, "x", 1.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = tcloseness(ev).collect()
    assert len(out) == 2 and all(r.tvd == 0.0 and r.at_risk == 0 for r in out)

    # now one cell entirely user 3: its distribution is a point mass
    rows2 = rows + [
        (9, dt.datetime(2024, 1, 3, 9), 3, "x", 1.0, "{}"),
        (10, dt.datetime(2024, 1, 3, 10), 3, "x", 1.0, "{}"),
    ]
    ev2 = spark.createDataFrame(
        rows2,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out2 = {r.wd: r for r in tcloseness(ev2).collect()}
    # Wednesday cell: cell dist = {3: 1.0}; global = {1:1/3, 2:1/3, 3:1/3}
    # TVD = 2/3
    assert abs(out2[2].tvd - 2 / 3) < 1e-6 and out2[2].at_risk == 1


def test_cosine_calibration_separable_labels_gap(spark):
    from trading_data_pipeline_spark.operators.similarity_queries import (
        cosine_calibration,
    )

    rows = []
    for i in range(20):
        lab = i % 2
        vec = [1.0, 0.0] if lab == 0 else [0.0, 1.0]
        rows.append((i, vec, lab))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.same_label: r for r in cosine_calibration(emb).collect()}
    # consecutive ids always alternate labels here -> only False group
    assert set(out) == {False}
    assert out[False].mean_cosine == 0.0 and out[False].n_pairs == 19


def test_centroid_similarity_orthogonal_and_parallel(spark):
    from trading_data_pipeline_spark.operators.similarity_queries import (
        label_centroid_similarity,
    )

    rows = []
    # label 0 along e1, label 1 along e2 (orthogonal), label 2 along e1
    # (parallel to 0)
    for i in range(30):
        lab = i % 3
        vec = {0: [1.0, 0.0], 1: [0.0, 1.0], 2: [2.0, 0.0]}[lab]
        rows.append((i, vec, lab))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        (r.label_a, r.label_b): r.centroid_cosine
        for r in label_centroid_similarity(emb).collect()
    }
    assert out[(0, 1)] == 0.0 and out[(1, 2)] == 0.0
    assert out[(0, 2)] == 1.0


def test_audience_overlap_hand_computed(spark):
    import datetime as dt

    from trading_data_pipeline_spark.operators.bi_queries import (
        audience_overlap,
    )

    rows = []
    eid = 0
    # type a: users {1,2,3}; type b: users {2,3,4}; type c: users {9}
    for t, users in (("a", [1, 2, 3]), ("b", [2, 3, 4]), ("c", [9])):
        for u in users:
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1, 9), u, t, 1.0, "{}"))
            eid += 1  # duplicate event, same user: distinct must dedupe
            rows.append((eid, dt.datetime(2024, 1, 1, 10), u, t, 2.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {
        (r.type_a, r.type_b): r for r in audience_overlap(ev).collect()
    }
    assert out[("a", "b")].n_common == 2
    assert out[("a", "b")].jaccard == 0.5  # 2 / (3+3-2)
    assert ("a", "c") not in out  # zero intersection -> no row
    assert out[("a", "b")].n_users_a == 3 and out[("a", "b")].n_users_b == 3


def test_round_lots_hand_computed(spark):
    import datetime as dt
    import json

    from trading_data_pipeline_spark.operators.microstructure_queries import (
        round_lot_bias,
    )

    rows = [
        (i, dt.datetime(2024, 1, 1, 9, 0, i), 1, "x", 10.0,
         json.dumps({"k": q}))
        for i, q in enumerate([10, 20, 7, 3, 50], 1)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    r = round_lot_bias(ev).collect()[0]
    assert (r.n_trades, r.n_round) == (5, 3)
    assert r.trade_share == 0.6
    assert abs(r.vol_share - 80 / 90) < 1e-6
    assert abs(r.excess_vs_uniform - 0.5) < 1e-9


def test_freshness_lag_and_last_day_counts(spark):
    import datetime as dt

    from trading_data_pipeline_spark.operators.profiling_queries import (
        freshness_audit,
    )

    rows = [
        # type a: last event at 12:00 Jan 3 (the global hwm)
        (1, dt.datetime(2024, 1, 1, 12), 1, "a", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 3, 12), 1, "a", 1.0, "{}"),
        # type b: stale by exactly 2 days
        (3, dt.datetime(2024, 1, 1, 12), 1, "b", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r.event_type: r for r in freshness_audit(ev).collect()}
    assert out["a"].lag_seconds == 0 and out["b"].lag_seconds == 172800
    assert out["a"].n_last_day == 1  # only the Jan-3 event is in-window
    assert out["b"].n_last_day == 0


def test_volume_profile_poc_and_shares(spark):
    import datetime as dt
    import json

    from trading_data_pipeline_spark.operators.trading_queries import (
        volume_profile,
    )

    rows = [
        # prices 1.00 and 2.00 land in buckets 0 and 100 with width 100
        (1, dt.datetime(2024, 1, 1, 9), 1, "x", 1.0, json.dumps({"k": 30})),
        (2, dt.datetime(2024, 1, 1, 9), 1, "x", 1.2, json.dumps({"k": 30})),
        (3, dt.datetime(2024, 1, 1, 9), 1, "x", 2.0, json.dumps({"k": 40})),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {
        r.price_level: r for r in volume_profile(ev, bucket_c=100).collect()
    }
    assert out[1.0].vol == 60 and out[2.0].vol == 40
    assert out[1.0].is_poc == 1 and out[2.0].is_poc == 0
    assert out[1.0].vol_share == 0.6 and out[2.0].vol_share == 0.4


def test_moments_symmetric_and_skewed_series(spark):
    import datetime as dt

    from trading_data_pipeline_spark.operators.risk_queries import moments

    def ev(closes, t):
        return [
            (i + hash(t) % 97 * 1000, dt.datetime(2024, 1, i, 12), 1, t,
             float(c), "{}")
            for i, c in enumerate(closes, 1)
        ]

    # moves -1,+1,-1,+1...: symmetric two-point -> skew 0, excess kurt -2
    sym = [10 + (i % 2) for i in range(13)]
    # constant closes: zero variance -> NULLs
    flat = [10] * 6
    df = spark.createDataFrame(
        ev(sym, "sym") + ev(flat, "flat"),
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r.event_type: r for r in moments(df).collect()}
    assert out["sym"].skewness == 0.0
    assert out["sym"].excess_kurtosis == -2.0
    assert out["flat"].skewness is None and out["flat"].excess_kurtosis is None


def test_gap_risk_hand_computed(spark):
    import datetime as dt

    from trading_data_pipeline_spark.operators.risk_queries import gap_risk

    rows = [
        # day1: open 10 close 10; day2: open 10.2 (gap +200bps) close 10;
        # day3: open 9.9 (gap -100bps, NOT > flag) close 9.9
        (1, dt.datetime(2024, 1, 1, 9), 1, "x", 10.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 16), 1, "x", 10.0, "{}"),
        (3, dt.datetime(2024, 1, 2, 9), 1, "x", 10.2, "{}"),
        (4, dt.datetime(2024, 1, 2, 16), 1, "x", 10.0, "{}"),
        (5, dt.datetime(2024, 1, 3, 9), 1, "x", 9.9, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    r = gap_risk(ev).collect()[0]
    assert r.n_days == 2 and r.n_large_gaps == 1
    assert r.max_gap_up_bps == 200.0 and r.max_gap_down_bps == -100.0
    assert r.mean_abs_gap_bps == 150.0


def test_tier_migration_hand_computed(spark):
    import datetime as dt

    from trading_data_pipeline_spark.operators.analytics2_queries import (
        tier_migration,
    )

    rows, eid = [], 0

    def week_events(u, monday, n):
        nonlocal eid
        for i in range(n):
            eid += 1
            rows.append(
                (eid, dt.datetime(2024, 1, monday, 9, 0, i), u, "x",
                 1.0, "{}")
            )

    # weeks: Jan-1 (Mon), Jan-8, Jan-15
    week_events(1, 1, 2)    # u1 low
    week_events(1, 8, 5)    # u1 -> mid
    week_events(2, 1, 12)   # u2 high
    # u2 absent week 2 -> gone
    week_events(3, 8, 1)    # u3 appears in final-minus-one week, low
    week_events(3, 15, 1)   # u3 low week 3 (final week: no successor)
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {
        (r.tier, r.next_tier): r.n_users for r in tier_migration(ev).collect()
    }
    assert out == {
        ("low", "mid"): 1,    # u1 week1 -> week2
        ("mid", "gone"): 1,   # u1 week2 -> absent week3
        ("high", "gone"): 1,  # u2
        ("low", "low"): 1,    # u3 week2 -> week3
    }


def test_tail_dependence_perfect_and_disjoint(spark):
    import datetime as dt

    from trading_data_pipeline_spark.operators.risk_queries import (
        tail_dependence,
    )

    rows, eid = [], 0

    def close(t, day, price):
        nonlocal eid
        eid += 1
        rows.append(
            (eid, dt.datetime(2024, 1, day, 12), 1, t, float(price), "{}")
        )

    # 21 days each; worst down day (pct=5 -> k=1) is day 11 for both
    # "a" and "b" (crash together: perfect tail dependence), while "c"
    # crashes on day 16 (disjoint from a's crash).
    for day in range(1, 22):
        for t, crash_day in (("a", 11), ("b", 11), ("c", 16)):
            price = 100 - 50 * (day == crash_day) + (day % 2)
            close(t, day, price)
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {
        (r.type_a, r.type_b): r for r in tail_dependence(ev).collect()
    }
    ab = out[("a", "b")]
    assert ab.n_joint == 1 and ab.k_a == ab.k_b == 1
    assert ab.coextreme_lift == 20.0  # 1*20/(1*1)
    assert ("a", "c") not in out  # disjoint extremes -> no joint row


def test_ab_cuped_matches_numpy_reference(spark):
    """CUPED's closed-form arm sums must equal a per-user numpy
    computation of Y' = Y - theta(X - xbar) on a crafted panel."""
    import datetime as dt

    import numpy as np

    from trading_data_pipeline_spark.operators.bi_queries import (
        ab_test_cuped,
    )

    rows, eid = [], 0
    # 8 users; pre-period (days 1-8), post (days 9-16); user u makes u
    # pre events; even users convert post
    for u in range(1, 9):
        for i in range(u):
            eid += 1
            rows.append(
                (eid, dt.datetime(2024, 1, 1 + i % 8, 9), u, "view",
                 1.0, "{}")
            )
        eid += 1
        post_type = "purchase" if u % 2 == 0 else "view"
        rows.append(
            (eid, dt.datetime(2024, 1, 16, 9), u, post_type, 1.0, "{}")
        )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r.arm: r for r in ab_test_cuped(ev).collect()}

    x = np.array([u for u in range(1, 9)], dtype=float)  # pre counts
    y = np.array([1.0 if u % 2 == 0 else 0.0 for u in range(1, 9)])
    theta = ((len(x) * (x * y).sum() - x.sum() * y.sum())
             / (len(x) * (x * x).sum() - x.sum() ** 2))
    adj = y - theta * (x - x.mean())
    arms = np.array([u % 2 for u in range(1, 9)])
    for arm in (0, 1):
        m = arms == arm
        assert abs(out[arm].theta - round(theta, 6)) < 2e-6
        assert abs(out[arm].rate_cuped - adj[m].mean()) < 2e-6
        assert abs(out[arm].rate_raw - y[m].mean()) < 2e-6
        var_raw = y[m].mean() * (1 - y[m].mean())
        var_adj = (adj[m] ** 2).mean() - adj[m].mean() ** 2
        if var_raw > 0:
            assert abs(out[arm].variance_ratio - var_adj / var_raw) < 2e-5


def test_kendall_tau_perfect_inverse_and_scipy_free_reference(spark):
    import datetime as dt

    from trading_data_pipeline_spark.operators.stattests_queries import (
        kendall_tau,
    )

    rows, eid = [], 0

    def close(t, day, price):
        nonlocal eid
        eid += 1
        rows.append(
            (eid, dt.datetime(2024, 1, day, 12), 1, t, float(price), "{}")
        )

    # a and b move together; c moves opposite; d has a tie day
    series = {
        "a": [10, 12, 11, 15, 13, 18],
        "b": [20, 24, 22, 30, 26, 36],
        "c": [50, 48, 49, 45, 47, 42],
        "d": [10, 12, 12, 15, 13, 18],  # one zero move
    }
    for t, cs in series.items():
        for day, c in enumerate(cs, 1):
            close(t, day, c)
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {(r.type_a, r.type_b): r for r in kendall_tau(ev).collect()}
    assert out[("a", "b")].kendall_tau == 1.0
    assert out[("a", "c")].kendall_tau == -1.0
    # python reference for the tied pair (a, d)
    def moves(cs):
        return [cs[i + 1] - cs[i] for i in range(len(cs) - 1)]

    xa, xd = moves(series["a"]), moves(series["d"])
    n = len(xa)
    c = d = tx = ty = 0
    for i in range(n):
        for k in range(i + 1, n):
            dx, dy = xa[i] - xa[k], xd[i] - xd[k]
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
            if dx * dy > 0:
                c += 1
            elif dx * dy < 0:
                d += 1
    n0 = n * (n - 1) // 2
    want = (c - d) / ((n0 - tx) * (n0 - ty)) ** 0.5
    got = out[("a", "d")]
    assert (got.concordant, got.discordant) == (c, d)
    assert abs(got.kendall_tau - want) < 1e-6


def test_interarrival_exact_order_statistics(spark):
    import datetime as dt

    from trading_data_pipeline_spark.operators.microstructure_queries import (
        interarrival_profile,
    )

    # 11 events -> 10 gaps of 1..10 seconds (shuffled arrival order is
    # irrelevant: gaps are defined on the sorted stream)
    t = dt.datetime(2024, 1, 1, 9, 0, 0)
    times, acc = [t], 0
    for g in [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]:
        acc += g
        times.append(t + dt.timedelta(seconds=acc))
    rows = [
        (i, ts, 1, "x", 1.0, "{}") for i, ts in enumerate(times, 1)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    r = interarrival_profile(ev).collect()[0]
    gaps = sorted([3, 1, 4, 1, 5, 9, 2, 6, 5, 3])
    # k = ceil(p*n/100): p50 -> 5th, p90 -> 9th, p99 -> 10th of n=10
    assert r.n_gaps == 10
    assert r.p50_gap_us == gaps[4] * 1_000_000
    assert r.p90_gap_us == gaps[8] * 1_000_000
    assert r.p99_gap_us == gaps[9] * 1_000_000


def test_markout_trending_tape_is_positive(spark):
    """On a strictly up-trending tape every tick sign is +1 and every
    forward move is positive -> markouts equal the exact mean forward
    move; horizons beyond the tape are dropped."""
    import datetime as dt

    from trading_data_pipeline_spark.operators.microstructure_queries import (
        markouts,
    )

    rows = [
        (i, dt.datetime(2024, 1, 1, 9, 0, i), 1, "x", 10.0 + i, "{}")
        for i in range(1, 11)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r.horizon: r for r in markouts(ev, horizons=(1, 3)).collect()}
    # signs exist from trade 2 (9 classified); h=1 has 8 moves of +100,
    # h=3 has 6 moves of +300
    assert out[1].n_trades == 8 and out[1].mean_markout == 1.0
    assert out[3].n_trades == 6 and out[3].mean_markout == 3.0


def test_return_split_identity_with_close_to_close(spark, sf_dir):
    """overnight + intraday must equal the close-to-close total move per
    type (exact integer identity on the real table)."""
    from trading_data_pipeline_spark.operators.bars import daily_bars
    from trading_data_pipeline_spark.operators.trading_queries import (
        return_split,
    )
    from trading_data_pipeline_spark.registry import load

    ev = load(spark, sf_dir, "events")
    split = {
        r.event_type: r.overnight_cents + r.intraday_cents
        for r in return_split(ev).collect()
    }
    cc = {
        r["event_type"]: r["s"]
        for r in daily_bars(ev)
        .filter(F.col("dc").isNotNull())
        .groupBy("event_type")
        .agg(F.sum("dc").alias("s"))
        .collect()
    }
    assert split == cc and split
