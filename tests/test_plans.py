"""Physical-plan assertions: lock in the properties that make these
operators survive a 100 TB scale-up (broadcast joins, pushdown, partial
aggregation, top-k without full sort). A regression here can stay
correctness-green while silently becoming a cluster-killer — these tests
make the plan shape part of the contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trading_data_pipeline_spark.registry import all_queries, load


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan_of(df) -> str:
    """explain('formatted') output — unlike toString(), it never truncates
    the aggregate-function lists."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def test_small_dim_join_is_broadcast(spark, sf_dir, queries):
    plan = plan_of(queries["q_join_broadcast"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multi_join_broadcasts_all_dims(spark, sf_dir, queries):
    """The true dims (nation/region, bounded cardinality) must broadcast.
    Customer carries no hint — whether IT broadcasts is an AQE runtime
    decision invisible in the static plan, so the assertion is 2 broadcasts
    (the bounded dims) + no nested-loop join, not a count that flakes when
    the fixture SF outgrows the 64MB static autoBroadcastJoinThreshold."""
    plan = plan_of(queries["q_join_multi"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "NestedLoopJoin" not in plan, plan


def test_parquet_filter_pushdown(spark, sf_dir):
    df = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40" in plan


def test_parquet_column_pruning(spark, sf_dir):
    """A 2-column projection must reach the scan as a 2-column ReadSchema —
    reading all 16 lineitem columns for it would multiply scan bytes at
    100 TB."""
    df = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in scan_line and "l_quantity" in scan_line
    assert "l_comment" not in scan_line and "l_extendedprice" not in scan_line


def test_groupby_has_partial_aggregation(spark, sf_dir, queries):
    """Map-side combine: the OHLC aggregation must run partial_min/max/sum
    before the shuffle, or the exchange carries every raw row."""
    plan = formatted_plan_of(queries["q_groupby_agg"].fn(spark, sf_dir))
    assert "partial_min" in plan and "partial_max" in plan and "partial_count" in plan


def test_topn_avoids_global_sort(spark, sf_dir, queries):
    plan = plan_of(queries["q_topn"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_semi_and_anti_join_physical(spark, sf_dir, queries):
    assert "LeftSemi" in plan_of(queries["q_semi_join"].fn(spark, sf_dir))
    assert "LeftAnti" in plan_of(queries["q_anti_join"].fn(spark, sf_dir))


def test_exists_subquery_becomes_semi_join(spark, sf_dir, queries):
    """Correlated EXISTS must decorrelate to a semi join, not a per-row
    subquery."""
    assert "LeftSemi" in plan_of(queries["q_exists_subquery"].fn(spark, sf_dir))


def test_tpch_q3_broadcasts_customer(spark, sf_dir, queries):
    """Customer carries NO hint (it grows with the data); at test SF the
    size-based planner must still choose a broadcast for the filtered
    customer side — proving the unhinted form degrades gracefully rather
    than forcing a shuffle join everywhere."""
    assert "BroadcastHashJoin" in plan_of(queries["q_tpch_q3"].fn(spark, sf_dir))


def test_hive_partition_pruning(spark, sf_dir, tmp_path):
    """A filter on the partition column of a date-partitioned layout must
    become a PartitionFilter (scan skips directories), not a row filter —
    at 100 TB this is the difference between reading one day and reading
    the lake."""
    events = load(spark, sf_dir, "events").withColumn(
        "date", F.to_date("ts").cast("string")
    )
    root = str(tmp_path / "events_partitioned")
    events.write.partitionBy("date").parquet(root)

    some_date = events.select("date").first().date
    df = spark.read.parquet(root).filter(F.col("date") == some_date)
    plan = plan_of(df)
    scan_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "isnotnull(date" in scan_line, scan_line
    n_read = df.select(F.input_file_name()).distinct().count()
    all_files = spark.read.parquet(root).select(F.input_file_name()).distinct().count()
    assert n_read < all_files


def test_report1_shuffle_budget(spark, sf_dir, queries):
    """The flagship pipeline needs exactly two logical repartitionings:
    (user_id, date) for the OHLC windows+agg and (user_id) for the lag.
    More exchanges than that means a window lost partitioning reuse."""
    plan = plan_of(queries["q_report1"].fn(spark, sf_dir))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"report1 shuffles {n_exchanges}×, expected ≤2:\n{plan}"


def test_window_reuses_groupby_partitioning(spark, sf_dir, queries):
    """first/last window over (user_id, date) and the groupBy on the same
    keys must share one exchange."""
    plan = plan_of(queries["q_window_first"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 1


def test_curation_filters_are_scan_only(spark, sf_dir, queries):
    """Quality filter, dataset split, and stratified sample are pure
    column arithmetic — at 100 TB they must run at scan speed with zero
    exchanges (any shuffle here is a plan regression)."""
    for name in ("q_quality_filter", "q_dataset_split", "q_stratified_sample"):
        plan = plan_of(queries[name].fn(spark, sf_dir))
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"


def test_repetition_shuffle_budget(spark, sf_dir, queries):
    """Bigram repetition needs exactly two aggregations (per-bigram count,
    per-doc max); both hash-partition by doc_id-prefixed keys."""
    plan = plan_of(queries["q_quality_repetition"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_batch5_shuffle_budgets(spark, sf_dir, queries):
    """Batch-5 coverage queries keep their minimal plan shapes: per-row
    projections (unpivot / try-arith / redact / vector stats) must be
    zero-exchange scan-parallel maps; single-table aggregates exactly one
    exchange (map-side partial + final); the outer join of two aggregates
    two (one per grouping)."""
    budgets = {
        "q_unpivot": 0,
        "q_try_arith": 0,
        "q_redact": 0,
        "q_vector_stats": 0,
        "q_union_distinct": 1,
        "q_bitwise_agg": 1,
        "q_stats_agg": 1,
        "q_regr": 1,
        "q_join_outer": 2,
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name].fn(spark, sf_dir))
        n = plan.count("Exchange")
        assert n <= budget, f"{name} shuffles {n}x, expected <={budget}:\n{plan}"


def test_curation_pipeline_shuffle_budget(spark, sf_dir, queries):
    """The composed curate query (gate -> dedup window -> split) costs one
    hash exchange on the content key plus at most the scan-parallelism
    floor's round-robin repartition (a local-mode artifact: tiny parquet =
    one split; a real corpus has thousands of splits and the floor
    no-ops). More means a stage lost fusion."""
    plan = plan_of(queries["q_curation_pipeline"].fn(spark, sf_dir))
    n_hash = plan.count("Exchange hashpartitioning")
    n_total = plan.count("Exchange")
    assert n_hash <= 1, f"curation pipeline hash-shuffles {n_hash}x:\n{plan}"
    assert n_total <= 2, f"curation pipeline shuffles {n_total}x:\n{plan}"


def test_ntile_has_no_global_window_funnel(spark, sf_dir, queries):
    """Global ntile must NOT route the table through a SinglePartition
    exchange (the classic one-task window funnel): the two-pass quantile
    bucketing keeps the window partitioned by bucket, so the only wide
    exchange is the hash partition on the bucket id."""
    plan = plan_of(queries["q_ntile"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_contamination_broadcasts_eval_side(spark, sf_dir, queries):
    """Decontamination joins a huge train shingle stream against a tiny
    eval set: the eval side must broadcast (train shingles never hash-
    shuffle before the join); the only hash exchanges carry post-join
    (eval_doc, train_doc) pairs."""
    plan = plan_of(queries["q_contamination"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_sequence_packing_two_pass_shape(spark, sf_dir, queries):
    """Packing is the round-8 two-pass decomposition: within-(source,
    doc_id-bucket) windows + per-bucket offsets joined back — a bounded
    shuffle budget and NEVER a per-source window over the raw corpus
    (source has ~5 values; the old single-exchange shape was one sort
    task per shard, flagged by plan_audit's low-cardinality check)."""
    plan = plan_of(queries["q_sequence_packing"].fn(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    from plan_audit import lowcard_windows

    assert not lowcard_windows(plan), plan


def test_heavy_hitters_and_leakage_shuffle_budgets(spark, sf_dir, queries):
    """Heavy hitters: token-count groupBy + rank window over the (much
    smaller) aggregate stream — two hash exchanges, never a global sort.
    Split leakage: one co-located self-join on the content key plus its
    two side shuffles at most."""
    plan = plan_of(queries["q_heavy_hitters"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    plan = plan_of(queries["q_split_leakage"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_round4_additions_shuffle_budgets(spark, sf_dir, queries):
    """Plan contracts for the round-4 query additions: char entropy is a
    pure scan-speed projection (zero exchanges); exact TF-IDF is tf
    partial-agg + tiny df agg + rank window (≤3 hash exchanges, no global
    funnel); approx_percentile keeps map-side partial sketches."""
    plan = plan_of(queries["q_char_entropy"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan
    plan = plan_of(queries["q_tfidf_exact"].fn(spark, sf_dir))
    # the only global funnel allowed is the 1-ROW corpus-count scalar (N);
    # the ranking window itself must stay hash-partitioned by doc. The
    # static plan shows the tf subtree twice (tf + df branches) — 4 hash
    # exchanges; AQE collapses the duplicate into a ReusedExchange at
    # runtime, so the executed budget is 3.
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "hashpartitioning(doc_id" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    plan = plan_of(queries["q_approx_percentile"].fn(spark, sf_dir))
    assert "partial_approx_percentile" in plan or "partial" in plan.lower(), plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_curation_window_key_is_fingerprint(spark, sf_dir, queries):
    """The exact-dedup window inside the curation pipeline must partition
    on the 8-byte canonical fingerprint, not the sorted token ARRAY — a
    document-sized exchange payload at 100 TB."""
    plan = plan_of(queries["q_curation_pipeline"].fn(spark, sf_dir))
    assert "xxhash64" in plan, plan
    assert "hashpartitioning(sort_array" not in plan, plan


def test_split_leakage_shuffle_key_is_fingerprint(spark, sf_dir, queries):
    """The leakage self-join must shuffle on the 8-byte xxhash64
    fingerprint, never the document-sized token string — at 100 TB the
    exchange payload is the difference between shuffling longs and
    shuffling the corpus."""
    plan = plan_of(queries["q_split_leakage"].fn(spark, sf_dir))
    assert "xxhash64" in plan, plan
    # ck must be a long (#N L suffix in attribute refs), not a string key:
    # the join condition renders as (ck#NL = ck#ML) when the key is a long
    import re

    assert re.search(r"ck#\d+L", plan), plan


def test_curation_full_shuffle_budget(spark, sf_dir, queries):
    """The FINAL stage of the full curation DAG (gate -> exact dedup ->
    keep-cluster-representative -> split) — the part that touches the
    corpus AFTER the pairs-sized clustering has collapsed to a checkpointed
    label table — must cost the window exchange plus the (broadcast-sized)
    cluster join, never a second corpus-wide hash shuffle chain."""
    plan = plan_of(queries["q_curation_full"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_round5_corpus_query_shuffle_budgets(spark, sf_dir, queries):
    """Round-5 additions: boilerplate shuffles on the 8-byte gram hash
    (long attrs, never gram strings); token rarity is explode -> df agg
    -> co-keyed join-back -> doc agg (hash exchanges only, no global
    funnel); hopping window is a single exchange on the window key;
    domain mix funnels only the 20-row per-source aggregate into the
    one-row scalar."""
    import re

    plan = plan_of(queries["q_boilerplate"].fn(spark, sf_dir))
    assert "xxhash64" in plan, plan
    assert re.search(r"hashpartitioning\(g#\d+L", plan), plan
    assert "SinglePartition" not in plan, plan

    plan = plan_of(queries["q_token_rarity"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan

    plan = plan_of(queries["q_hopping_window"].fn(spark, sf_dir))
    assert plan.count("Exchange") <= 1, plan
    assert "partial_count" in formatted_plan_of(
        queries["q_hopping_window"].fn(spark, sf_dir)
    ) or "partial" in plan.lower(), plan

    plan = plan_of(queries["q_domain_mix"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    # the per-source subtree appears twice statically (scalar + output
    # branches); AQE collapses the duplicate into a ReusedExchange
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_tpch_batch6_plan_contracts(spark, sf_dir, queries):
    """The six adapted TPC-H shapes must keep their scale-critical plan
    properties: no cartesian products anywhere (except the broadcast
    one-row scalars in Q11/Q20), Q2's part filter prunes before the
    window min, Q21 never self-joins the fact row-to-row (the dual
    EXISTS is window aggregates + one join-back on the grouped key)."""
    for name in ("q_tpch_q2", "q_tpch_q12", "q_tpch_q16", "q_tpch_q21"):
        plan = plan_of(queries[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name}: {plan}"
    # Q11/Q20: the only nested-loop join is the broadcast 1-row scalar
    for name in ("q_tpch_q11", "q_tpch_q20"):
        plan = plan_of(queries[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name}: {plan}"
        assert "BroadcastNestedLoopJoin" in plan, f"{name}: {plan}"
    # Q2: PushedFilters on part reach the scan (pruned before the join)
    fplan = formatted_plan_of(queries["q_tpch_q2"].fn(spark, sf_dir))
    assert "PushedFilters" in fplan and "p_size" in fplan, fplan
    # Q21: exactly one join of the fact against the grouped per-(order,
    # supplier) set — no O(rows^2) self-join of raw lineitem
    plan = plan_of(queries["q_tpch_q21"].fn(spark, sf_dir))
    assert plan.count("SortMergeJoin") <= 3, plan


def test_salted_join_and_merge_plan_contracts(spark, sf_dir, queries):
    """q_salted_join: the shuffle/join keys must include the salt (that
    is the whole point — a heavy-hitter key spreads over n_salt
    partitions); q_upsert_merge: the survivor side is a left-anti join
    on the key, and no cartesian/nested-loop appears."""
    plan = plan_of(queries["q_salted_join"].fn(spark, sf_dir))
    assert "__salt" in plan, plan
    assert "CartesianProduct" not in plan, plan
    plan = plan_of(queries["q_upsert_merge"].fn(spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_chunking_is_scan_only(spark, sf_dir, queries):
    """Document chunking is per-row array arithmetic — no hash shuffle
    and no global funnel; the only allowed exchange is the round-robin
    parallelism floor (ensure_parallelism) on a tiny-file scan."""
    plan = plan_of(queries["q_chunk_documents"].fn(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_rank_limit_windows_get_partial_group_limit(spark, sf_dir, queries):
    """Per-group top-k via row_number + filter must plan a PARTIAL
    WindowGroupLimit BEFORE the exchange (Spark's rank-limit pushdown):
    each map task keeps <= k rows per key, so a hot key ships
    k x n_partitions rows instead of its full row set. This optimizer
    behavior is the reason the repo needs no hand-rolled two-phase
    grouped top-k — pin it so a conf/regression that disables it
    (spark.sql.window.group.limit.threshold) fails loudly."""
    df = queries["q_window_rank"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "WindowGroupLimit" in plan, plan
    partial_pos = plan.find("Partial")
    exchange_pos = plan.find("Exchange hashpartitioning")
    assert partial_pos != -1 and exchange_pos != -1
    # toString prints top-down: the Partial limit appears BELOW (after)
    # the exchange in text order, i.e. upstream of it in dataflow
    assert plan.find("WindowGroupLimit") < exchange_pos < partial_pos, plan


def test_bucketed_join_query_has_no_exchange_or_sort(spark, sf_dir, queries):
    """q_bucketed_join must execute as a scan-side merge once the join is
    too big to broadcast (the regime bucketing exists for): bucketed +
    sorted layout on both sides leaves NO Exchange above the scans. At
    sf0.001 the planner broadcasts instead — also shuffle-free, but the
    test pins the at-scale shape by disabling broadcast."""
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = queries["q_bucketed_join"].fn(spark, sf_dir)
        plan = plan_of(df)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS q_bj_orders")
        spark.sql("DROP TABLE IF EXISTS q_bj_customer")


def test_bloom_prune_filters_fact_before_exchange(spark, sf_dir, queries):
    """The Bloom membership test must sit in the orders scan stage (below
    the join's exchange), and it must actually thin the fact side: only
    probable matches + false positives reach the shuffle."""
    from trading_data_pipeline_spark.plans.bloom import (
        bloom_bitmap, bloom_might_contain,
    )

    plan = plan_of(queries["q_bloom_join"].fn(spark, sf_dir))
    # the probe is element_at over the literal bitmap; it must appear in a
    # Filter, and that Filter must not sit above any Exchange in the
    # fact branch — locate the first exchange and check the probe text
    # occurs after it in bottom-up string order (executedPlan prints
    # top-down, so "after" in text = deeper = before the shuffle).
    assert "element_at" in plan, plan
    probe_pos = plan.rindex("element_at")
    assert "Exchange" in plan
    first_exchange_pos = plan.index("Exchange")
    assert probe_pos > first_exchange_pos, "bloom probe must be below the exchange"

    # pruning power: non-member fact keys are mostly rejected
    cust = load(spark, sf_dir, "customer")
    dim = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = load(spark, sf_dir, "orders")
    bitmap = bloom_bitmap(dim, "c_custkey")
    pruned = orders.filter(bloom_might_contain(F.col("o_custkey"), bitmap)).count()
    total = orders.count()
    members = orders.join(dim, orders.o_custkey == dim.c_custkey, "left_semi").count()
    assert members <= pruned < total, (members, pruned, total)
    # false-positive rate among non-members is sized for <1% (m=128Ki, k=5)
    fp = pruned - members
    assert fp <= max(5, 0.02 * (total - members)), (fp, total - members)


def test_bloom_never_rejects_members(spark, sf_dir):
    from trading_data_pipeline_spark.plans.bloom import (
        bloom_bitmap, bloom_might_contain,
    )

    nation = load(spark, sf_dir, "nation")
    bitmap = bloom_bitmap(nation, "n_nationkey")
    hits = (
        nation.filter(bloom_might_contain(F.col("n_nationkey"), bitmap)).count()
    )
    assert hits == nation.count()


def test_score_rank_norm_has_no_global_window_funnel(spark, sf_dir, queries):
    """Global percentile normalization must never route all rows through
    one task: no empty-partitionBy window in the executed plan."""
    plan = plan_of(queries["q_score_rank_norm"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan, plan


def test_quality_score_is_scan_only(spark, sf_dir, queries):
    plan = plan_of(queries["q_quality_score"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_round5_lake_and_analytics_shuffle_budgets(spark, sf_dir, queries):
    """Exchange budgets for the round-5 additions: every one must stay a
    fixed small number of key shuffles regardless of data size."""
    budgets = {
        "q_cdc_apply": 1,          # one exchange on the key
        "q_ewma": 1,               # one window exchange on user_id
        "q_sequence_pattern": 1,   # one exchange for the journey agg
        "q_incremental_agg": 3,    # old-state agg + delta agg + merge
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name].fn(spark, sf_dir))
        n = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n <= budget, (name, n, plan)


def test_cdc_apply_gets_rank_limit_pushdown(spark, sf_dir, queries):
    """The per-key top-1 must run as a partial group-limit BEFORE the
    exchange so the shuffle carries one candidate per (key, partition),
    not the whole changelog."""
    plan = plan_of(queries["q_cdc_apply"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    # partial mode present below the exchange
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_skyline_has_no_global_window_funnel(spark, sf_dir, queries):
    plan = plan_of(queries["q_skyline"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan, plan


def test_pit_and_feature_hash_shuffle_budgets(spark, sf_dir, queries):
    budgets = {
        "q_pit_join": 2,      # version window + as-of window, both on user_id
        "q_feature_hash": 1,  # explode -> partial agg -> one exchange
        "q_wap_publish": 1,   # group agg over the published scan
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name].fn(spark, sf_dir))
        n = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n <= budget, (name, n, plan)


def test_feature_hash_has_partial_aggregation(spark, sf_dir, queries):
    plan = formatted_plan_of(queries["q_feature_hash"].fn(spark, sf_dir))
    assert "partial_count" in plan or "Partial" in plan, plan


def test_max_drawdown_single_exchange(spark, sf_dir, queries):
    """Equity window, peak window and the per-user aggregate all key on
    user_id — one hash exchange carries the whole metric."""
    plan = plan_of(queries["q_max_drawdown"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_vwap_bars_single_exchange_with_partial_agg(spark, sf_dir, queries):
    """Bar building is one groupBy on (event_type, bar_start): partial
    aggregation map-side, one exchange on the grouping key."""
    df = queries["q_vwap_bars"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "partial" in formatted_plan_of(df).lower(), plan


def test_mad_outliers_broadcasts_group_stats(spark, sf_dir, queries):
    """The per-type median/MAD tables are group-cardinality-sized — they
    must come back to the event stream as broadcasts, never a
    SortMergeJoin over the fact table."""
    plan = plan_of(queries["q_mad_outliers"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_rfm_has_no_global_window_funnel(spark, sf_dir, queries):
    """All three quintile scores come from the two-pass bucketed global
    rank — a SinglePartition window over all customers must never
    appear."""
    plan = plan_of(queries["q_rfm"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan, plan


def test_basket_pairs_never_self_joins_the_fact(spark, sf_dir, queries):
    """Pair generation is per-basket array arithmetic: the query plan
    must not contain a cartesian product, and the basket BUILD (the
    part materialized by the query's localCheckpoint) must be the
    collect_set aggregate, not a lineitem self-join."""
    plan = plan_of(queries["q_basket_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # the REAL build path basket_pairs materializes (not a re-creation):
    from trading_data_pipeline_spark.operators.bi_queries import (
        order_baskets,
    )

    build = plan_of(order_baskets(load(spark, sf_dir, "lineitem")))
    assert "collect_set" in build, build
    assert "Join" not in build, build


def test_cooccurrence_vocab_joins_are_broadcast(spark, sf_dir, queries):
    """The vocabulary is K rows: it must fold back as broadcasts, and
    pair generation must stay array-side (no token-stream self-join)."""
    plan = plan_of(queries["q_cooccurrence"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_triangle_count_stays_edge_sized(spark, sf_dir, queries):
    plan = plan_of(queries["q_triangle_count"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_file_stats_single_partial_agg_exchange(spark, sf_dir, queries):
    df = queries["q_file_stats"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "partial" in formatted_plan_of(df).lower(), plan


def test_attribution_single_exchange(spark, sf_dir, queries):
    plan = plan_of(queries["q_attribution"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # window + rollup


def test_corr_matrix_scans_raw_stream_once(spark, sf_dir, queries):
    """The correlation matrix derives everything from the tiny
    (day, type) aggregate — exactly one scan of the events parquet in
    the plan (the self-join reuses the aggregate subtree)."""
    plan = formatted_plan_of(queries["q_corr_matrix"].fn(spark, sf_dir))
    assert plan.count("events.parquet") <= 2, plan  # one per join leg at most
    assert "SinglePartition" not in plan_of(queries["q_corr_matrix"].fn(spark, sf_dir))


def test_snapshot_diff_is_one_key_join(spark, sf_dir, queries):
    plan = plan_of(queries["q_snapshot_diff"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_semijoin_selectivity_partial_aggregates(spark, sf_dir, queries):
    """Sketch builds must partial-aggregate: the exchanges carry sketch
    bytes, never raw keys (the one-row cross join at the top is two
    scalar frames)."""
    plan = formatted_plan_of(queries["q_semijoin_selectivity"].fn(spark, sf_dir))
    assert "partial_theta_sketch_agg" in plan, plan


def test_round6_batch1_shuffle_budgets(spark, sf_dir, queries):
    """Exchange budgets for the round-6 additions."""
    budgets = {
        # daily agg + spine/window co-keyed on user_id
        "q_interpolate": 2,
        # salted partial + final merge + distinct-users pair dedup/count
        "q_salted_agg": 4,
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name].fn(spark, sf_dir))
        n = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n <= budget, (name, n, plan)


def test_random_projection_is_scan_only(spark, sf_dir, queries):
    """The 64->8 projection is pure per-row arithmetic: no exchange of
    any kind may appear — at corpus scale this must stay map-side."""
    plan = plan_of(queries["q_random_projection"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_salted_agg_first_phase_groups_on_salt(spark, sf_dir, queries):
    """The salt must reach the FIRST aggregate's grouping key (otherwise
    the pattern silently degrades to the one-task hot-key merge)."""
    plan = formatted_plan_of(queries["q_salted_agg"].fn(spark, sf_dir))
    assert "_salt" in plan, plan
    # distinct users must be the dedup-then-count two-phase, never a
    # count(DISTINCT ...) aggregate holding a per-key hash set
    assert "count(distinct" not in plan.lower(), plan


def test_interpolate_windows_reuse_spine_partitioning(spark, sf_dir, queries):
    """Both direction windows and the spine join share the user_id key;
    no single-partition funnel anywhere."""
    plan = plan_of(queries["q_interpolate"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan, plan


def test_auc_window_is_bucket_partitioned(spark, sf_dir, queries):
    """AUC's cumulative-count window must run per quantile bucket (the
    two-pass global cumsum), never as a global SinglePartition window
    over the value rows; the only SinglePartition exchange allowed is
    the one-row final scalar aggregate, which must be partial-aggregated
    below the exchange."""
    df = queries["q_auc"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "_bkt" in plan, plan
    fplan = formatted_plan_of(df)
    assert "partial" in fplan.lower(), fplan


def test_decile_lift_uses_two_pass_ntile(spark, sf_dir, queries):
    """The decile assignment must come from the bucketized two-pass rank
    (the raw event rows never meet an unpartitioned window; the only
    unpartitioned window runs over the 10-row decile aggregate)."""
    plan = plan_of(queries["q_decile_lift"].fn(spark, sf_dir))
    assert "_bkt" in plan, plan


def test_round6_batch2_plan_contracts(spark, sf_dir, queries):
    """knn eval is registered on the EXACT Arrow-batched panel scorer:
    ONE corpus pass through a MapInArrow node whose batch-local top-k
    replaces both the corpus×holdout product and the per-pair JVM fold —
    the plan must contain exactly one embeddings scan feeding MapInArrow
    and no product join; stratified take gets rank-limit pushdown; skew
    audit partial-aggregates the key counts and broadcasts the stats
    row."""
    knn = plan_of(queries["q_knn_eval"].fn(spark, sf_dir))
    assert "CartesianProduct" not in knn, knn
    assert "BroadcastNestedLoopJoin" not in knn, knn
    assert "MapInArrow" in knn, knn
    # one corpus-wide vector pass (the MapInArrow source) + the pruned
    # broadcast label side — the panel collect happens at plan-build
    # time, not in-plan; a third scan would mean the product is back
    assert knn.count("Scan parquet") == 2, knn

    strat = plan_of(queries["q_stratified_exact"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in strat, strat
    assert "SinglePartition" not in strat, strat

    skew = formatted_plan_of(queries["q_skew_audit"].fn(spark, sf_dir))
    assert "partial_count" in skew, skew
    assert "BroadcastExchange" in plan_of(queries["q_skew_audit"].fn(spark, sf_dir))


def test_dpp_join_prunes_fact_partitions(spark, sf_dir, queries):
    """The date-partitioned fact scan must carry a runtime dynamicpruning
    PartitionFilter fed by the broadcast dim — without it the query reads
    every partition of a 100 TB lake to join 4 days."""
    plan = plan_of(queries["q_dpp_join"].fn(spark, sf_dir))
    assert "dynamicpruning" in plan, plan


def test_udtf_runs_is_arrow_batched(spark, sf_dir, queries):
    """The Python UDTF must evaluate through the Arrow batch path, not the
    pickled row path."""
    plan = plan_of(queries["q_udtf_runs"].fn(spark, sf_dir))
    assert "ArrowEvalPythonUDTF" in plan, plan
    assert "BatchEvalPythonUDTF" not in plan, plan


def test_variant_json_single_shuffle_with_partial_agg(spark, sf_dir, queries):
    """VARIANT parse + typed access stays one partial-agged exchange —
    parse_json/variant_get are JVM expressions, not a Python boundary."""
    df = queries["q_variant_json"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in formatted_plan_of(df)
    assert "Python" not in plan, plan


def test_seasonal_profile_has_no_global_window(spark, sf_dir, queries):
    """The global mean must arrive as a 1-row broadcast join, never an
    empty-partition window (single-task funnel at scale)."""
    plan = plan_of(queries["q_seasonal_profile"].fn(spark, sf_dir))
    assert "Window" not in plan, plan


def test_target_encode_fact_never_wide_shuffles(spark, sf_dir, queries):
    """The per-category stats and the 1-row global mean broadcast back onto
    the scan; the only hash exchanges are the two tiny aggregations — the
    fact rows themselves must not shuffle."""
    plan = plan_of(queries["q_target_encode"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_walk_forward_fold_join_is_broadcast(spark, sf_dir, queries):
    """The <=N_FOLDS fold rows must broadcast into the range join — a
    shuffle of the fact against 5 rows would be absurd at scale."""
    plan = plan_of(queries["q_walk_forward"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_time_rollup_reuses_hour_exchange(spark, sf_dir, queries):
    """The day grain must consume the hour grain's shuffle, not re-scan
    raw: after execution the adaptive plan carries a ReusedExchange for
    the second branch (static plans don't show AQE reuse, so this
    contract inspects the final executed plan)."""
    df = queries["q_time_rollup"].fn(spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    assert "ReusedExchange" in plan, plan


def test_quantile_normalize_two_pass_shape(spark, sf_dir, queries):
    """Rank decomposes as the (type, value) histogram cumsum + a
    within-(type, value) row_number joined back — bounded exchanges and
    NEVER a per-type rank window over raw events (the old one-exchange
    shape sorted a type's full stream in one task)."""
    plan = plan_of(queries["q_quantile_normalize"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    assert "Exchange SinglePartition" not in plan, plan
    from plan_audit import lowcard_windows

    assert not lowcard_windows(plan), plan


def test_interval_join_is_equi_not_nested_loop(spark, sf_dir, queries):
    """The grid decomposition must turn the interval-overlap condition
    into an equi-join on the cell id — a BroadcastNestedLoopJoin here
    means the decomposition regressed to the O(|sessions|·|windows|)
    inequality form."""
    plan = plan_of(queries["q_interval_join"].fn(spark, sf_dir))
    assert "NestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_round6_session_batch_plan_contracts(spark, sf_dir, queries):
    """Indicator chain shares one event_type-keyed exchange after the
    daily rollup; drawdown windows+aggregates share the user_id key;
    the corpus overlap self-join carries 8-byte hashed gram keys; the
    centroid classifier and bigram LM never form a cartesian product."""
    boll = plan_of(queries["q_bollinger"].fn(spark, sf_dir))
    # daily rollup exchanges on (event_type, day); the frame window
    # re-keys on event_type — 2 exchanges total, no more
    assert boll.count("Exchange hashpartitioning") <= 2, boll

    dd = plan_of(queries["q_drawdown_duration"].fn(spark, sf_dir))
    assert "CartesianProduct" not in dd
    # equity/peak/run windows + per-run and total aggregates all key
    # user_id — AQE may coalesce, but nothing may key anything else
    assert "SinglePartition" not in dd, dd

    ovl = plan_of(queries["q_source_overlap"].fn(spark, sf_dir))
    assert "xxhash64" in ovl, ovl
    assert "CartesianProduct" not in ovl

    for name in ("q_bigram_lm", "q_centroid_classify", "q_node_jaccard"):
        plan = plan_of(queries[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # bigram count tables must shuffle hashed keys, not token strings
    assert "xxhash64" in plan_of(queries["q_bigram_lm"].fn(spark, sf_dir))


def test_recursive_cte_plan_is_recursive(spark, sf_dir, queries):
    """WITH RECURSIVE must plan as Spark's recursion operator (a
    UnionLoop/recursive node), not be silently rewritten to a bounded
    union — otherwise the per-group unbounded iteration contract is
    gone."""
    plan = plan_of(queries["q_recursive_cte"].fn(spark, sf_dir))
    assert "UnionLoop" in plan or "Recursion" in plan, plan


def test_referential_integrity_broadcasts_every_antijoin(spark, sf_dir, queries):
    """Each FK edge is child LEFT ANTI parent on the key column only —
    the dims must broadcast (no shuffled anti join of a fact against a
    5-row region table), and the only BNLJ is the 1-row count × 1-row
    orphan-count combiner."""
    plan = plan_of(queries["q_referential_integrity"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_round6_batch2_shuffle_budgets(spark, sf_dir, queries):
    """Indicator/audit batch keeps minimal plan shapes: the daily-bar
    chains spend one exchange on (type, day) + one on type; the HHI and
    mode pairs are two counting aggregates; tail tokens shuffles token
    keys with no product joins."""
    budgets = {
        "q_atr": 2,
        "q_obv": 2,
        "q_turnover_hhi": 2,
        "q_grouped_mode": 3,
        "q_gap_top": 1,
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name].fn(spark, sf_dir))
        n = plan.count("Exchange hashpartitioning")
        assert n <= budget, f"{name} shuffles {n}x, expected <={budget}:\n{plan}"
    for name in ("q_tail_tokens", "q_embedding_drift", "q_outlier_iqr"):
        plan = plan_of(queries[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_ann_recall_curve_is_one_corpus_pass(spark, sf_dir):
    """Round-10 contract for the recall curve (round-9 verdict task 6:
    the per-width probe_batch branches re-scanned the corpus per width
    — 452 s warm at sf10). Every arm (exact + each n_probe) must derive
    from ONE bounded candidate table: the candidate pass is a single
    broadcast corpus x sample product whose top-k is pushed BEFORE the
    shuffle, its corpus side reads the index's persisted cell
    assignment, and its output is <= |sample| * n_cells * k rows — the
    per-width branches then touch only that table."""
    from trading_data_pipeline_spark.operators.similarity_queries import (
        ANN_RECALL_MAX_QUERIES,
        ANN_RECALL_QMOD,
        _recall_candidates,
        _recall_qmod,
        _recall_queries,
        ann_recall_curve,
        ivf_index_for,
    )

    from trading_data_pipeline_spark.plans.cache_registry import (
        release_slot,
    )

    # an earlier test may have left the candidate slot persisted, in
    # which case Spark's cache manager substitutes the WHOLE candidate
    # plan with the cached relation (rendering the BNLJ twice in
    # toString); release it so the asserted shape is the fresh plan
    release_slot(spark, "ann_recall_candidates")
    emb = load(spark, sf_dir, "embeddings")
    idx = ivf_index_for(spark, sf_dir)
    qmod = _recall_qmod(emb, ANN_RECALL_QMOD, ANN_RECALL_MAX_QUERIES)
    qs = _recall_queries(emb, qmod)
    cand = _recall_candidates(idx, qs, 10)
    p = plan_of(cand)
    # round-10 second pass: the corpus x sample scoring runs inside ONE
    # Arrow-batched map stage (batch-local per-(query, cell-rank) top-k
    # with a rounding-margin cut) — no join of the corpus at all, and
    # no per-pair JVM fold
    assert "MapInArrow" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "SortMergeJoin" not in p, p
    # corpus side comes from the persisted cell assignment, not a
    # fresh parquet scan + re-assignment
    assert "InMemoryTableScan" in p, p
    # bounded output: every downstream arm is O(candidates)
    assert cand.count() <= qs.count() * len(idx.centroids) * 10
    # the curve itself pins the candidate table through the session
    # cache registry so the widths share ONE materialization
    from trading_data_pipeline_spark.plans import cache_registry

    ann_recall_curve(emb, idx).collect()
    slots = cache_registry._REGISTRY.get(spark) or {}
    assert "ann_recall_candidates" in slots
    assert slots["ann_recall_candidates"].storageLevel.useMemory


def test_embedding_isotropy_is_linear_in_dim(spark, sf_dir):
    """The per-dim resultant sums must aggregate e[i]/nrm with nrm a
    BOUND projected attribute — materializing a unit-normalized array
    first gets the norm fold inlined into the transform lambda and
    re-evaluated per element (the round-10 HOF-inlining class,
    O(d^2)/row). No higher-order function may appear in the plan."""
    from trading_data_pipeline_spark.operators.risk3_queries import (
        embedding_isotropy,
    )

    emb = load(spark, sf_dir, "embeddings")
    p = plan_of(embedding_isotropy(emb))
    assert "transform(" not in p, p
    # a handful of norm folds (projection, filter, plan detail) —
    # never one per dimension (the O(d^2) signature would show ~64)
    assert p.count("aggregate(zip_with") <= 4, p
    assert "sum((e#" in p or "sum((e" in p, p


def test_jaccard_ptj_plan_shape(spark, sf_dir, queries):
    """The registered jaccard join (t=0.9 → the pigeonhole-partition
    path) pins the round-11 scale contract:

    - the xxhash64 collision tripwire's raise_error must survive
      optimization (if Catalyst ever prunes/folds the assert branch,
      token-code collisions would silently merge intersect counts —
      the round-10 ADVICE item);
    - the ONE candidate self-join is a ShuffledHashJoin on the
      (part, subset) key — never a BroadcastHashJoin of the full
      signature table (the round-10 verdict's cluster-scale hazard) and
      never a nested-loop product;
    - no array_intersect inside the join condition: the exact verify
      must sit in the projection above the rand-barrier so it
      evaluates once per candidate (join conditions get no
      subexpression elimination).
    """
    df = queries["q_jaccard_prefix_join"].fn(spark, sf_dir)
    p = formatted_plan_of(df)
    assert "raise_error" in p, "collision tripwire optimized away"
    assert "rand(" in p, "nondeterministic verify barrier optimized away"
    assert "ShuffledHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    # the only BroadcastHashJoin allowed is the vocab-sized dfreq
    # join-back (its build side aggregates to |vocab| rows); the
    # signature self-join must not broadcast: every SHJ/BHJ line that
    # joins on the subset key must be the shuffled one
    for line in p.splitlines():
        if "BroadcastHashJoin" in line and "sub" in line:
            raise AssertionError(f"signature join broadcast: {line}")
    # verify-once: no intersect inside any join node's condition
    import re

    for m in re.finditer(r"\((\d+)\) (ShuffledHash|BroadcastHash)Join", p):
        sec = p[m.start():]
        block = sec[: sec.find("\n\n")]
        assert "array_intersect" not in block, block


def test_containment_verify_joins_never_broadcast_arrays(spark, sf_dir):
    """Both containment verify joins are pinned SHUFFLE_HASH: left to
    size estimates the planner broadcasts the per-doc shingle-array
    table and dies building a multi-GB HashedRelation at the default
    heap (reproduced live at sf10 in round 11). The build sides must be
    the bounded ones — never the array payload collected to one node."""
    from trading_data_pipeline_spark.operators.dedup import containment_pairs

    docs = load(spark, sf_dir, "documents")
    p = formatted_plan_of(containment_pairs(docs))
    assert p.count("ShuffledHashJoin") >= 2, p
    for line in p.splitlines():
        if "BroadcastHashJoin" in line and ("sh_a" in line or "sh_b" in line):
            raise AssertionError(f"array side broadcast: {line}")
