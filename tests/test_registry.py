"""Driver-contract guards: the correctness harness hash-checks the FIRST 50
entries of queries(), so window composition is part of the public contract."""

from __future__ import annotations

from trading_data_pipeline_spark.registry import _PRIORITY, all_queries


def test_priority_window_is_exactly_the_first_50():
    qs = all_queries()
    assert len(_PRIORITY) == len(set(_PRIORITY)) == 50
    assert list(qs)[:50] == list(_PRIORITY)


def test_every_priority_name_is_registered_and_callable():
    qs = all_queries()
    for name in _PRIORITY:
        assert name in qs and callable(qs[name].fn)


def test_oracle_coverage_accounting():
    """Rows-only queries must stay the documented deliberate set — a
    silently-dropped oracle would downgrade a hash check to rows-only."""
    qs = all_queries()
    rows_only = {n for n, s in qs.items() if s.oracle is None}
    assert rows_only == {
        "q_dedup_near", "q_ann_lsh", "q_ann_ivf", "q_ann_batch",
        "q_tfidf", "q_approx_distinct", "q_approx_percentile",
        "q_image_features", "q_audio_features", "q_dedup_clusters",
        "q_curation_full", "q_pagerank", "q_topic_clusters",
        # DataSketches estimates are engine-specific; accuracy vs exact
        # answers is pinned in tests/test_sketches.py
        "q_hll_rollup", "q_theta_overlap", "q_kll_quantiles",
        "q_semijoin_selectivity",
        # iterative peel-to-fixpoint is not single-SQL-expressible;
        # exactness vs a driver-side reference peel in test_round6_ops.py
        "q_kcore",
        # rare-shingle blocking is engine-specific; superset semantics
        # golden-tested in test_round6_ops.py
        "q_containment",
        # fake-codec pixels are engine-specific; hamming semantics +
        # pigeonhole recall pinned in test_multimodal.py
        "q_phash_dedup",
        # banding is probabilistic; equivalence to the batch self-join's
        # cross pairs + golden pairs in test_extensions.py
        "q_dedup_delta",
        # fixed-round synchronous propagation is iterative, not single-SQL;
        # exactness vs a driver-side reference in test_round6b_ops.py
        "q_label_propagation",
        # iterative driver-normalized state; direction vs numpy eigh
        # pinned in test_round6b_ops.py
        "q_principal_component",
        # IVF cell assignment is index-specific; monotone recall curve
        # + all-cells-exact pinned in test_embedding_quality.py
        "q_ann_recall",
        # minhash permutations are engine-specific; miss-detection +
        # exhaustive-truth construction pinned in test_round6b_ops.py
        "q_banding_recall",
    }, sorted(rows_only)


def test_every_query_has_a_doc():
    """The operator index is generated from registry docs — an empty doc
    produces a blank row, so every registration must describe itself."""
    missing = [n for n, s in all_queries().items() if not (s.doc or "").strip()]
    assert not missing, missing


def test_operator_index_is_current():
    """docs/OPERATORS.md is generated from the registry; a stale committed
    copy (a query registered, renamed or re-documented without re-running
    tools/gen_operator_index.py) must fail loudly here. Every row is
    compared in full, in any order."""
    import os
    from collections import Counter

    from gen_operator_index import rows, total_line

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "OPERATORS.md",
    )
    with open(path) as f:
        lines = f.read().splitlines()
    committed = Counter(ln for ln in lines if ln.startswith("| `"))
    want = Counter(rows())
    assert committed == want, (
        f"stale rows in docs/OPERATORS.md: {sorted(committed - want)[:3]}; "
        f"expected: {sorted(want - committed)[:3]}"
    )
    assert total_line() in lines, "stale total in docs/OPERATORS.md"


def test_round11_window_is_applied():
    """Round 11 is LIVE: _PRIORITY must be the staged round-11 list (the
    soundness of that list — 50 names, canaries first, no duplicates —
    is pinned by test_round11_window_proposal_is_sound below)."""
    from trading_data_pipeline_spark.registry import (
        _PRIORITY,
        _PRIORITY_ROUND11,
    )

    assert _PRIORITY is _PRIORITY_ROUND11, "round-11 window not applied"


def test_no_oracle_column_is_duckdb_hugeint():
    """DuckDB types sum(<int>) as HUGEINT, which the driver's value hash
    serializes differently from Spark's BIGINT — rows and schema match but
    hash_match fails on identical values (5 red rows in CORRECTNESS_r05).
    DESCRIBE every registered oracle and reject HUGEINT (and unsigned)
    output columns; new oracles must CAST integer sums to BIGINT."""
    import duckdb

    from trading_data_pipeline_spark.registry import TABLES

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    offenders = {}
    for name, spec in all_queries().items():
        if spec.oracle is None:
            continue
        desc = con.execute(f"DESCRIBE ({spec.oracle})").fetchall()
        bad = [
            (c, ty)
            for c, ty, *_ in desc
            if "HUGEINT" in ty.upper() or ty.upper().startswith("U")
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"driver-hash-hostile oracle column types: {offenders}"


def test_round11_window_proposal_is_sound():
    """_PRIORITY_ROUND11 is the live driver window — validated so renames
    can't silently break the rotation: every name registered, exactly
    50, canaries first, no duplicates, and it must contain every
    remaining never-driver-verified op (q_ece, q_hodges_lehmann, and the
    batch-14..16 additions pulled forward from the old round-12
    staging) so never-verified debt reaches zero at round 11."""
    from trading_data_pipeline_spark.registry import _PRIORITY_ROUND11

    qs = all_queries()
    unknown = [n for n in _PRIORITY_ROUND11 if n not in qs]
    assert not unknown, f"round-11 window names not registered: {unknown}"
    assert len(_PRIORITY_ROUND11) == 50, len(_PRIORITY_ROUND11)
    assert len(set(_PRIORITY_ROUND11)) == 50, "duplicate names"
    assert _PRIORITY_ROUND11[:2] == ("q_report1", "q_dedup_near")
    new_ops = {
        # never-driver-verified remainder from the round-10 pull-forward
        "q_ece", "q_hodges_lehmann",
        # never-driver-verified batch-14..16 additions, pulled forward
        # from the old round-12 staging — after round 11 the
        # never-verified count is ZERO
        "q_bootstrap_ci", "q_assortativity", "q_cusum",
        "q_trimmed_mean", "q_markov_entropy", "q_pastor_stambaugh",
        "q_dual_beta", "q_k_ratio", "q_rachev", "q_embedding_isotropy",
        "q_dsir_weights", "q_bpe_step", "q_ccnet_buckets",
        "q_lorenz_deciles", "q_theil_index",
    }
    missing = new_ops - set(_PRIORITY_ROUND11)
    assert not missing, f"never-verified ops missing from round-11 window: {sorted(missing)}"


def test_round12_window_proposal_is_sound():
    """_PRIORITY_ROUND12 is the round-12 staged driver window — pure
    re-verification of the oldest last-green rows (the never-verified
    debt is zero after round 11 under the restructured round-10/11
    windows): every name registered, exactly 50, canaries first, no
    duplicates, no overlap with the round-11 window, and it must carry
    the round-3-green cohort displaced from the old round-10 staging
    plus the round-3/4 cohorts from the old round-12 staging."""
    from trading_data_pipeline_spark.registry import (
        _PRIORITY_ROUND11,
        _PRIORITY_ROUND12,
    )

    qs = all_queries()
    unknown = [n for n in _PRIORITY_ROUND12 if n not in qs]
    assert not unknown, f"round-12 window names not registered: {unknown}"
    assert len(_PRIORITY_ROUND12) == 50, len(_PRIORITY_ROUND12)
    assert len(set(_PRIORITY_ROUND12)) == 50, "duplicate names"
    assert _PRIORITY_ROUND12[:2] == ("q_report1", "q_dedup_near")
    overlap = set(_PRIORITY_ROUND12[2:]) & set(_PRIORITY_ROUND11)
    assert not overlap, f"slots wasted on round-11-covered queries: {sorted(overlap)}"
    missing = {
        # round-3 greens displaced from the old round-10 staging
        "q_contamination", "q_curation_pipeline", "q_dataset_split",
        "q_dedup_embed", "q_dedup_ngram", "q_filter_date",
        "q_fingerprint", "q_frame_sample", "q_groupby_agg",
        "q_json_extract", "q_multimodal_meta", "q_quality_repetition",
        "q_range_join", "q_sequence_packing", "q_stratified_sample",
        # oldest round-3/4 cohorts from the old round-12 staging
        "q_dedup_exact", "q_window_lag", "q_ann_ivf", "q_median",
    } - set(_PRIORITY_ROUND12)
    assert not missing, f"re-verification cohort missing from round-12 window: {sorted(missing)}"
