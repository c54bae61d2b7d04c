"""Query registry: every declared operator from SURVEY.md §2 with its
DuckDB oracle SQL. ``__spark_entry__.py`` is a thin shim over this module.

Contract (driver): each query callable takes ``(spark, sf_dir)`` and returns
a DataFrame; the oracle SQL runs on DuckDB with views ``region nation
customer supplier part orders lineitem events documents embeddings``
pre-registered over the same parquet. Column names are aliased identically
on both sides; float outputs are rounded on both sides so value-hashes are
stable across engines.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# The driver's parquet stores TIMESTAMP(NANOS) which Spark's vectorized
# reader rejects; read them as raw nanos (legacy conf) and convert to
# TimestampType (micros) at the scan boundary. DuckDB reads the same files
# as TIMESTAMP_NS — second/date-level derivations agree on both engines.
_TS_COLS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    for c in _TS_COLS.get(name, []):
        if c in df.columns and isinstance(df.schema[c].dataType, LongType):
            # integer div (not /1000.0): float division loses sub-µs exactness
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        # A duplicate name would silently SHADOW an existing operator
        # (last import wins) — the registry, driver windows, docs index
        # and parity harness would all quietly test the wrong plan.
        # Happened once in round 8 (a second q_lateral_topn); fail loud.
        if name in _REGISTRY:
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                f"registered by {_REGISTRY[name].fn.__module__}"
            )
        _REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn
    return deco


# The driver's correctness harness checks the FIRST 50 entries of
# ``queries()``.  Insertion order therefore decides which operators get a
# driver-verified row each round.  This list pins the SURVEY.md §2
# component-mapped queries (flagship report1 pipeline + its micro-queries,
# event-time windows, io/meta protocol, dedup family, similarity, text,
# multimodal, curation, as-of) into that window; everything not listed
# follows in module-registration order and is still covered by the local
# oracle harness (``tools/parity.py``) and pytest.
#
# ROUND-11 WINDOW (LIVE). Validated by tests/test_registry.py (names
# exist, exactly 50, canaries first, no duplicates, every remaining
# never-driver-verified op present). Composition: canaries; the 2
# never-driver-verified round-8 additions the widened round-10 window
# could not absorb (q_ece, q_hodges_lehmann); the 15 never-driver-
# verified batch-14..16 additions pulled forward from the old round-12
# staging (q_bootstrap_ci … q_theil_index) — after this window runs,
# never-driver-verified debt is ZERO; then 31 re-verification slots:
# the 15 relational/io/meta basics displaced from round 10 (newest
# green rows r1–r3), the 15 queries whose newest green row dates to
# round 2, and q_asof_pandas (round-3 green, first of that cohort).
_PRIORITY_ROUND11: tuple[str, ...] = (
    "q_report1", "q_dedup_near",
    # never-driver-verified remainder from the round-10 pull-forward
    "q_ece", "q_hodges_lehmann",
    # never-driver-verified batch-14..16 round-8 additions, pulled
    # forward from the old round-12 staging
    "q_bootstrap_ci", "q_assortativity",
    "q_cusum", "q_trimmed_mean", "q_markov_entropy",
    "q_pastor_stambaugh",
    "q_dual_beta", "q_k_ratio", "q_rachev", "q_embedding_isotropy",
    "q_dsir_weights", "q_bpe_step", "q_ccnet_buckets",
    "q_lorenz_deciles", "q_theil_index",
    # re-verification: relational/io/meta basics (newest green rows
    # r1-r3), displaced from round 10 by the never-verified pull-forward
    "q_scan_csv", "q_sink_csv", "q_sink_parquet", "q_sink_json",
    "q_union_all", "q_date_spine", "q_anti_join_dates", "q_lit_frame",
    "q_checked_union", "q_join_inner", "q_join_broadcast", "q_semi_join",
    "q_anti_join", "q_distinct_count", "q_rollup",
    # re-verification: newest green rows date to round 2
    "q_approx_distinct", "q_audio_features", "q_case_when", "q_cube",
    "q_date_funcs", "q_except", "q_explode_tokens", "q_grouping_sets",
    "q_image_features", "q_intersect", "q_percentiles", "q_pivot",
    "q_string_funcs", "q_window_rank", "q_window_running",
    # re-verification: newest green rows date to round 3 (first of the
    # cohort; the rest re-stage in round 12)
    "q_asof_pandas",
)

# ROUND-12 WINDOW (apply at the start of round 12 — do NOT apply
# earlier). Validated NOW by tests/test_registry.py (names exist,
# exactly 50, canaries first, no duplicates, no overlap with the
# round-11 window). Composition: canaries; the 5 queries whose
# semantics changed in round 11 (q_spearman, q_containment,
# q_basket_pairs, q_source_overlap, q_jaccard_prefix_join), which the
# round-11 window did not hold; then 43 pure re-verification slots with
# the OLDEST last-green driver rows — the remaining 15 round-3 greens
# displaced from the old round-10 staging, the 15 round-3 greens from
# the old round-12 staging, and 13 of the round-4 greens (the five
# round-4 greens before q_median gave their slots to the changed
# queries). No never-verified slots remain: debt reaches 0 at round 11
# under the round-10/11 windows above.
# At round-12 open, set ``_PRIORITY = _PRIORITY_ROUND12``.
_PRIORITY_ROUND12: tuple[str, ...] = (
    "q_report1", "q_dedup_near",
    # changed in round 11, outside the round-11 window
    "q_spearman", "q_containment", "q_basket_pairs", "q_source_overlap",
    "q_jaccard_prefix_join",
    # re-verification: newest green rows date to round 3 (displaced
    # from the old round-10 staging by the never-verified pull-forward)
    "q_contamination", "q_curation_pipeline",
    "q_dataset_split", "q_dedup_embed", "q_dedup_ngram",
    "q_filter_date", "q_fingerprint", "q_frame_sample", "q_groupby_agg",
    "q_json_extract", "q_multimodal_meta",
    "q_quality_repetition", "q_range_join",
    "q_sequence_packing", "q_stratified_sample",
    # re-verification: newest green rows date to round 3
    "q_dedup_exact", "q_lang_id", "q_quality_filter", "q_redact",
    "q_scan_partition", "q_sentiment_lexicon", "q_session_window",
    "q_simhash", "q_source_stats", "q_text_stats", "q_token_count",
    "q_topn", "q_window_first", "q_window_lag", "q_window_last",
    # re-verification: newest green rows date to round 4
    "q_ann_ivf", "q_ann_lsh", "q_argminmax", "q_array_funcs",
    "q_bitwise_agg", "q_collect_sorted", "q_conditional_agg",
    "q_cross_join", "q_curation_full", "q_date_trunc",
    "q_dedup_clusters", "q_exists_subquery", "q_median",
)

# ACTIVE round-11 driver window (applied at round-11 open per the
# staged plan above; earlier rounds' driver rows are in
# CORRECTNESS_r*.json). After this window runs, never-driver-verified
# debt is ZERO.
_PRIORITY: tuple[str, ...] = _PRIORITY_ROUND11


def all_queries() -> dict[str, QuerySpec]:
    # Import operator modules for their registration side effects.
    from .operators import (  # noqa: F401
        analytics2_queries,
        analytics3_queries,
        analytics_queries,
        asof_queries,
        bi_queries,
        corpus2_queries,
        corpus3_queries,
        corpus_queries,
        dedup_queries,
        graph_queries,
        indicators2_queries,
        indicators3_queries,
        indicators4_queries,
        indicators_queries,
        io_queries,
        lake_queries,
        meta_queries,
        microstructure_queries,
        multimodal_queries,
        profiling_queries,
        quality_queries,
        rangejoin_queries,
        relational_queries,
        relational_queries2,
        relational_queries3,
        relational_queries4,
        relational_queries5,
        relational_queries6,
        report1_queries,
        retrieval_queries,
        risk2_queries,
        risk3_queries,
        robust_queries,
        risk_queries,
        scale_ops,
        similarity_queries,
        sketch_queries,
        spark4_queries,
        stattests2_queries,
        stattests3_queries,
        stattests_queries,
        text_queries,
        textqc_queries,
        trading_queries,
        tsdiag_queries,
        volatility_queries,
        trainprep_queries,
        window_queries,
    )

    ordered: dict[str, QuerySpec] = {}
    for name in _PRIORITY:
        ordered[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
