"""Sessionization (id assignment) + table profiling.

- ``sessionize`` assigns an explicit per-user session id to EVERY event
  (gap rule: >= 30 min of silence starts a new session, matching
  ``F.session_window``'s half-open merge). The aggregate
  form lives in ``operators/windows.py`` (``q_session_window``); this is
  the assignment form a feature pipeline joins back onto raw events. One
  window exchange on ``user_id``; the id is a running sum of integer
  new-session flags, so both engines agree exactly.
- ``profile_table`` computes per-column null counts, distinct counts and
  min/max in ONE aggregate pass over any DataFrame — the schema-driven
  data-quality profile run before a corpus lands in the lake. The plan
  is a single multi-distinct aggregate (Catalyst expands it); output is
  one row per column, stringified so a single schema fits every source
  column type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import _CENTS, cents

SESSION_GAP_MIN = 30


def session_assignments(
    events: DataFrame, gap_min: int = SESSION_GAP_MIN
) -> DataFrame:
    """(event_id, user_id, es=epoch seconds, session_id) for every event:
    session_id increments whenever the gap to the previous event of the
    same user reaches ``gap_min`` minutes (>=, matching
    ``F.session_window``'s half-open [ts, ts+gap) merge rule so counts
    agree with ``session_agg``). Exact on both engines — the flag
    compares integer microsecond differences, and the id is a running
    integer sum. THE single sessionization definition: q_sessionize and
    the interval-overlap join both derive from it, so the gap rule can
    never silently diverge between them."""
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id"))
    prev = F.lag(ts_us).over(w)
    new_sess = (
        F.when(prev.isNull() | ((ts_us - prev) >= gap_min * 60_000_000), 1)
        .otherwise(0)
    )
    run = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return events.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("es"),
        F.sum(new_sess).over(run).alias("session_id"),
    )


def sessionize(events: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Assignment view of :func:`session_assignments` (the q_sessionize
    output contract: one (event_id, user_id, session_id) row per event)."""
    return session_assignments(events, gap_min).select(
        "event_id", "user_id", "session_id"
    )


@register(
    "q_sessionize",
    f"""
    WITH flags AS (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR datediff('microsecond', lag(ts) OVER w, ts)
                          >= {SESSION_GAP_MIN} * 60000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           CAST(sum(new_sess) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS session_id
    FROM flags
    """,
    doc="Explicit sessionization: per-user session ids from a 30-min gap "
    "rule — the assignment form of q_session_window's aggregate. One "
    "window exchange; integer-microsecond gap compare + running integer "
    "sum, exact on both engines",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load(spark, sf_dir, "events"))


def profile_table(df: DataFrame, approximate: bool = False) -> DataFrame:
    """One-pass per-column profile: rows, nulls, distincts, min/max.

    Builds 4 aggregate expressions per column in ONE job over the table;
    min/max are stringified so one output schema covers every column
    type. ``approximate=False`` uses exact ``countDistinct`` — Catalyst
    rewrites the multi-distinct aggregate with an Expand that replicates
    every input row once per distinct column, fine for audits but a
    (1 + n_cols)× pre-shuffle blow-up on a wide 100 TB table.
    ``approximate=True`` swaps in ``approx_count_distinct`` (HLL++, ~2%
    default error): mergeable sketch state, no Expand, pure partial
    aggregation — the at-scale default (no-Expand plan asserted in
    tests)."""
    distinct_of = F.approx_count_distinct if approximate else F.countDistinct
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in df.columns:
        col = F.col(f"`{c}`")
        aggs += [
            F.count(F.when(col.isNull(), 1)).alias(f"{c}__nulls"),
            distinct_of(col).alias(f"{c}__distinct"),
            F.min(col).cast("string").alias(f"{c}__min"),
            F.max(col).cast("string").alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    # pivot the single aggregate row to one row per column via explode —
    # a unionByName of per-column selects would re-execute the aggregate
    # (and re-scan the table) once per column
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
            )
            for c in df.columns
        ]
    )
    return one.select(F.explode(entries).alias("e")).select("e.*")


@register(
    "q_profile",
    """
    WITH base AS (SELECT * FROM orders)
    SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
           count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_str,
           CAST(max(o_orderkey) AS VARCHAR) AS max_str
    FROM base
    UNION ALL
    SELECT 'o_custkey', count(*),
           count(CASE WHEN o_custkey IS NULL THEN 1 END),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM base
    UNION ALL
    SELECT 'o_orderpriority', count(*),
           count(CASE WHEN o_orderpriority IS NULL THEN 1 END),
           count(DISTINCT o_orderpriority),
           CAST(min(o_orderpriority) AS VARCHAR),
           CAST(max(o_orderpriority) AS VARCHAR)
    FROM base
    """,
    doc="Schema-driven table profile (nulls/distincts/min/max per column) "
    "in one aggregate pass; declared on orders' key/custkey/priority "
    "columns where both engines render values identically (the library "
    "form profiles any DataFrame)",
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    return profile_table(orders)


_DQ_SCALE = 10000


@register(
    "q_data_quality",
    f"""
    WITH m AS (
      SELECT count(*) AS n_rows,
             count(value) AS n_value,
             count(DISTINCT event_id) AS n_distinct_id,
             sum(CASE WHEN value >= 0 THEN 1 ELSE 0 END) AS n_nonneg,
             sum(CASE WHEN event_type IN
                   ('click','view','purchase','signup','error')
                 THEN 1 ELSE 0 END) AS n_known_type,
             sum(CASE WHEN props LIKE '{{%' THEN 1 ELSE 0 END) AS n_json
      FROM events
    )
    SELECT * FROM (
      SELECT 'completeness_value' AS check_name,
             floor(n_value * 1.0 / n_rows * {_DQ_SCALE} + 0.5) / {_DQ_SCALE} AS metric,
             n_value = n_rows AS passed FROM m
      UNION ALL
      SELECT 'uniqueness_event_id',
             floor(n_distinct_id * 1.0 / n_rows * {_DQ_SCALE} + 0.5) / {_DQ_SCALE},
             n_distinct_id = n_rows FROM m
      UNION ALL
      SELECT 'range_value_nonnegative',
             floor(n_nonneg * 1.0 / n_rows * {_DQ_SCALE} + 0.5) / {_DQ_SCALE},
             n_nonneg = n_rows FROM m
      UNION ALL
      SELECT 'domain_event_type',
             floor(n_known_type * 1.0 / n_rows * {_DQ_SCALE} + 0.5) / {_DQ_SCALE},
             n_known_type = n_rows FROM m
      UNION ALL
      SELECT 'format_props_json',
             floor(n_json * 1.0 / n_rows * {_DQ_SCALE} + 0.5) / {_DQ_SCALE},
             n_json = n_rows FROM m
    )
    """,
    doc="Deequ-style data-quality constraint suite in ONE scan: "
    "completeness, key uniqueness, value range, categorical domain, and "
    "format checks all computed as a single multi-aggregate pass (the "
    "same single-scan shape as q_profile), then unpivoted into "
    "(check_name, metric, passed) rows — the audit half of a "
    "write-audit-publish gate. At 100 TB the one-pass property is the "
    "whole point: five checks, one table read, zero joins",
)
def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    m = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_value"),
        F.countDistinct("event_id").alias("n_distinct_id"),
        F.sum(F.when(F.col("value") >= 0, 1).otherwise(0)).alias("n_nonneg"),
        F.sum(
            F.when(
                F.col("event_type").isin(
                    "click", "view", "purchase", "signup", "error"
                ),
                1,
            ).otherwise(0)
        ).alias("n_known_type"),
        F.sum(F.when(F.col("props").startswith("{"), 1).otherwise(0)).alias("n_json"),
    )
    checks = [
        ("completeness_value", "n_value"),
        ("uniqueness_event_id", "n_distinct_id"),
        ("range_value_nonnegative", "n_nonneg"),
        ("domain_event_type", "n_known_type"),
        ("format_props_json", "n_json"),
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("check_name"),
                _q(F.col(col) / F.col("n_rows"), _DQ_SCALE).alias("metric"),
                (F.col(col) == F.col("n_rows")).alias("passed"),
            )
            for name, col in checks
        ]
    )
    return m.select(F.explode(rows).alias("r")).select("r.*")


# ----------------------------------------------------------- Benford digits

# log10(1 + 1/d), pre-quantized 6dp in Python so BOTH engines compare
# against the same constants (never each engine's own log)
BENFORD_EXPECTED = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


def benford_profile(df: DataFrame, value_col: str = "value") -> DataFrame:
    """First-significant-digit distribution of a positive metric vs the
    Benford expectation — the forensic data-quality screen for fabricated
    or unit-mangled numeric feeds (real multiplicative data tracks
    Benford; a capped or synthetic feed deviates sharply).

    Digit extraction avoids BOTH float formatting and log10: the value is
    quantized to integer cents (the repo's floor(x*100+0.5), exact on
    every engine) and the leading digit read off the integer's decimal
    string — integer-to-string is deterministic everywhere, float
    log10(1000) = 2.9999... on neither. One partial-aggregated groupBy
    into a 9-row frame; the total joins back as a broadcast scalar.
    """
    counts = (
        df.select(cents(value_col).alias("_c"))
        .filter(F.col("_c") > 0)
        .select(F.substring(F.col("_c").cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("_tot"))
    expected = F.create_map(
        *[F.lit(x) for kv in BENFORD_EXPECTED.items() for x in kv]
    )
    share = F.col("n").cast("double") / F.col("_tot")
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            _q(share, 1_000_000).alias("share"),
            expected[F.col("digit")].alias("expected_share"),
            _q(share - expected[F.col("digit")], 1_000_000).alias("deviation"),
        )
        .orderBy("digit")
    )


def _benford_oracle() -> str:
    case = " ".join(
        f"WHEN {d} THEN {p!r}" for d, p in BENFORD_EXPECTED.items()
    )
    return f"""
    WITH c AS (
      SELECT CAST(substr(CAST({_CENTS}
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM events WHERE {_CENTS} > 0
    ), g AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY digit
    ), t AS (SELECT sum(n) AS tot FROM g)
    SELECT g.digit, g.n,
           floor(CAST(g.n AS DOUBLE) / t.tot * 1000000 + 0.5) / 1000000
             AS share,
           CASE g.digit {case} END AS expected_share,
           floor((CAST(g.n AS DOUBLE) / t.tot
                  - CASE g.digit {case} END) * 1000000 + 0.5) / 1000000
             AS deviation
    FROM g, t
    """


@register(
    "q_benford",
    _benford_oracle(),
    doc="Benford first-digit screen over event values: leading digit via "
    "integer-cents string (no float formatting, no log10 boundary "
    "noise), 9-row aggregate + broadcast total, expectations shared as "
    "pre-quantized literals on both engines. Flags fabricated or "
    "unit-mangled numeric feeds before they enter training",
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    return benford_profile(load(spark, sf_dir, "events"))


# ----------------------------------------------------- exact stratified take

STRAT_TAKE = 20  # rows kept per stratum


def stratified_exact_take(
    docs: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    k: int = STRAT_TAKE,
) -> DataFrame:
    """EXACTLY k rows per stratum (not the binomial approximation of
    ``sampleBy``), chosen by rank over a deterministic pseudo-random
    order — ``md5(id)`` — so the draw is uniform-ish, reproducible
    across retries/engines, and needs no RNG state.

    One window exchange on the stratum key with rank-limit pushdown
    (each task keeps its local top-k before the exchange, so the
    shuffle carries at most k·partitions rows per stratum, never the
    stratum). The eval-set construction shape: "give me exactly 500
    docs per language, same 500 every run".
    """
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        docs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(stratum_col, id_col, F.col("_rk").alias("draw_rank"))
    )


@register(
    "q_stratified_exact",
    f"""
    SELECT lang, doc_id, draw_rank FROM (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS draw_rank
      FROM documents
    ) WHERE draw_rank <= {STRAT_TAKE}
    """,
    doc="Exact-count stratified sample: EXACTLY k docs per language via "
    "rank over the deterministic md5(id) order (reproducible across "
    "engines and retries, no RNG state) with rank-limit pushdown — the "
    "shuffle never carries a whole stratum. sampleBy's binomial draw "
    "can't promise exact counts; this does",
)
def q_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_exact_take(load(spark, sf_dir, "documents"))


# ------------------------------------------------------------- skew audit

SKEW_TOP = 5


def skew_audit(df: DataFrame, key_col: str) -> DataFrame:
    """Pre-join skew report for a candidate shuffle key: per-key count
    distribution (p50/p90/max), the skew factor max/mean, and the top
    heavy keys — the numbers that decide between a plain hash join,
    AQE skew splitting, and an explicit salt BEFORE burning cluster
    hours. One partial-aggregated groupBy to key counts (|keys| rows),
    then tiny aggregates; exact integer percentiles on counts.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc(key_col)).limit(SKEW_TOP)
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        _q(F.expr("CAST(percentile(n, 0.5) AS DOUBLE)"), 100).alias("p50"),
        _q(F.expr("CAST(percentile(n, 0.9) AS DOUBLE)"), 100).alias("p90"),
        F.max("n").alias("max_n"),
    )
    return top.crossJoin(F.broadcast(stats)).select(
        F.col(key_col).alias("heavy_key"),
        F.col("n").alias("key_rows"),
        "n_keys",
        "n_rows",
        "p50",
        "p90",
        "max_n",
        _q(
            F.col("max_n").cast("double")
            / (F.col("n_rows").cast("double") / F.col("n_keys").cast("double")),
            10000,
        ).alias("skew_factor"),
    )


@register(
    "q_skew_audit",
    f"""
    WITH c AS (
      SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_orderkey
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(n) AS BIGINT) AS n_rows,
             floor(CAST(quantile_cont(n, 0.5) AS DOUBLE) * 100 + 0.5) / 100
               AS p50,
             floor(CAST(quantile_cont(n, 0.9) AS DOUBLE) * 100 + 0.5) / 100
               AS p90,
             max(n) AS max_n
      FROM c
    ), t AS (
      SELECT k, n FROM c ORDER BY n DESC, k LIMIT {SKEW_TOP}
    )
    SELECT t.k AS heavy_key, t.n AS key_rows,
           s.n_keys, s.n_rows, s.p50, s.p90, s.max_n,
           floor(CAST(s.max_n AS DOUBLE)
                 / (CAST(s.n_rows AS DOUBLE) / CAST(s.n_keys AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS skew_factor
    FROM t, s
    """,
    doc="Join-key skew audit on lineitem.l_orderkey: per-key count "
    "percentiles (exact interpolation on integral counts), max/mean "
    "skew factor, top heavy keys — the pre-join report that decides "
    "hash join vs AQE skew split vs explicit salt. Partial-aggregated "
    "key counts; everything after is |keys|-sized",
)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return skew_audit(load(spark, sf_dir, "lineitem"), "l_orderkey")


# ------------------------------------------- schema-contract audits

# The FK graph of the TPC-H-ish star schema (TESTDATA.md): child table,
# FK column, parent table, PK column.
FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def referential_integrity(
    tables: dict[str, DataFrame],
    edges: tuple[tuple[str, str, str, str], ...] = FK_EDGES,
) -> DataFrame:
    """Orphan audit over an FK graph: one row per relationship with the
    child row count and the number of rows whose FK has no parent.

    Each relationship is a LEFT ANTI join (child ⋉̸ parent) — the join
    shuffles only the two key columns, and small parents broadcast, so
    the full-graph audit is one pass per child table at any scale. NULL
    FKs count as orphans (a NULL never matches a parent key), matching
    the strict-contract reading a lake enforcement job wants.
    """
    from functools import reduce

    parts = []
    for child, fk, parent, pk in edges:
        c = tables[child].select(F.col(fk).alias("_fk"))
        p = tables[parent].select(F.col(pk).alias("_fk"))
        orphans = c.join(p, "_fk", "left_anti").agg(
            F.count(F.lit(1)).alias("n_orphans")
        )
        total = tables[child].agg(F.count(F.lit(1)).alias("n_rows"))
        parts.append(
            total.join(orphans, F.lit(True)).select(
                F.lit(f"{child}.{fk}").alias("fk"),
                F.lit(f"{parent}.{pk}").alias("references"),
                "n_rows",
                "n_orphans",
                (F.col("n_orphans") == 0).cast("int").alias("intact"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


@register(
    "q_referential_integrity",
    """
    WITH checks AS (
      SELECT 'lineitem.l_orderkey' AS fk, 'orders.o_orderkey' AS refs,
             (SELECT count(*) FROM lineitem) AS n_rows,
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
               AS n_orphans
      UNION ALL
      SELECT 'lineitem.l_partkey', 'part.p_partkey',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM part p
                                WHERE p.p_partkey = l.l_partkey))
      UNION ALL
      SELECT 'lineitem.l_suppkey', 'supplier.s_suppkey',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                WHERE s.s_suppkey = l.l_suppkey))
      UNION ALL
      SELECT 'orders.o_custkey', 'customer.c_custkey',
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'customer.c_nationkey', 'nation.n_nationkey',
             (SELECT count(*) FROM customer),
             (SELECT count(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM nation n
                                WHERE n.n_nationkey = c.c_nationkey))
      UNION ALL
      SELECT 'supplier.s_nationkey', 'nation.n_nationkey',
             (SELECT count(*) FROM supplier),
             (SELECT count(*) FROM supplier s
              WHERE NOT EXISTS (SELECT 1 FROM nation n
                                WHERE n.n_nationkey = s.s_nationkey))
      UNION ALL
      SELECT 'nation.n_regionkey', 'region.r_regionkey',
             (SELECT count(*) FROM nation),
             (SELECT count(*) FROM nation n
              WHERE NOT EXISTS (SELECT 1 FROM region r
                                WHERE r.r_regionkey = n.n_regionkey))
    )
    SELECT fk, refs AS "references", n_rows, n_orphans,
           CAST(n_orphans = 0 AS INT) AS intact
    FROM checks
    """,
    doc="Referential-integrity audit over the star schema's 7 FK edges: "
    "per relationship the child row count, orphan count (LEFT ANTI "
    "join; NULL FKs count as orphans), and an intact flag — the "
    "contract check a lake runs before publishing. Anti-joins shuffle "
    "only key columns; dimension parents broadcast",
)
def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = {t for edge in FK_EDGES for t in (edge[0], edge[2])}
    tables = {t: load(spark, sf_dir, t) for t in sorted(names)}
    return referential_integrity(tables)


# Candidate functional dependencies to audit: (table, determinant,
# dependent). A holding FD has max 1 distinct dependent per determinant.
FD_CANDIDATES = (
    ("orders", "o_orderkey", "o_orderdate"),
    ("lineitem", "l_orderkey", "l_shipdate"),
    ("documents", "doc_id", "lang"),
    ("documents", "source", "lang"),
    ("events", "user_id", "event_type"),
)


def functional_dependencies(
    tables: dict[str, DataFrame],
    candidates: tuple[tuple[str, str, str], ...] = FD_CANDIDATES,
) -> DataFrame:
    """Audit candidate functional dependencies X → Y: per candidate, the
    number of X-groups, how many X-groups carry >1 distinct Y (the
    violations), and the worst group's distinct-Y count. One
    two-level aggregate per candidate (group on X with the distinct-Y
    count, then fold to one row) — the discovery half of a schema-
    contract miner, exact at any scale because only counts (and the
    per-group distinct-Y sets, bounded by the dependent's cardinality
    within a group) cross the exchange.

    The distinct-Y count is ``size(collect_set(dep))``, NOT
    ``countDistinct``: Catalyst plans a single distinct aggregate as a
    (det, dep) dedup exchange followed by a second det-keyed exchange —
    two full shuffles per candidate — while collect_set partially
    aggregates map-side and crosses ONE det-keyed exchange (measured
    round 11: 15 → 10 exchanges, the audit's 5 fact scans each shuffle
    once). Identical integers: both ignore NULL dependents."""
    from functools import reduce

    parts = []
    for table, det, dep in candidates:
        g = (
            tables[table]
            .groupBy(det)
            .agg(F.size(F.collect_set(dep)).cast("long").alias("_nd"))
            .agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.sum((F.col("_nd") > 1).cast("long")).alias("n_violating"),
                F.max("_nd").alias("max_distinct"),
            )
            .select(
                F.lit(f"{table}: {det} -> {dep}").alias("fd"),
                "n_groups",
                "n_violating",
                "max_distinct",
                (F.col("n_violating") == 0).cast("int").alias("holds"),
            )
        )
        parts.append(g)
    return reduce(lambda a, b: a.unionByName(b), parts)


@register(
    "q_functional_dependency",
    """
    WITH fd1 AS (
      SELECT 'orders: o_orderkey -> o_orderdate' AS fd, *
      FROM (SELECT count(*) AS n_groups,
                   CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_violating,
                   max(nd) AS max_distinct
            FROM (SELECT o_orderkey, count(DISTINCT o_orderdate) AS nd
                  FROM orders GROUP BY o_orderkey))
      UNION ALL
      SELECT 'lineitem: l_orderkey -> l_shipdate', *
      FROM (SELECT count(*),
                   CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
                   max(nd)
            FROM (SELECT l_orderkey, count(DISTINCT l_shipdate) AS nd
                  FROM lineitem GROUP BY l_orderkey))
      UNION ALL
      SELECT 'documents: doc_id -> lang', *
      FROM (SELECT count(*),
                   CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
                   max(nd)
            FROM (SELECT doc_id, count(DISTINCT lang) AS nd
                  FROM documents GROUP BY doc_id))
      UNION ALL
      SELECT 'documents: source -> lang', *
      FROM (SELECT count(*),
                   CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
                   max(nd)
            FROM (SELECT source, count(DISTINCT lang) AS nd
                  FROM documents GROUP BY source))
      UNION ALL
      SELECT 'events: user_id -> event_type', *
      FROM (SELECT count(*),
                   CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
                   max(nd)
            FROM (SELECT user_id, count(DISTINCT event_type) AS nd
                  FROM events GROUP BY user_id))
    )
    SELECT fd, n_groups, n_violating, max_distinct,
           CAST(n_violating = 0 AS INT) AS holds
    FROM fd1
    """,
    doc="Functional-dependency audit (X -> Y holds iff every X-group has "
    "exactly one distinct Y): group count, violating-group count, and "
    "worst group per candidate — the schema-contract miner's check, "
    "run here over 5 declared candidates spanning keys that hold and "
    "keys that must not. Two-level counting aggregates only",
)
def q_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = {t for t, _, _ in FD_CANDIDATES}
    tables = {t: load(spark, sf_dir, t) for t in sorted(names)}
    return functional_dependencies(tables)


# -------------------------------------------- watermark lateness audit

# The testdata arrives in event-time order (zero lateness), so the audit
# runs over a DETERMINISTIC synthetic arrival sequence — the Knuth
# multiplicative permutation (event_id · 2654435761) mod 2³¹ — which
# stands in for the real ingest-sequence column a production stream
# would pass. Both engines compute the same pure-integer permutation.
LATE_PERM_MUL = 2654435761
LATE_PERM_MOD = 2**31


def lateness_audit(
    events: DataFrame, arrival_col: str | None = None
) -> DataFrame:
    """Watermark-sizing audit: for each event, its lateness = (latest
    event time already seen in arrival order) − (its own event time);
    per event_type report the late share, max and mean lateness, and
    the implied watermark (max lateness rounded UP to whole seconds) —
    THE number ``withWatermark`` needs before a streaming job is sized.

    Arrival order defaults to the synthetic permutation above (the
    testdata is time-ordered; pass ``arrival_col`` for a real ingest
    sequence). The global prefix max runs through
    :func:`plans.global_rank.global_running_max` — two partition-
    parallel passes, never a SinglePartition window. Everything stays
    integer µs; the one ratio fixes at 1e-6.
    """
    from ..plans.global_rank import global_running_max

    # reduce mod 2^31 BEFORE the multiply: (e mod m)*k mod m == e*k mod m
    # (same permutation value), but the raw product overflows int64 once
    # event ids pass ~3.5e9 (the 100x audit's replica-shifted ids)
    arr = (
        ((F.col("event_id") % LATE_PERM_MOD) * LATE_PERM_MUL)
        % LATE_PERM_MOD
        if arrival_col is None
        else F.col(arrival_col)
    )
    ev = events.select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_tus"),
        arr.alias("_arr"),
    )
    gm = global_running_max(ev, ["_arr", "event_id"], "_tus")
    late = gm.select(
        "event_type",
        (F.col("_gmax") - F.col("_tus")).alias("_late_us"),
    )
    return (
        late.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("_late_us") > 0).cast("long")).alias("n_late"),
            F.max("_late_us").alias("_max_us"),
            F.sum("_late_us").alias("_sum_us"),
        )
        .select(
            "event_type",
            "n",
            "n_late",
            _q(F.col("n_late") / F.col("n"), 1_000_000).alias("late_share"),
            F.expr("_max_us div 1000000").alias("max_late_s"),
            F.expr(
                "CASE WHEN n_late > 0 THEN _sum_us div n_late ELSE 0 END"
            ).alias("mean_late_us"),
            F.expr("(_max_us + 999999) div 1000000").alias("watermark_s"),
        )
    )


@register(
    "q_lateness_audit",
    f"""
    WITH ev AS (
      SELECT event_id, event_type,
             epoch_us(ts) AS tus,
             ((event_id % {LATE_PERM_MOD}) * {LATE_PERM_MUL}) % {LATE_PERM_MOD} AS arr
      FROM events
    ), gm AS (
      SELECT event_type,
             max(tus) OVER (ORDER BY arr, event_id
                            ROWS UNBOUNDED PRECEDING) - tus AS late_us
      FROM ev
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           floor(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) * 1.0
                 / count(*) * 1000000 + 0.5) / 1000000 AS late_share,
           max(late_us) // 1000000 AS max_late_s,
           CAST(CASE WHEN sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) > 0
                THEN CAST(sum(late_us) AS BIGINT)
                     // CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
                             AS BIGINT)
                ELSE 0 END AS BIGINT) AS mean_late_us,
           (max(late_us) + 999999) // 1000000 AS watermark_s
    FROM gm GROUP BY event_type
    """,
    doc="Watermark-sizing audit: per event_type, the lateness "
    "distribution of events against the running event-time maximum in "
    "arrival order (synthetic Knuth permutation on the time-ordered "
    "testdata; production passes its ingest-sequence column) and the "
    "implied withWatermark horizon in whole seconds. Global prefix max "
    "via the two-pass bucketed scan — no SinglePartition window; "
    "integer-µs arithmetic throughout",
)
def q_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lateness_audit(load(spark, sf_dir, "events"))


# ---------------------------------------------------------- freshness

def freshness_audit(events: DataFrame) -> DataFrame:
    """Ingest-freshness audit: each event type's high-watermark lag
    behind the corpus-wide high-watermark (seconds + event counts in the
    last watermark day) — the staleness monitor a scheduler reads before
    declaring a partition complete. Clock-free by construction: the
    reference point is the CORPUS max(ts), not wall time, so the query
    is deterministic and replayable. One partial-agged exchange + a
    1-row broadcast."""
    per_type = events.groupBy("event_type").agg(
        F.max("ts").alias("hwm"),
        F.count(F.lit(1)).alias("n_events"),
    )
    global_hwm = events.agg(F.max("ts").alias("g"))
    last_day = events.crossJoin(F.broadcast(global_hwm)).filter(
        F.col("ts") >= F.col("g") - F.expr("INTERVAL 1 DAY")
    ).groupBy("event_type").agg(F.count(F.lit(1)).alias("n_last_day"))
    return (
        per_type.crossJoin(F.broadcast(global_hwm))
        .join(F.broadcast(last_day), "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.col("hwm").cast("string").alias("high_watermark"),
            # exact microsecond difference floored to whole seconds —
            # unix_timestamp() truncates while DuckDB's epoch() keeps
            # fractional seconds and CAST rounds; integer µs agree.
            # ts columns arrive as TIMESTAMP_NTZ (nanos parquet via
            # load()); the NTZ→LTZ cast is a pure relabel under the
            # session's pinned UTC zone, applied to both operands
            F.floor(
                (
                    F.unix_micros(F.col("g").cast("timestamp"))
                    - F.unix_micros(F.col("hwm").cast("timestamp"))
                )
                / F.lit(1_000_000)
            ).cast("long").alias("lag_seconds"),
            F.coalesce("n_last_day", F.lit(0)).alias("n_last_day"),
        )
    )


@register(
    "q_freshness",
    """
    WITH g AS (SELECT max(ts) AS g FROM events),
    per_type AS (
      SELECT event_type, max(ts) AS hwm,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type
    ), last_day AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_last_day
      FROM events, g WHERE ts >= g.g - INTERVAL 1 DAY
      GROUP BY event_type
    )
    SELECT p.event_type, p.n_events,
           CAST(p.hwm AS VARCHAR) AS high_watermark,
           CAST((epoch_us(g.g) - epoch_us(p.hwm)) // 1000000 AS BIGINT)
             AS lag_seconds,
           CAST(coalesce(l.n_last_day, 0) AS BIGINT) AS n_last_day
    FROM per_type p CROSS JOIN g
    LEFT JOIN last_day l USING (event_type)
    """,
    doc="Ingest-freshness audit per type: high-watermark lag behind the "
    "corpus max(ts) in seconds + last-day event counts — clock-free "
    "(reference point is the data, not wall time), so deterministic and "
    "replayable. One exchange + 1-row broadcast",
)
def q_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return freshness_audit(load(spark, sf_dir, "events"))
