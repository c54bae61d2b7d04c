"""Business-intelligence shapes (round-5 batch 3): RFM segmentation,
A/B-test lift, market-basket affinity.

Classic warehouse workloads a user of the reference pipeline would run
next to it, each as a declarative plan with a DuckDB oracle:

- **RFM segmentation**: per-customer recency/frequency/monetary metrics
  and quintile scores. The quintiles come from the two-pass
  ``plans.global_rank.global_row_number`` — exact global ranks without a
  SinglePartition window, so the scoring pass stays partition-parallel
  at any customer count.
- **A/B test**: deterministic 50/50 assignment on ``user_id % 2``,
  user-level conversion (any ``purchase`` event), per-arm rates, lift and
  the pooled two-proportion z statistic. Two aggregates (user → arm) and
  a one-row conditional-agg finish — exact integers feed every double,
  each expression written with identical association on both engines.
- **Market basket**: co-purchased part pairs per order with support and
  lift. Pair generation is per-basket JVM array arithmetic (collect_set
  → sorted pairs) — Σ|basket|² work bounded by basket size, NOT a fact
  self-join; the only wide shuffles carry (order → basket) and the pair
  aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..plans.global_rank import doubled_midranks, global_row_number
from ..registry import load, register
from .bars import _CENTS, cents

N_SCORE_BUCKETS = 5
MIN_PAIR_COUNT = 2  # keep pairs co-purchased in >= 2 orders
CONVERSION_EVENT = "purchase"


def rfm_segments(orders: DataFrame) -> DataFrame:
    """Per-customer RFM metrics + quintile scores (1-5).

    Scores are quantiles of the customers themselves (rank-based, exact):
    ``score = (rank-1)*5 // n + 1`` over ascending metric order with the
    customer key as tiebreak. r_score 1 = most recent purchaser,
    f_score/m_score 5 = most frequent / highest spend. Each rank pass is
    the two-pass bucketed global row_number — no SinglePartition stage.
    """
    ref = orders.agg(F.max(F.to_date("o_orderdate"))).first()[0]
    cust = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(ref), F.max(F.to_date("o_orderdate"))).alias(
            "recency_days"
        ),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    # each global-rank pass reads the customer aggregate twice (cut
    # points + bucket sizes); materialize it once instead of seven
    # re-aggregations of orders
    cust = cust.localCheckpoint(eager=True)
    scored = cust
    for metric, score in (
        ("recency_days", "r_score"),
        ("frequency", "f_score"),
        ("monetary", "m_score"),
    ):
        scored, n = global_row_number(scored, [metric, "o_custkey"])
        scored = (
            scored.withColumn(
                score,
                F.expr(
                    f"CAST((_grn - 1) * {N_SCORE_BUCKETS} DIV {n} AS INT) + 1"
                ),
            )
            .drop("_grn")
            # each pass issues two driver actions over its input; without
            # this the f/m passes would re-execute every earlier pass's
            # rank plan per action (the table stays customer-count-sized)
            .localCheckpoint(eager=True)
        )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws("-", "r_score", "f_score", "m_score").alias("segment"),
    )


@register(
    "q_rfm",
    f"""
    WITH ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS d FROM orders),
    c AS (
      SELECT o_custkey,
             date_diff('day', max(CAST(o_orderdate AS DATE)),
                       (SELECT d FROM ref))                         AS recency_days,
             count(*)                                               AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    ), n AS (SELECT count(*) AS n FROM c),
    r AS (
      SELECT *,
        CAST((row_number() OVER (ORDER BY recency_days, o_custkey) - 1)
             * {N_SCORE_BUCKETS} // (SELECT n FROM n) AS INT) + 1 AS r_score,
        CAST((row_number() OVER (ORDER BY frequency, o_custkey) - 1)
             * {N_SCORE_BUCKETS} // (SELECT n FROM n) AS INT) + 1 AS f_score,
        CAST((row_number() OVER (ORDER BY monetary, o_custkey) - 1)
             * {N_SCORE_BUCKETS} // (SELECT n FROM n) AS INT) + 1 AS m_score
      FROM c
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           concat_ws('-', r_score, f_score, m_score) AS segment
    FROM r
    """,
    doc="RFM customer segmentation: recency/frequency/monetary metrics "
    "with exact rank-based quintile scores via the two-pass global "
    "row_number (no SinglePartition window at any customer count)",
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rfm_segments(load(spark, sf_dir, "orders"))


def ab_test(events: DataFrame) -> DataFrame:
    """Two-proportion A/B readout: arm = ``user_id % 2`` (deterministic,
    reproducible assignment — the hash-bucket split q_dataset_split uses,
    reduced to two arms), conversion = any ``purchase`` event.

    One exchange on ``user_id`` for the user rollup; everything after is
    aggregate-of-aggregate on a two-row stream. z is the pooled
    two-proportion statistic; all doubles derive from exact integers with
    oracle-identical association.
    """
    user = (
        events.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == CONVERSION_EVENT, 1).otherwise(0)
            ).alias("conv")
        )
        .select((F.col("user_id") % 2).cast("int").alias("arm"), "conv")
    )
    arms = user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c")
    )
    one = arms.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("c"))).alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("c"))).alias("conv_b"),
    )
    rate_a = F.col("conv_a").cast("double") / F.col("n_a")
    rate_b = F.col("conv_b").cast("double") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (rate_b - rate_a) / F.sqrt(
        pooled * (1 - pooled) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    # degenerate readouts (0% or 100% pooled conversion → zero variance;
    # 0% control rate → undefined lift) yield NULL, not a division error
    return one.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        _q(rate_a, 1000000).alias("rate_a"),
        _q(rate_b, 1000000).alias("rate_b"),
        F.when(rate_a > 0, _q((rate_b - rate_a) / rate_a, 1000000)).alias("lift"),
        F.when((pooled > 0) & (pooled < 1), _q(z, 1000000)).alias("z_stat"),
    )


@register(
    "q_ab_test",
    f"""
    WITH u AS (
      SELECT CAST(user_id % 2 AS INT) AS arm,
             max(CASE WHEN event_type = '{CONVERSION_EVENT}' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ), a AS (
      SELECT arm, count(*) AS n, sum(conv) AS c FROM u GROUP BY arm
    ), one AS (
      SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN arm = 0 THEN c END) AS BIGINT) AS conv_a,
             CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN arm = 1 THEN c END) AS BIGINT) AS conv_b
      FROM a
    )
    SELECT n_a, conv_a, n_b, conv_b,
           floor(CAST(conv_a AS DOUBLE) / n_a * 1000000 + 0.5) / 1000000 AS rate_a,
           floor(CAST(conv_b AS DOUBLE) / n_b * 1000000 + 0.5) / 1000000 AS rate_b,
           CASE WHEN CAST(conv_a AS DOUBLE) / n_a > 0 THEN
             floor((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
                   / (CAST(conv_a AS DOUBLE) / n_a) * 1000000 + 0.5) / 1000000
           END AS lift,
           CASE WHEN CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) > 0
                 AND CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) < 1 THEN
             floor((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
                   / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                          * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                          * (1.0 / n_a + 1.0 / n_b))
                   * 1000000 + 0.5) / 1000000
           END AS z_stat
    FROM one
    """,
    doc="A/B test readout: deterministic user_id%2 arms, user-level "
    "purchase conversion, per-arm rates + lift + pooled two-proportion "
    "z — one user_id exchange, then tiny aggregate-of-aggregate",
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ab_test(load(spark, sf_dir, "events"))


MAX_BASKET = 200  # drop degenerate wholesale baskets (pair-gen is O(|basket|²))


def order_baskets(lineitem: DataFrame, max_basket: int = MAX_BASKET) -> DataFrame:
    """The basket build: one groupBy(l_orderkey) collect_set — never a
    lineitem self-join — with oversized (degenerate wholesale) baskets
    dropped whole. Split out so the plan contract can pin the REAL build
    (tests/test_plans.py) even though basket_pairs materializes it.

    The projected fact repartitions BY KEY at an input-derived fan-out
    before the aggregate (round 11). Leaving the exchange to the
    groupBy plans a partial collect_set in the scan stage — a map-side
    hash of all 60 M (orderkey, partkey) rows into arrays that the
    near-unique grouping key barely collapses — and AQE byte-sizing
    then coalesces the final aggregate onto few fat tasks. With the
    keyed repartition the SAME single exchange moves below a complete
    aggregate running at :func:`keyed_fanout` tasks: measured sf10
    7.9 → 4.5 s, sf0.1 unchanged (the fan-out degrades to the core
    count on small inputs — see keyed_fanout's docstring)."""
    from ..plans.parallelism import keyed_fanout

    src = lineitem.select("l_orderkey", "l_partkey")
    return (
        src.repartition(keyed_fanout(src), "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("pk"))
        .filter(F.size("pk") <= max_basket)
    )


def basket_pairs(
    lineitem: DataFrame,
    min_count: int = MIN_PAIR_COUNT,
    max_basket: int = MAX_BASKET,
) -> DataFrame:
    """Co-purchase affinity: part pairs appearing together in ≥
    ``min_count`` orders, with support (share of orders) and lift
    (observed/independent co-rate).

    Scale design: pairs are generated per basket with JVM array
    arithmetic (collect_set → sorted array → a<b pairs) — Σ|basket|²
    bounded by basket size, never a lineitem self-join; the pair
    aggregate shrinks to ``min_count``-filtered survivors before the
    part-frequency joins (part-count side is a per-key aggregate, AQE
    broadcasts it while it fits). Baskets above ``max_basket`` items are
    dropped whole BEFORE any pair math — the hot-bucket cap from the
    MinHash path applied to affinity: a degenerate 10k-item wholesale
    order would otherwise expand to 10⁸ pairs inside one task, and its
    "co-purchases" are noise for affinity anyway. The cap is far above
    every real basket in the synthetic data, so the uncapped oracle
    still matches; cap semantics are pinned in tests/test_bi.py.

    MEMORY CONTRACT (recorded, not a surprise): the pair stream is
    ~Σ|basket|²/2 rows — linear in orders at TPC-H-ish basket sizes
    (~6·|orders|) — but with |parts| ≫ mean basket size nearly every
    pair is DISTINCT, so the (pa, pb) hash aggregate holds close to
    one group per pair row until ``min_count`` filters survivors
    POST-aggregation. Size the reduce side so
    (pair rows / shuffle partitions) × ~48 B fits an executor's
    aggregation memory (HashAggregate falls back to sort-spill, but
    the basket cache + concurrent partials still want headroom): at
    sf10 on a single local[32] JVM that is ~90 M pair rows / 32
    partitions — the round-9 audit's 32 GB heap sizing. On a cluster
    the same rule is per-executor and ordinary
    ``spark.sql.shuffle.partitions`` sizing.
    """
    # Three consumers (order count, pair-gen, part frequencies):
    # materialize the basket aggregate once instead of re-shuffling
    # lineitem per consumer. Columnar MEMORY_AND_DISK cache, NOT
    # localCheckpoint: checkpoint stores deserialized Row objects
    # (~|orders| boxed arrays pinned on-heap — the round-9 sf10 audit
    # needed a 32 GB heap mostly for exactly this), while the SQL cache
    # is compressed columnar and spills block-by-block.
    from ..plans.cache_registry import persist_slot
    from ..plans.parallelism import keyed_fanout

    # Pair-stream fan-out from the FACT scan's split count (the basket
    # cache reports its own cached partitioning, not the data scale).
    _pair_fanout = keyed_fanout(lineitem.select("l_orderkey", "l_partkey"))
    baskets = persist_slot(
        order_baskets(lineitem, max_basket), "basket_pairs_baskets"
    )
    n_orders = baskets.count()
    pairs = (
        baskets.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            "pk",
                            lambda x: F.transform(
                                "pk",
                                lambda y: F.struct(
                                    x.alias("pa"), y.alias("pb")
                                ),
                            ),
                        )
                    ),
                    lambda p: p.pa < p.pb,
                )
            ).alias("pr")
        )
        .select("pr.pa", "pr.pb")
        # The pair stream is ~90 M nearly-all-distinct (pa, pb) rows at
        # sf10 (~1.4 GB framed): byte-based AQE sizing coalesces its
        # aggregate onto ~20 fat reduce tasks whose hash tables spill.
        # An explicit key repartition at the input-derived fan-out
        # (same single exchange — the groupBy's distribution is already
        # satisfied so no second shuffle) cuts the aggregate 14.6 →
        # 11.0 s measured at sf10. A two-pass hash-count variant (count
        # xxhash64(pa,pb) longs, semi-join survivors, exact re-count)
        # was measured SLOWER (15.5 s): the second pair explode costs
        # more than the narrower key saves — recorded negative.
        .repartition(_pair_fanout, "pa", "pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    pc = baskets.select(F.explode("pk").alias("pk_")).groupBy("pk_").agg(
        F.count(F.lit(1)).alias("c")
    )
    joined = (
        pairs.join(pc.select(F.col("pk_").alias("pa"), F.col("c").alias("c_a")), "pa")
        .join(pc.select(F.col("pk_").alias("pb"), F.col("c").alias("c_b")), "pb")
    )
    return joined.select(
        "pa",
        "pb",
        "c_ab",
        "c_a",
        "c_b",
        _q(F.col("c_ab").cast("double") / n_orders, 10000).alias("support"),
        _q(
            (F.col("c_ab").cast("double") * n_orders)
            / (F.col("c_a").cast("double") * F.col("c_b").cast("double")),
            10000,
        ).alias("lift"),
    )


@register(
    "q_basket_pairs",
    f"""
    WITH dp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
    pc AS (SELECT l_partkey, count(*) AS c FROM dp GROUP BY l_partkey),
    pr AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c_ab
      FROM dp a JOIN dp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {MIN_PAIR_COUNT}
    )
    SELECT pa, pb, c_ab, ca.c AS c_a, cb.c AS c_b,
           floor(CAST(c_ab AS DOUBLE) / (SELECT n FROM n) * 10000 + 0.5)
             / 10000 AS support,
           floor((CAST(c_ab AS DOUBLE) * (SELECT n FROM n))
                 / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) * 10000 + 0.5)
             / 10000 AS lift
    FROM pr
    JOIN pc ca ON pr.pa = ca.l_partkey
    JOIN pc cb ON pr.pb = cb.l_partkey
    """,
    doc="Market-basket part affinity (support + lift): per-basket JVM "
    "pair generation bounded by basket size — the oracle's O(n²) "
    "self-join is exactly the shape the Spark plan refuses",
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return basket_pairs(load(spark, sf_dir, "lineitem"))


# ------------------------------------------------------ marketing attribution

NO_TOUCH = "(none)"


def _touch_attribution(events: DataFrame, pick, out_col: str) -> DataFrame:
    """Shared attribution plan: credit each purchase to a preceding
    non-purchase event of the same user — ``pick`` chooses which
    (``F.last`` = last-touch, ``F.first`` = first-touch) — then roll
    purchases and value up by touchpoint type. One window exchange on
    ``user_id`` feeding a tiny touchpoint aggregate; purchases with no
    preceding touch credit ``(none)``."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = pick(
        F.when(F.col("event_type") != CONVERSION_EVENT, F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        events.select(
            "event_type",
            F.col("value").cast("decimal(18,2)").alias("_v"),
            touch.alias("_touch"),
        )
        .filter(F.col("event_type") == CONVERSION_EVENT)
        .groupBy(F.coalesce("_touch", F.lit(NO_TOUCH)).alias(out_col))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (
                F.floor(F.sum("_v").cast("double") * 100 + 0.5) / 100
            ).alias("attributed_value"),
        )
    )


def last_touch_attribution(events: DataFrame) -> DataFrame:
    """Last-touch attribution (see :func:`_touch_attribution`)."""
    return _touch_attribution(events, F.last, "last_touch")


@register(
    "q_attribution",
    f"""
    WITH w AS (
      SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
             last_value(CASE WHEN event_type <> '{CONVERSION_EVENT}'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
      FROM events
    )
    SELECT coalesce(last_touch, '{NO_TOUCH}') AS last_touch,
           count(*) AS n_purchases,
           floor(CAST(sum(v) AS DOUBLE) * 100 + 0.5) / 100 AS attributed_value
    FROM w
    WHERE event_type = '{CONVERSION_EVENT}'
    GROUP BY 1
    """,
    doc="Last-touch marketing attribution: each purchase credits the "
    "nearest preceding non-purchase event of the same user (open "
    "preceding frame, ignorenulls last) — one user_id exchange, tiny "
    "touchpoint rollup, decimal-exact value attribution",
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return last_touch_attribution(load(spark, sf_dir, "events"))


@register(
    "q_first_touch",
    f"""
    WITH w AS (
      SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
             first_value(CASE WHEN event_type <> '{CONVERSION_EVENT}'
                              THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_touch
      FROM events
    )
    SELECT coalesce(first_touch, '{NO_TOUCH}') AS first_touch,
           count(*) AS n_purchases,
           floor(CAST(sum(v) AS DOUBLE) * 100 + 0.5) / 100 AS attributed_value
    FROM w
    WHERE event_type = '{CONVERSION_EVENT}'
    GROUP BY 1
    """,
    doc="First-touch attribution — the acquisition-credit twin of "
    "q_attribution: same single user_id window exchange, first() "
    "instead of last() over the open preceding frame",
)
def q_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _touch_attribution(
        load(spark, sf_dir, "events"), F.first, "first_touch"
    )


def gini_concentration(orders: DataFrame) -> DataFrame:
    """Gini coefficient of customer spend concentration — the
    one-number answer to "how top-heavy is our revenue?".

    Formula (sorted form): G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n with xᵢ the
    per-customer spend ascending and i its 1-based rank. Spend sums and
    the Σ(i·xᵢ) moment stay DECIMAL-exact; the rank comes from the
    two-pass global row_number, so no SinglePartition stage at any
    customer count. Ties rank deterministically by customer key — any
    tie order yields the same G because tied x values are equal.
    """
    from ..plans.global_rank import global_row_number

    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    ranked, n = global_row_number(
        spend.withColumn("_xd", F.col("x").cast("double")), ["_xd", "o_custkey"]
    )
    if n == 0:
        # oracle shape on empty input: one row, zero customers, NULL gini
        spark = orders.sparkSession
        return spark.createDataFrame(
            [(0, None)], "n_customers long, gini double"
        )
    m = ranked.agg(
        F.sum(F.col("x") * F.col("_grn")).cast("double").alias("six"),
        F.sum("x").cast("double").alias("sx"),
    )
    n_d = float(n)
    # zero total spend → the share-based coefficient is undefined (NULL),
    # not a division error (found by the hypothesis property test)
    return m.select(
        F.lit(n).alias("n_customers"),
        F.when(
            F.col("sx") > 0,
            _q(
                2.0 * F.col("six") / (n_d * F.col("sx")) - (n_d + 1.0) / n_d,
                1000000,
            ),
        ).alias("gini"),
    )


@register(
    "q_gini",
    """
    WITH s AS (
      SELECT o_custkey,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_custkey
    ), r AS (
      SELECT x, row_number() OVER (ORDER BY CAST(x AS DOUBLE), o_custkey) AS i
      FROM s
    ), m AS (
      SELECT CAST(sum(x * i) AS DOUBLE) AS six,
             CAST(sum(x) AS DOUBLE) AS sx,
             count(*) AS n
      FROM r
    )
    SELECT n AS n_customers,
           CASE WHEN sx > 0 THEN
             floor((2.0 * six / (CAST(n AS DOUBLE) * sx)
                    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
                   * 1000000 + 0.5) / 1000000
           END AS gini
    FROM m
    """,
    doc="Gini coefficient of customer spend: decimal-exact rank moment "
    "over the two-pass global row_number — revenue-concentration "
    "monitoring without a SinglePartition sort",
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gini_concentration(load(spark, sf_dir, "orders"))


@register(
    "q_share_of_parent",
    """
    WITH cn AS (
      SELECT c.c_nationkey, sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    ), lvl AS (
      SELECT r.r_name AS region, n.n_name AS nation, cn.rev
      FROM cn
      JOIN nation n ON cn.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ), reg AS (
      SELECT region, sum(rev) AS reg_rev FROM lvl GROUP BY region
    ), tot AS (
      SELECT sum(rev) AS total FROM lvl
    )
    SELECT lvl.region, lvl.nation,
           CAST(lvl.rev AS DOUBLE) AS revenue,
           floor(CAST(lvl.rev AS DOUBLE) / CAST(reg.reg_rev AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS share_of_region,
           floor(CAST(reg.reg_rev AS DOUBLE) / CAST(tot.total AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS region_share_of_total
    FROM lvl JOIN reg USING (region) CROSS JOIN tot
    """,
    doc="Percent-of-parent drilldown (nation within region within "
    "total): three aggregate levels from ONE fact pass, shares as "
    "single divisions of decimal-exact sums; the region and total "
    "levels are group-cardinality-sized and fold back as broadcasts — "
    "the classic BI drilldown without window re-scans of the fact",
)
def q_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    cn = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
        )
    )
    lvl = (
        cn.join(nation, cn["c_nationkey"] == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            "rev",
        )
    )
    reg = lvl.groupBy("region").agg(F.sum("rev").alias("reg_rev"))
    tot = lvl.agg(F.sum("rev").alias("total"))
    return (
        lvl.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            F.col("rev").cast("double").alias("revenue"),
            _q(
                F.col("rev").cast("double") / F.col("reg_rev").cast("double"),
                1000000,
            ).alias("share_of_region"),
            _q(
                F.col("reg_rev").cast("double") / F.col("total").cast("double"),
                1000000,
            ).alias("region_share_of_total"),
        )
    )


# ---------------------------------------------------------- model evaluation

POS_TYPE = "purchase"  # the "label" event for offline score evaluation


def auc_exact(events: DataFrame) -> DataFrame:
    """Exact ROC AUC of ``value`` as a score for predicting the purchase
    label, via the Mann-Whitney rank-sum identity — the offline model
    evaluation that at 100 TB cannot run through sklearn on a driver.

    Shape: group scores by exact value (ties collapse to one row with
    pos/total counts; a NULL value is not an observation), the doubled
    mid-rank of each value from :func:`plans.global_rank.doubled_midranks`
    (two-pass global cumsum, no SinglePartition window), then ONE scalar
    aggregate of the tie-corrected rank sum. Everything stays integral
    until the final division: 2·ranksum = Σ p·(2·cum_before + g + 1)
    accumulates in DECIMAL(38,0). The single lossy step is the
    final ``rs2 :: DOUBLE`` before dividing (both engines do the same),
    so bit-identity across engines holds while 2·ranksum fits a double
    mantissa — i.e. rs2 < 2^53, roughly 10^8–10^9 rows with ties.
    Beyond that the cast must round, and although both engines are
    expected to round-to-nearest the same exact integer, that is an
    implementation property, not a contract — treat cross-engine
    comparison above 2^53 as float-close, not bit-exact.
    """
    s = events.select(
        F.col("value").alias("v"),
        (F.col("event_type") == POS_TYPE).cast("long").alias("pos"),
    )
    g = s.groupBy("v").agg(
        F.count(F.lit(1)).alias("g"), F.sum("pos").alias("p")
    )
    ranked = doubled_midranks(g, [], "v", "g")
    term = F.col("p").cast("decimal(19,0)") * F.col("_mid2").cast("decimal(19,0)")
    agg = ranked.agg(
        F.sum(term).alias("rs2"),
        F.sum("p").alias("np"),
        (F.sum("g") - F.sum("p")).alias("nn"),
    )
    auc = (
        F.col("rs2").cast("double") / 2.0
        - F.col("np").cast("double") * (F.col("np") + 1).cast("double") / 2.0
    ) / (F.col("np").cast("double") * F.col("nn").cast("double"))
    # one-class input has no rankable pairs: report NULL, not a 0/0
    auc = F.when((F.col("np") > 0) & (F.col("nn") > 0), auc)
    return agg.select(
        _q(auc, 1_000_000).alias("auc"),
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
    )


@register(
    "q_auc",
    f"""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = '{POS_TYPE}' THEN 1 ELSE 0 END AS pos
      FROM events WHERE value IS NOT NULL
    ), g AS (
      SELECT v, CAST(count(*) AS BIGINT) AS g, CAST(sum(pos) AS BIGINT) AS p
      FROM s GROUP BY v
    ), c AS (
      SELECT g.*, CAST(coalesce(sum(g) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cb
      FROM g
    ), t AS (
      SELECT CAST(sum(CAST(p AS HUGEINT) * (2 * cb + g + 1)) AS DOUBLE) AS rs2,
             CAST(sum(p) AS BIGINT) AS np,
             CAST(sum(g) - sum(p) AS BIGINT) AS nn
      FROM c
    )
    SELECT floor((rs2 / 2.0 - CAST(np AS DOUBLE) * (np + 1) / 2.0)
                 / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) * 1000000 + 0.5)
             / 1000000 AS auc,
           np AS n_pos, nn AS n_neg
    FROM t
    """,
    doc="Exact ROC AUC via the Mann-Whitney rank-sum identity with "
    "average-rank tie correction: per-value tie groups, two-pass global "
    "cumulative counts (no SinglePartition window), DECIMAL(38) rank "
    "sum — integral until the single final division. The distributed "
    "offline-eval primitive sklearn can't provide at lake scale",
)
def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return auc_exact(load(spark, sf_dir, "events"))


N_DECILES = 10


def decile_lift(events: DataFrame) -> DataFrame:
    """Decile lift/gains table for ``value`` scoring the purchase label:
    rows bucketed into exact score deciles (decile 1 = highest scores),
    per-decile response rate, lift vs the base rate, and cumulative
    capture of all positives — the standard campaign-targeting /
    model-monitoring report.

    Deciles come from the two-pass ``global_ntile`` on the ASCENDING
    (value, event_id) order — a unique composite, so tie placement is
    deterministic on every engine — then flipped (11 − tile) so decile 1
    is the top. Rates and lift are exact-integer ratios evaluated in one
    double division; the cumulative pass runs over the 10-row aggregate.
    """
    from ..plans.global_rank import global_ntile

    s = events.filter(F.col("value").isNotNull()).select(
        "event_id",
        F.col("value"),
        (F.col("event_type") == POS_TYPE).cast("long").alias("pos"),
    )
    tiled = global_ntile(s, N_DECILES, ["value", "event_id"], out_col="_tile")
    per = (
        tiled.withColumn("decile", F.lit(N_DECILES + 1) - F.col("_tile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos"))
    )
    tot = per.agg(
        F.sum("n").alias("_tn"), F.sum("n_pos").alias("_tp")
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("cum_pos", F.sum("n_pos").over(w))
        .select(
            "decile",
            "n",
            "n_pos",
            _q(F.col("n_pos").cast("double") / F.col("n"), 1_000_000).alias(
                "response_rate"
            ),
            _q(
                F.when(
                    F.col("_tp") > 0,
                    (F.col("n_pos").cast("double") * F.col("_tn").cast("double"))
                    / (F.col("n").cast("double") * F.col("_tp").cast("double")),
                ),
                1_000_000,
            ).alias("lift"),
            _q(
                F.when(
                    F.col("_tp") > 0,
                    F.col("cum_pos").cast("double") / F.col("_tp").cast("double"),
                ),
                1_000_000,
            ).alias("cum_capture"),
        )
        .orderBy("decile")
    )


@register(
    "q_decile_lift",
    f"""
    WITH s AS (
      SELECT event_id, value,
             CASE WHEN event_type = '{POS_TYPE}' THEN 1 ELSE 0 END AS pos
      FROM events WHERE value IS NOT NULL
    ), tiled AS (
      SELECT pos, {N_DECILES + 1} - ntile({N_DECILES})
               OVER (ORDER BY value, event_id) AS decile
      FROM s
    ), per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM tiled GROUP BY decile
    ), tot AS (
      SELECT sum(n) AS tn, sum(n_pos) AS tp FROM per
    )
    SELECT p.decile, p.n, p.n_pos,
           floor(CAST(p.n_pos AS DOUBLE) / p.n * 1000000 + 0.5) / 1000000
             AS response_rate,
           floor((CAST(p.n_pos AS DOUBLE) * CAST(t.tn AS DOUBLE))
                 / (CAST(p.n AS DOUBLE) * CAST(t.tp AS DOUBLE))
                 * 1000000 + 0.5) / 1000000
             AS lift,
           floor(CAST(sum(p.n_pos) OVER (ORDER BY p.decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE) / t.tp * 1000000 + 0.5) / 1000000
             AS cum_capture
    FROM per p, tot t
    """,
    doc="Decile lift/gains: two-pass exact ntile on the unique "
    "(value, event_id) order (tie placement deterministic on both "
    "engines; decile 1 = top scores), per-decile response rate, lift as "
    "one exact-integer ratio, cumulative capture over the 10-row "
    "aggregate. Campaign-targeting eval at any scale",
)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decile_lift(load(spark, sf_dir, "events"))


# ------------------------------------------------- difference-in-differences

DID_SPLIT = "2024-01-16"  # post-period boundary (data spans Jan 2024)


def diff_in_diff(events: DataFrame, split: str = DID_SPLIT) -> DataFrame:
    """2×2 difference-in-differences estimate: treatment = odd user_id,
    post = events at/after ``split``; outcome = event value in integer
    cents. DiD = (T_post − T_pre) − (C_post − C_pre) over cell means —
    the parallel-trends causal readout run next to q_ab_test's
    proportions z-test when the outcome is continuous.

    All four cell sums are exact BIGINT cents; each mean is ONE double
    division of exact operands, and the DiD combination is three IEEE
    subtractions of those quotients — deterministic on any engine.
    Plan: one map-side-combined 4-group aggregate, then a 1-row fold.
    """
    cells = (
        events.filter(F.col("value").isNotNull())
        .select(
            (F.col("user_id") % 2).cast("int").alias("treat"),
            (F.col("ts") >= F.lit(split).cast("timestamp"))
            .cast("int")
            .alias("post"),
            cents().alias("cents"),
        )
        .groupBy("treat", "post")
        .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n"))
    )

    def cell(t: int, p: int, col: str):
        return F.sum(
            F.when((F.col("treat") == t) & (F.col("post") == p), F.col(col))
        )

    one = cells.agg(
        *[
            cell(t, p, c).alias(f"{c}{t}{p}")
            for t in (0, 1)
            for p in (0, 1)
            for c in ("s", "n")
        ]
    )
    m = {
        (t, p): F.col(f"s{t}{p}") / F.col(f"n{t}{p}")
        for t in (0, 1)
        for p in (0, 1)
    }
    did = (m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])
    return one.select(
        F.col("n00").alias("n_ctrl_pre"),
        F.col("n01").alias("n_ctrl_post"),
        F.col("n10").alias("n_treat_pre"),
        F.col("n11").alias("n_treat_post"),
        _q(m[(0, 0)] / 100, 1_000_000).alias("ctrl_pre_mean"),
        _q(m[(0, 1)] / 100, 1_000_000).alias("ctrl_post_mean"),
        _q(m[(1, 0)] / 100, 1_000_000).alias("treat_pre_mean"),
        _q(m[(1, 1)] / 100, 1_000_000).alias("treat_post_mean"),
        _q(did / 100, 1_000_000).alias("did"),
    )


@register(
    "q_diff_in_diff",
    f"""
    WITH cells AS (
      SELECT CAST(user_id % 2 AS INT) AS treat,
             CASE WHEN ts >= TIMESTAMP '{DID_SPLIT}' THEN 1 ELSE 0 END
               AS post,
             CAST(sum({_CENTS}) AS BIGINT)
               AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), one AS (
      SELECT
        CAST(sum(CASE WHEN treat=0 AND post=0 THEN s END) AS BIGINT) AS s00,
        CAST(sum(CASE WHEN treat=0 AND post=0 THEN n END) AS BIGINT) AS n00,
        CAST(sum(CASE WHEN treat=0 AND post=1 THEN s END) AS BIGINT) AS s01,
        CAST(sum(CASE WHEN treat=0 AND post=1 THEN n END) AS BIGINT) AS n01,
        CAST(sum(CASE WHEN treat=1 AND post=0 THEN s END) AS BIGINT) AS s10,
        CAST(sum(CASE WHEN treat=1 AND post=0 THEN n END) AS BIGINT) AS n10,
        CAST(sum(CASE WHEN treat=1 AND post=1 THEN s END) AS BIGINT) AS s11,
        CAST(sum(CASE WHEN treat=1 AND post=1 THEN n END) AS BIGINT) AS n11
      FROM cells
    )
    SELECT n00 AS n_ctrl_pre, n01 AS n_ctrl_post,
           n10 AS n_treat_pre, n11 AS n_treat_post,
           floor(s00 * 1.0 / n00 / 100 * 1000000 + 0.5) / 1000000
             AS ctrl_pre_mean,
           floor(s01 * 1.0 / n01 / 100 * 1000000 + 0.5) / 1000000
             AS ctrl_post_mean,
           floor(s10 * 1.0 / n10 / 100 * 1000000 + 0.5) / 1000000
             AS treat_pre_mean,
           floor(s11 * 1.0 / n11 / 100 * 1000000 + 0.5) / 1000000
             AS treat_post_mean,
           floor(((s11 * 1.0 / n11 - s10 * 1.0 / n10)
                  - (s01 * 1.0 / n01 - s00 * 1.0 / n00))
                 / 100 * 1000000 + 0.5) / 1000000 AS did
    FROM one
    """,
    doc="2×2 difference-in-differences (treat = odd user_id, post = "
    "events at/after the split date, outcome in integer cents): the "
    "four cell sums are exact BIGINTs, each mean one double division "
    "of exact operands, DiD three IEEE subtractions — deterministic "
    "cross-engine. One map-side-combined aggregate + a 1-row fold",
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return diff_in_diff(load(spark, sf_dir, "events"))


# -------------------------------------------------- Simpson's paradox audit

def simpsons_audit(events: DataFrame) -> DataFrame:
    """Simpson's-paradox screen on the A/B conversion read (arm = odd
    user_id, conversion = any purchase, strata = signup weekday): the
    pooled arm-B-vs-A rate comparison against the same comparison inside
    every stratum, with a ``paradox`` flag where the stratum sign
    contradicts the pooled sign — THE audit that catches a confounded
    pooled lift before it ships a decision.

    All comparisons are integer cross-multiplications
    (convB·nA − convA·nB), so the signs are EXACT — no rate floats
    anywhere. Output: one row per stratum plus the pooled row
    (wd = -1); strata with an empty arm report sign 0 and no flag.
    """
    per_user = events.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == F.lit(CONVERSION_EVENT)).cast("long")
        ).alias("conv"),
        F.weekday(F.min("ts")).alias("wd"),
    )
    arms = per_user.select(
        "wd",
        (F.col("user_id") % 2).alias("arm"),
        "conv",
    )

    def cell(grp_cols):
        return (
            arms.groupBy(*grp_cols)
            .agg(
                F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
                F.sum(
                    F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)
                ).alias("conv_a"),
                F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
                F.sum(
                    F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)
                ).alias("conv_b"),
            )
        )

    sgn = F.signum(
        (F.col("conv_b") * F.col("n_a") - F.col("conv_a") * F.col("n_b"))
        .cast("double")
    ).cast("int")
    strata = cell(["wd"]).withColumn(
        "sign",
        F.when((F.col("n_a") == 0) | (F.col("n_b") == 0), F.lit(0)).otherwise(
            sgn
        ),
    )
    pooled = cell([]).select(
        F.lit(-1).alias("wd"),
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        sgn.alias("sign"),
    )
    pooled_sign = pooled.select(F.col("sign").alias("_ps"))
    return (
        strata.crossJoin(F.broadcast(pooled_sign))
        .select(
            "wd",
            "n_a",
            "conv_a",
            "n_b",
            "conv_b",
            "sign",
            (
                (F.col("sign") * F.col("_ps") == -1)
            ).alias("paradox"),
        )
        .unionByName(pooled.withColumn("paradox", F.lit(False)))
        .orderBy("wd")
    )


@register(
    "q_simpsons_audit",
    f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(max(CASE WHEN event_type = '{CONVERSION_EVENT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS conv,
             CAST(isodow(min(ts)) - 1 AS INT) AS wd
      FROM events GROUP BY user_id
    ), arms AS (
      SELECT wd, CAST(user_id % 2 AS INT) AS arm, conv FROM per_user
    ), strata AS (
      SELECT wd,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_a,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_b
      FROM arms GROUP BY wd
    ), pooled AS (
      SELECT CAST(sum(n_a) AS BIGINT) AS n_a,
             CAST(sum(conv_a) AS BIGINT) AS conv_a,
             CAST(sum(n_b) AS BIGINT) AS n_b,
             CAST(sum(conv_b) AS BIGINT) AS conv_b
      FROM strata
    ), ps AS (
      SELECT CAST(sign(conv_b * n_a - conv_a * n_b) AS INT) AS _ps
      FROM pooled
    )
    SELECT s.wd, s.n_a, s.conv_a, s.n_b, s.conv_b,
           CAST(CASE WHEN s.n_a = 0 OR s.n_b = 0 THEN 0
                ELSE CAST(sign(s.conv_b * s.n_a - s.conv_a * s.n_b) AS INT)
                END AS INT) AS sign,
           (CASE WHEN s.n_a = 0 OR s.n_b = 0 THEN 0
                 ELSE CAST(sign(s.conv_b * s.n_a - s.conv_a * s.n_b) AS INT)
            END) * ps._ps = -1 AS paradox
    FROM strata s, ps
    UNION ALL
    SELECT -1 AS wd, n_a, conv_a, n_b, conv_b,
           CAST(sign(conv_b * n_a - conv_a * n_b) AS INT) AS sign,
           FALSE AS paradox
    FROM pooled
    ORDER BY wd
    """,
    doc="Simpson's-paradox screen: pooled A/B conversion sign vs the "
    "same sign inside every signup-weekday stratum, paradox-flagged "
    "where they contradict — the confounding audit run before a pooled "
    "lift ships a decision. Signs from integer cross-multiplication "
    "(convB·nA − convA·nB): exact, no rate floats anywhere",
)
def q_simpsons_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simpsons_audit(load(spark, sf_dir, "events"))


# ------------------------------------------------------ audience overlap

AO_SCALE = 10**6


def audience_overlap(events: DataFrame) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity of the USER sets
    behind every pair of event types — the segmentation readout that
    says whether two product surfaces share an audience or split it
    (and, in the trading read, whether two instruments share a
    participant base). Exact integer Jaccard: |A∩B| from one co-keyed
    self-join of the distinct (type, user) table on user_id (cost
    Σ_u deg(u)² — bounded by |types|² per user, never |users|²),
    |A|,|B| from a |types|-row aggregate, one division per pair.
    """
    tu = events.select("event_type", "user_id").distinct()
    per_type = tu.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nu")
    )
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = per_type.select(
        F.col("event_type").alias("type_a"), F.col("nu").alias("na")
    )
    nb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("nu").alias("nb")
    )
    return (
        inter.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("na").alias("n_users_a"),
            F.col("nb").alias("n_users_b"),
            "n_common",
            _q(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                AO_SCALE,
            ).alias("jaccard"),
        )
    )


@register(
    "q_audience_overlap",
    f"""
    WITH tu AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), per_type AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS nu
      FROM tu GROUP BY event_type
    ), inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b,
           na.nu AS n_users_a, nb.nu AS n_users_b, i.n_common,
           floor(i.n_common * 1.0 / (na.nu + nb.nu - i.n_common)
                 * {AO_SCALE} + 0.5) / {AO_SCALE} AS jaccard
    FROM inter i
    JOIN per_type na ON na.event_type = i.type_a
    JOIN per_type nb ON nb.event_type = i.type_b
    """,
    doc="Audience-overlap matrix: exact Jaccard of user sets per event-"
    "type pair — one distinct (type, user) exchange, a user-keyed self-"
    "join bounded by |types|² per user, integer intersection counts, "
    "one division per pair",
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audience_overlap(load(spark, sf_dir, "events"))


# ------------------------------------------------------------ CUPED A/B

CUPED_SCALE = 10**6


def ab_test_cuped(events: DataFrame) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM'13 — the
    standard public formulation): the experiment metric Y (any purchase
    in the POST period, arms = ``user_id % 2``) is adjusted by the
    pre-period covariate X (the user's PRE-period event count):
    Y' = Y − θ(X − X̄) with θ = cov(X, Y)/var(X) fitted on ALL users —
    pre-period behaviour can't be caused by the treatment, so the
    adjustment removes its variance without biasing the contrast.

    The calendar midpoint splits pre/post (data-derived, clock-free).
    EXACTNESS: everything reduces to per-arm INTEGER sums (n, ΣX, ΣX²,
    ΣY, ΣXY — X is a count, Y is 0/1), and θ, the adjusted means, and
    the adjusted variances expand to CLOSED FORMS over those sums —
    Σ_arm Y' = ΣY − θ(ΣX − n·X̄) and
    Σ_arm Y'² = ΣY² − 2θ(ΣXY − X̄ΣY) + θ²(ΣX² − 2X̄ΣX + nX̄²) — so no
    per-user float is ever accumulated; one fixed double chain per arm.
    Output: per arm, raw vs adjusted conversion and the variance ratio
    (var'/var — the sample-size multiplier CUPED buys back).
    """
    span = events.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    base = events.crossJoin(F.broadcast(span)).withColumn(
        "mid", F.date_add("d0", (F.datediff("d1", "d0") / 2).cast("int"))
    )
    per_user = (
        base.groupBy("user_id")
        .agg(
            F.sum(
                (F.col("ts").cast("date") <= F.col("mid")).cast("long")
            ).alias("x"),
            F.max(
                (
                    (F.col("ts").cast("date") > F.col("mid"))
                    & (F.col("event_type") == CONVERSION_EVENT)
                ).cast("long")
            ).alias("y"),
        )
        .select((F.col("user_id") % 2).cast("int").alias("arm"), "x", "y")
    )
    g = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("na"),
        F.sum("x").alias("sxa"),
        F.sum(F.col("x") * F.col("x")).alias("sxxa"),
        F.sum("y").alias("sya"),
        F.sum(F.col("x") * F.col("y")).alias("sxya"),
    )
    j = arms.crossJoin(F.broadcast(g))
    n, sx, sxx, sy, sxy = (F.col(c).cast("double") for c in ("n", "sx", "sxx", "sy", "sxy"))
    na, sxa, sxxa, sya, sxya = (
        F.col(c).cast("double") for c in ("na", "sxa", "sxxa", "sya", "sxya")
    )
    xbar = sx / n
    var_x = n * sxx - sx * sx
    theta = F.when(var_x > 0, (n * sxy - sx * sy) / var_x).otherwise(
        F.lit(0.0)
    )
    adj_sum = sya - theta * (sxa - na * xbar)
    # Y is 0/1 so ΣY² = ΣY
    adj_sq = (
        sya
        - 2 * theta * (sxya - xbar * sya)
        + theta * theta * (sxxa - 2 * xbar * sxa + na * xbar * xbar)
    )
    raw_rate = sya / na
    adj_rate = adj_sum / na
    var_raw = raw_rate * (1 - raw_rate)
    var_adj = adj_sq / na - adj_rate * adj_rate
    return j.select(
        "arm",
        F.col("na").alias("n_users"),
        F.col("sya").alias("n_conv"),
        _q(theta, CUPED_SCALE).alias("theta"),
        _q(raw_rate, CUPED_SCALE).alias("rate_raw"),
        _q(adj_rate, CUPED_SCALE).alias("rate_cuped"),
        _q(
            F.when(var_raw > 0, var_adj / var_raw), CUPED_SCALE
        ).alias("variance_ratio"),
    ).orderBy("arm")


@register(
    "q_ab_cuped",
    f"""
    WITH span AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events
    ), base AS (
      SELECT e.*, s.d0 + CAST(date_diff('day', s.d0, s.d1) / 2 AS INT)
               AS mid
      FROM events e CROSS JOIN span s
    ), per_user AS (
      SELECT CAST(user_id % 2 AS INT) AS arm,
             CAST(sum(CASE WHEN CAST(ts AS DATE) <= mid
                      THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(max(CASE WHEN CAST(ts AS DATE) > mid
                           AND event_type = '{CONVERSION_EVENT}'
                      THEN 1 ELSE 0 END) AS BIGINT) AS y
      FROM base GROUP BY user_id
    ), g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM per_user
    ), arms AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS na,
             CAST(sum(x) AS BIGINT) AS sxa,
             CAST(sum(x * x) AS BIGINT) AS sxxa,
             CAST(sum(y) AS BIGINT) AS sya,
             CAST(sum(x * y) AS BIGINT) AS sxya
      FROM per_user GROUP BY arm
    ), j AS (
      SELECT a.*, g.n::DOUBLE AS n, g.sx::DOUBLE AS sx,
             g.sxx::DOUBLE AS sxx, g.sy::DOUBLE AS sy,
             g.sxy::DOUBLE AS sxy
      FROM arms a CROSS JOIN g
    ), c AS (
      SELECT *,
             sx / n AS xbar,
             CASE WHEN n * sxx - sx * sx > 0
                  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                  ELSE 0.0 END AS theta
      FROM j
    ), r AS (
      SELECT arm, na, sya, theta,
             sya::DOUBLE / na AS raw_rate,
             (sya::DOUBLE - theta * (sxa::DOUBLE - na::DOUBLE * xbar))
               / na AS adj_rate,
             (sya::DOUBLE - 2 * theta * (sxya::DOUBLE - xbar * sya::DOUBLE)
              + theta * theta
                * (sxxa::DOUBLE - 2 * xbar * sxa::DOUBLE
                   + na::DOUBLE * xbar * xbar)) / na AS adj_sq
      FROM c
    )
    SELECT arm, na AS n_users, sya AS n_conv,
           floor(theta * {CUPED_SCALE} + 0.5) / {CUPED_SCALE} AS theta,
           floor(raw_rate * {CUPED_SCALE} + 0.5) / {CUPED_SCALE}
             AS rate_raw,
           floor(adj_rate * {CUPED_SCALE} + 0.5) / {CUPED_SCALE}
             AS rate_cuped,
           floor(CASE WHEN raw_rate * (1 - raw_rate) > 0
                 THEN (adj_sq - adj_rate * adj_rate)
                      / (raw_rate * (1 - raw_rate)) END
                 * {CUPED_SCALE} + 0.5) / {CUPED_SCALE} AS variance_ratio
    FROM r ORDER BY arm
    """,
    doc="CUPED variance-reduced A/B readout: post-period conversion "
    "adjusted by the pre-period activity covariate, theta fitted on all "
    "users — adjusted means AND variances expand to closed forms over "
    "per-arm BIGINT sums, so no per-user float accumulation exists "
    "anywhere; variance_ratio is the sample-size multiplier CUPED buys. "
    "Calendar-midpoint pre/post split (data-derived, clock-free)",
)
def q_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ab_test_cuped(load(spark, sf_dir, "events"))


# ---------------------------------------------- volume concentration

CONC_PCT = 1       # "top 1%" of users by traded volume
CONC_SCALE = 10**6


def volume_concentration(events: DataFrame, pct: int = CONC_PCT) -> DataFrame:
    """Volume concentration: the share of total traded volume held by
    the top ``pct``% of users — the whale-dependence number next to
    q_gini's full curve summary and q_turnover_hhi's per-type index.

    Exact top-k selection without ranking the user table in one task:
    the p(100−pct) threshold is an exact order statistic over the
    VALUE HISTOGRAM of per-user totals (distinct-total bounded cumsum,
    the q_interarrival shape); "top" = every user whose total ≥ that
    threshold, so ties at the cut are all in (deterministic, ≥ pct% of
    users — documented over randomly splitting ties). All counts and
    volume sums BIGINT; two divisions at the end.
    """
    qty = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(0)
    )
    totals = (
        events.select("user_id", qty.alias("q"))
        .groupBy("user_id")
        .agg(F.sum("q").alias("v"))
    )
    hist = totals.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    wv = Window.orderBy(F.desc("v")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = hist.select(
        "v",
        "cnt",
        F.sum("cnt").over(wv).alias("_cum"),
        F.sum("cnt").over(wn).alias("_n"),
    )
    k = F.floor((F.lit(pct) * F.col("_n") + 99) / F.lit(100.0)).cast("long")
    thr = ranked.filter(F.col("_cum") >= k).agg(
        F.max("v").alias("_thr"), F.min("_n").alias("n_users")
    )
    agg = totals.crossJoin(F.broadcast(thr)).agg(
        F.min("n_users").alias("n_users"),
        F.min("_thr").alias("threshold_vol"),
        F.sum(F.when(F.col("v") >= F.col("_thr"), 1).otherwise(0)).alias(
            "n_top"
        ),
        F.sum(F.when(F.col("v") >= F.col("_thr"), F.col("v")).otherwise(0)).alias(
            "top_vol"
        ),
        F.sum("v").alias("total_vol"),
    )
    return agg.select(
        "n_users",
        "n_top",
        "threshold_vol",
        "top_vol",
        "total_vol",
        F.when(F.col("total_vol") == 0, F.lit(0.0))
        .otherwise(_q(F.col("top_vol") / F.col("total_vol"), CONC_SCALE))
        .alias("top_share"),
    )


@register(
    "q_volume_concentration",
    f"""
    WITH totals AS (
      SELECT user_id,
             CAST(sum(coalesce(json_extract_string(props, '$.k')::BIGINT,
                               0)) AS BIGINT) AS v
      FROM events GROUP BY user_id
    ), hist AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM totals GROUP BY v
    ), ranked AS (
      SELECT v, cnt,
             CAST(sum(cnt) OVER (ORDER BY v DESC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS _cum,
             CAST(sum(cnt) OVER () AS BIGINT) AS _n
      FROM hist
    ), thr AS (
      SELECT max(v) AS _thr, min(_n) AS n_users
      FROM ranked
      WHERE _cum >= CAST(floor(({CONC_PCT} * _n + 99) / 100.0) AS BIGINT)
    )
    SELECT CAST(t.n_users AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN v >= t._thr THEN 1 ELSE 0 END) AS BIGINT)
             AS n_top,
           CAST(t._thr AS BIGINT) AS threshold_vol,
           CAST(sum(CASE WHEN v >= t._thr THEN v ELSE 0 END) AS BIGINT)
             AS top_vol,
           CAST(sum(v) AS BIGINT) AS total_vol,
           CASE WHEN sum(v) = 0 THEN 0.0
                ELSE floor(sum(CASE WHEN v >= t._thr THEN v ELSE 0 END)
                           * 1.0 / sum(v) * {CONC_SCALE} + 0.5)
                     / {CONC_SCALE}
           END AS top_share
    FROM totals, thr t
    GROUP BY t.n_users, t._thr
    """,
    doc=f"Volume concentration: share of total traded volume held by "
    f"the top {CONC_PCT}% of users (ties at the cut all in) — the "
    "whale-dependence gauge. Exact percentile threshold via a value-"
    "histogram cumsum over per-user totals (never a global sort of the "
    "user table); BIGINT sums, one division",
)
def q_volume_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return volume_concentration(load(spark, sf_dir, "events"))


# ------------------------------------------------------- SRM check

SRM_SCALE = 10**6
SRM_CRIT = 3.841459  # chi-square 95% critical value, 1 dof (constant)


def srm_check(events: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch check — the first gate of any A/B readout:
    users hash into two arms (user_id parity, the q_ab_cuped
    assignment); under a healthy 50/50 split the arm counts follow a
    binomial, and χ² = (n_a − n_b)²/(n_a + n_b) (the 2-cell Pearson
    statistic against equal expectation) flags a broken randomizer /
    lossy logging pipeline before anyone reads the metric deltas.
    All-integer counts, one division; the 95% verdict compares against
    the 3.84 critical constant on both engines.
    """
    arms = (
        events.select("user_id")
        .distinct()
        .groupBy()
        .agg(
            F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias(
                "n_a"
            ),
            F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias(
                "n_b"
            ),
        )
    )
    d = F.col("n_a") - F.col("n_b")
    n = F.col("n_a") + F.col("n_b")
    chi2 = F.when(n > 0, _q((d * d) / n, SRM_SCALE))
    return arms.select(
        "n_a",
        "n_b",
        chi2.alias("chi2"),
        (chi2 > SRM_CRIT).alias("srm_detected"),
    )


@register(
    "q_srm_check",
    f"""
    WITH arms AS (
      SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT n_a, n_b,
           CASE WHEN n_a + n_b > 0 THEN
             floor((n_a - n_b) * (n_a - n_b) * 1.0 / (n_a + n_b)
                   * {SRM_SCALE} + 0.5) / {SRM_SCALE}
           END AS chi2,
           CASE WHEN n_a + n_b > 0 THEN
             (floor((n_a - n_b) * (n_a - n_b) * 1.0 / (n_a + n_b)
                    * {SRM_SCALE} + 0.5) / {SRM_SCALE}) > {SRM_CRIT}
           END AS srm_detected
    FROM arms
    """,
    doc="Sample-ratio-mismatch gate for A/B readouts: 2-cell Pearson "
    "χ² of the user_id-parity arm split against 50/50 — flags broken "
    "randomization / lossy logging before metric deltas are read. "
    "Integer counts, one division, constant critical value",
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return srm_check(load(spark, sf_dir, "events"))


# ----------------------------------------------------- power analysis

PW_Z_ALPHA = 1.959964  # two-sided 5% (constant literal, both engines)
PW_Z_BETA = 0.841621   # 80% power
PW_SCALE = 10**6


def power_analysis(events: DataFrame) -> DataFrame:
    """A/B pre-test power analysis: the minimum detectable effect (MDE)
    on the per-user total-value metric at α = 5% (two-sided) / 80%
    power, given the CURRENT arm sizes — the go/no-go number read
    BEFORE launching an experiment (q_srm_check's design-time
    companion; an MDE above the plausible effect means the test is
    underpowered and shouldn't run).

    MDE = (z_α + z_β)·σ·√(2/n) with n = min(arm sizes) and σ the
    pooled user-metric standard deviation. z constants are injected
    literals; σ² comes from exact BIGINT power sums of per-user cent
    totals; one sqrt chain at the end, degenerate (σ = 0 or n < 2)
    rows NULL. Two partial-agged exchanges (user rollup + 1-row
    stats)."""
    users = (
        events.select("user_id", cents().alias("c"))
        .groupBy("user_id")
        .agg(F.sum("c").alias("m"))
    )
    agg = users.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias(
            "n_a"
        ),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias(
            "n_b"
        ),
        F.sum("m").alias("s1"),
        F.sum(F.col("m") * F.col("m")).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    # n*s2 and s1^2 overflow int64 past ~1e5 users of this metric scale
    # (100x audit); the m2 numerator runs in decimal(38,0) — still
    # exact — mirrored by HUGEINT in the oracle; both engines cast the
    # same exact integer to double once
    _dec = "decimal(38,0)"
    varn = (
        n.cast(_dec) * s2.cast(_dec) - s1.cast(_dec) * s1.cast(_dec)
    ).cast("double")
    sigma = F.sqrt(varn / (n.cast("double") * (n - 1).cast("double")))
    nmin = F.least(F.col("n_a"), F.col("n_b"))
    mde = (
        F.lit(PW_Z_ALPHA + PW_Z_BETA)
        * sigma
        * F.sqrt(F.lit(2.0) / nmin.cast("double"))
    )
    mean = s1.cast("double") / n.cast("double")
    ok = (n > 1) & (varn > 0) & (nmin > 0)
    return agg.select(
        F.col("n_a"),
        F.col("n_b"),
        _q(F.when(ok, sigma / 100.0), PW_SCALE).alias("sigma"),
        _q(F.when(ok, mde / 100.0), PW_SCALE).alias("mde_abs"),
        _q(
            F.when(ok & (s1 != 0), mde / mean), PW_SCALE
        ).alias("mde_rel"),
    )


@register(
    "q_power_analysis",
    f"""
    WITH users AS (
      SELECT user_id,
             CAST(sum({_CENTS})
                  AS BIGINT) AS m
      FROM events GROUP BY user_id
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b,
             CAST(sum(m) AS BIGINT) AS s1,
             CAST(sum(m * m) AS BIGINT) AS s2
      FROM users
    )
    SELECT n_a, n_b,
           CASE WHEN n > 1 AND CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 > 0
                 AND least(n_a, n_b) > 0 THEN
             floor(sqrt(CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
                   / 100.0 * {PW_SCALE} + 0.5) / {PW_SCALE}
           END AS sigma,
           CASE WHEN n > 1 AND CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 > 0
                 AND least(n_a, n_b) > 0 THEN
             floor({PW_Z_ALPHA + PW_Z_BETA}
                   * sqrt(CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
                   * sqrt(2.0 / CAST(least(n_a, n_b) AS DOUBLE))
                   / 100.0 * {PW_SCALE} + 0.5) / {PW_SCALE}
           END AS mde_abs,
           CASE WHEN n > 1 AND CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 > 0
                 AND least(n_a, n_b) > 0 AND s1 <> 0 THEN
             floor({PW_Z_ALPHA + PW_Z_BETA}
                   * sqrt(CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
                   * sqrt(2.0 / CAST(least(n_a, n_b) AS DOUBLE))
                   / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                   * {PW_SCALE} + 0.5) / {PW_SCALE}
           END AS mde_rel
    FROM agg
    """,
    doc="A/B power analysis: minimum detectable effect on the per-user "
    "total-value metric at 5%/80% with current arm sizes — the "
    "design-time gate next to q_srm_check. Injected z constants, "
    "BIGINT power sums, one sqrt chain; degenerate inputs NULL",
)
def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    return power_analysis(load(spark, sf_dir, "events"))


# ------------------------------------------------- Lorenz decile table

LORENZ_D = 10


def lorenz_deciles(orders: DataFrame, d: int = LORENZ_D) -> DataFrame:
    """Lorenz concentration table: customers ranked ascending by spend
    (two-pass global row_number — no SinglePartition), cut into d
    equal-rank buckets; per bucket the exact-cent spend share and the
    cumulative share (the curve q_gini integrates). Cent sums are
    DECIMAL-exact; the only divisions are the final share chains."""
    from ..plans.global_rank import global_row_number

    spend = orders.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("x")
    )
    # Rank on the exact BIGINT x (what the oracle orders by) — a double
    # cast could collide two distinct cent totals at extreme scale and
    # shift a decile boundary; approx_percentile bucketing accepts longs.
    ranked, n = global_row_number(spend, ["x", "o_custkey"])
    per = ranked.withColumn(
        "decile", F.expr(f"((_grn - 1) * {d}) div {n}")
    ).groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
    )
    tot = per.agg(F.sum("sx").alias("s"))
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("cum", F.sum("sx").over(w))
        .select(
            "decile",
            "n_customers",
            _q(
                F.col("sx").cast("double") / F.col("s").cast("double"),
                10**6,
            ).alias("share"),
            _q(
                F.col("cum").cast("double") / F.col("s").cast("double"),
                10**6,
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


@register(
    "q_lorenz_deciles",
    f"""
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS rn,
             count(*) OVER () AS n
      FROM spend
    ), per AS (
      SELECT ((rn - 1) * {LORENZ_D}) // n AS decile,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(x) AS HUGEINT) AS sx
      FROM ranked GROUP BY 1
    ), tot AS (SELECT sum(sx) AS s FROM per)
    SELECT decile, n_customers,
           floor(CAST(sx AS DOUBLE) / CAST(s AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS share,
           floor(CAST(sum(sx) OVER (ORDER BY decile
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / CAST(s AS DOUBLE) * 1000000 + 0.5) / 1000000
             AS cum_share,
    FROM per, tot ORDER BY decile
    """,
    doc=f"Lorenz concentration table: customers ranked ascending by "
    f"exact-cent spend (two-pass global row_number, no "
    f"SinglePartition), {LORENZ_D} equal-rank buckets, per-bucket and "
    "cumulative spend shares — the curve q_gini integrates",
)
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lorenz_deciles(load(spark, sf_dir, "orders"))


# ------------------------------------------------------------ Theil index


def theil_index(events: DataFrame) -> DataFrame:
    """Theil T inequality of positive event values with the exact
    between/within decomposition over event types:
    T = T_between + Σ_g (s_g/s)·T_g. Per-type aggregates only —
    Σx exact integers, Σ x·ln x the one double accumulation
    (q_hill_tail precedent), ln(μ) in the final |types|-row chain."""
    d = events.select(
        "event_type",
        cents().alias("x"),
    ).filter(F.col("x") > 0)
    g = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("x").alias("sg"),
        F.sum(
            F.col("x").cast("double") * F.log(F.col("x").cast("double"))
        ).alias("sxlx"),
    )
    tw = (F.col("sxlx") - F.col("sg") * F.log(
        F.col("sg") / F.col("ng").cast("double")
    )) / F.col("sg")
    a = g.agg(
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("sxlx").alias("sxlx"),
        F.sum(F.col("sg") * F.log(F.col("sg") / F.col("ng").cast("double"))).alias("sglmu"),
        F.sum(F.col("sg") * tw).alias("s_tw"),
    )
    mu = F.col("s") / F.col("n").cast("double")
    t_total = (F.col("sxlx") - F.col("s") * F.log(mu)) / F.col("s")
    t_within = F.col("s_tw") / F.col("s")
    t_between = (F.col("sglmu") - F.col("s") * F.log(mu)) / F.col("s")
    return a.select(
        "n",
        _q(t_total, 10**6).alias("theil"),
        _q(t_between, 10**6).alias("theil_between"),
        _q(t_within, 10**6).alias("theil_within"),
    )


@register(
    "q_theil_index",
    f"""
    WITH d AS (
      SELECT event_type, {_CENTS} AS x
      FROM events WHERE floor(value * 100 + 0.5) > 0
    ), g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(x) AS BIGINT) AS sg,
             sum(CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE))) AS sxlx
      FROM d GROUP BY event_type
    ), a AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(sg) AS BIGINT) AS s,
             sum(sxlx) AS sxlx,
             sum(sg * ln(sg / CAST(ng AS DOUBLE))) AS sglmu,
             sum(sg * ((sxlx - sg * ln(sg / CAST(ng AS DOUBLE))) / sg))
               AS s_tw
      FROM g
    )
    SELECT n,
           floor((sxlx - s * ln(s / CAST(n AS DOUBLE))) / s
                 * 1000000 + 0.5) / 1000000 AS theil,
           floor((sglmu - s * ln(s / CAST(n AS DOUBLE))) / s
                 * 1000000 + 0.5) / 1000000 AS theil_between,
           floor(s_tw / s * 1000000 + 0.5) / 1000000 AS theil_within
    FROM a
    """,
    doc="Theil T inequality of positive event values with the exact "
    "between/within decomposition over event types (T = T_between + "
    "share-weighted T_within) — the decomposable inequality measure "
    "Gini lacks; per-type aggregates only, ln in the final chain",
)
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return theil_index(load(spark, sf_dir, "events"))
