"""Performance-analytics ratios, round-8 batch 16.

- **q_dual_beta**: upside/downside beta per type (dual-beta model):
  the market factor is the equal-summed cross-type daily move; β is
  estimated separately on market-up and market-down days — the
  asymmetry read CAPM's single β hides. Exact integer conditional
  sums, one final chain per (type, regime).
- **q_k_ratio**: Kestner K-ratio per type — OLS slope of the
  cumulative-move equity curve on the day index divided by the
  slope's standard error, closed form from exact integer sums (E_t
  and t are integers). The consistency-of-growth number a PnL curve
  is ranked by.
- **q_rachev**: Rachev tail ratio per type at α = 10 %: mean of the
  top-k daily moves over |mean of the bottom-k| (k = ⌈α·n⌉) — exact
  order-statistic tails via row_number from both ends, one division.
- **q_embedding_isotropy**: mean-resultant-length isotropy of the
  embedding cloud per label: R̄ = ‖Σ v̂ᵢ‖/n over unit-normalized
  vectors (1 = collapsed, 0 = isotropic) + the von Mises–Fisher
  concentration proxy κ̂ = R̄(d − R̄²)/(1 − R̄²) — the anisotropy
  screen run before cosine-similarity thresholds are trusted.

Scale notes: the three ratio queries run on the daily-bar table (one
(event_type, day) exchange then calendar-bounded rows); isotropy is
one projection pass + a (label, dim)-keyed aggregation — no pairwise
products anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..functions.vector import l2_norm
from ..registry import load, register
from .bars import _MOVES_SQL, daily_moves

RK_SCALE = 10**4
RACHEV_NUM, RACHEV_DEN = 1, 10  # alpha = 10%


# -------------------------------------------------------------- dual beta


def dual_beta(events: DataFrame) -> DataFrame:
    """β on market-up vs market-down days; market = summed cross-type
    move per day. Exact conditional integer sums."""
    mv = daily_moves(events)
    mkt = mv.groupBy("day").agg(F.sum("x").alias("m"))
    j = mv.join(F.broadcast(mkt), "day").filter(F.col("m") != 0)
    up = (F.col("m") > 0).cast("int")
    agg = j.groupBy("event_type", up.alias("up")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("m").alias("sm"),
        F.sum(F.col("x") * F.col("m")).alias("sxm"),
        F.sum(F.col("m") * F.col("m")).alias("smm"),
    )
    n = F.col("n").cast("double")
    beta = (n * F.col("sxm") - F.col("sx") * F.col("sm")) / (
        n * F.col("smm") - F.col("sm") * F.col("sm")
    )
    p = agg.groupBy("event_type").pivot("up", [1, 0]).agg(
        F.first("n").alias("n"), F.first(_q(beta, RK_SCALE)).alias("b")
    )
    return p.select(
        "event_type",
        F.col("1_n").alias("n_up"),
        F.col("0_n").alias("n_down"),
        F.col("1_b").alias("beta_up"),
        F.col("0_b").alias("beta_down"),
    ).orderBy("event_type")


@register(
    "q_dual_beta",
    f"""
    WITH {_MOVES_SQL}, mkt AS (
      SELECT day, CAST(sum(x) AS BIGINT) AS m FROM mv GROUP BY day
    ), j AS (
      SELECT mv.event_type, mv.x, mkt.m,
             CASE WHEN mkt.m > 0 THEN 1 ELSE 0 END AS up
      FROM mv JOIN mkt ON mv.day = mkt.day WHERE mkt.m <> 0
    ), a AS (
      SELECT event_type, up, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(m) AS BIGINT) AS sm,
             sum(CAST(x * m AS HUGEINT)) AS sxm,
             sum(CAST(m * m AS HUGEINT)) AS smm
      FROM j GROUP BY event_type, up
    ), b AS (
      SELECT event_type, up, n,
             floor((n * CAST(sxm AS DOUBLE) - CAST(sx AS DOUBLE) * sm)
                   / (n * CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * sm)
                   * {RK_SCALE} + 0.5) / {RK_SCALE} AS beta
      FROM a
    )
    SELECT event_type,
           max(CASE WHEN up = 1 THEN n END) AS n_up,
           max(CASE WHEN up = 0 THEN n END) AS n_down,
           max(CASE WHEN up = 1 THEN beta END) AS beta_up,
           max(CASE WHEN up = 0 THEN beta END) AS beta_down
    FROM b GROUP BY event_type ORDER BY event_type
    """,
    doc="Dual beta per type: OLS beta vs the summed cross-type market "
    "move, estimated separately on market-up and market-down days — "
    "exact conditional HUGEINT sums, the asymmetry single-beta CAPM "
    "hides",
)
def q_dual_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dual_beta(load(spark, sf_dir, "events"))


# ---------------------------------------------------------------- K-ratio


def k_ratio(events: DataFrame) -> DataFrame:
    """Kestner K-ratio per type: slope(E_t ~ t)/SE(slope) over the
    cumulative-move curve — exact integer sums until the final chain."""
    w = Window.partitionBy("event_type").orderBy("day")
    d = (
        daily_moves(events)
        .withColumn("t", F.row_number().over(w))
        .withColumn(
            "e", F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
    )
    a = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum("e").alias("se"),
        F.sum((F.col("e") * F.col("e")).cast("decimal(38,0)")).alias("see"),
        F.sum(F.col("t") * F.col("e")).alias("ste"),
    )
    n = F.col("n").cast("double")
    ctt = F.col("stt") - F.col("st") * F.col("st") / n
    cte = F.col("ste") - F.col("st") * F.col("se") / n
    cee = F.col("see").cast("double") - F.col("se") * F.col("se") / n
    slope = cte / ctt
    rss = cee - slope * cte
    se = F.sqrt(rss / (n - 2.0) / ctt)
    return a.select(
        "event_type",
        "n",
        _q(slope / 100.0, RK_SCALE).alias("slope_dollars"),
        _q(slope / se, RK_SCALE).alias("k_ratio"),
    ).orderBy("event_type")


@register(
    "q_k_ratio",
    f"""
    WITH {_MOVES_SQL}, d AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS t,
             sum(x) OVER (PARTITION BY event_type ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS e
      FROM mv
    ), a AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(t * t) AS BIGINT) AS stt,
             CAST(sum(e) AS BIGINT) AS se,
             sum(CAST(e * e AS HUGEINT)) AS see,
             sum(CAST(t * e AS HUGEINT)) AS ste
      FROM d GROUP BY event_type
    ), c AS (
      SELECT event_type, n,
             CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n AS ctt,
             CAST(ste AS DOUBLE) - CAST(st AS DOUBLE) * se / n AS cte,
             CAST(see AS DOUBLE) - CAST(se AS DOUBLE) * se / n AS cee
      FROM a
    )
    SELECT event_type, n,
           floor(cte / ctt / 100.0 * {RK_SCALE} + 0.5) / {RK_SCALE}
             AS slope_dollars,
           floor((cte / ctt)
                 / sqrt((cee - (cte / ctt) * cte) / (n - 2) / ctt)
                 * {RK_SCALE} + 0.5) / {RK_SCALE} AS k_ratio
    FROM c ORDER BY event_type
    """,
    doc="Kestner K-ratio per type: OLS slope of the cumulative-move "
    "equity curve on the day index over the slope's standard error — "
    "exact integer/HUGEINT sums, one final chain; the "
    "consistency-of-growth ranking number",
)
def q_k_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return k_ratio(load(spark, sf_dir, "events"))


# ----------------------------------------------------------------- Rachev


def rachev(events: DataFrame) -> DataFrame:
    """Rachev tail ratio at α = 10 %: mean top-k over |mean bottom-k|,
    k = ceil(α·n) — exact rank tails, one division."""
    w_asc = Window.partitionBy("event_type").orderBy("x", "day")
    w_dsc = Window.partitionBy("event_type").orderBy(
        F.col("x").desc(), "day"
    )
    d = (
        daily_moves(events)
        .withColumn("r_lo", F.row_number().over(w_asc))
        .withColumn("r_hi", F.row_number().over(w_dsc))
    )
    cnt = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    k = F.ceil(F.col("n") * RACHEV_NUM / RACHEV_DEN)
    j = d.join(F.broadcast(cnt), "event_type")
    # min, not first: n (and so k) is constant within each event_type by
    # construction, but min is order-deterministic and is the exact fold
    # the DuckDB oracle runs (min(n), min(ceil(...)))
    tails = j.groupBy("event_type").agg(
        F.min("n").alias("n"),
        F.min(k.cast("long")).alias("k"),
        F.sum(F.when(F.col("r_hi") <= k, F.col("x"))).alias("s_top"),
        F.sum(F.when(F.col("r_lo") <= k, F.col("x"))).alias("s_bot"),
    )
    gain = F.col("s_top") / (100.0 * F.col("k"))
    loss = -F.col("s_bot") / (100.0 * F.col("k"))
    return tails.select(
        "event_type",
        "n",
        "k",
        _q(gain, RK_SCALE).alias("tail_gain"),
        _q(loss, RK_SCALE).alias("tail_loss"),
        _q(gain / F.nullif(loss, F.lit(0.0)), RK_SCALE).alias("rachev"),
    ).orderBy("event_type")


@register(
    "q_rachev",
    f"""
    WITH {_MOVES_SQL}, r AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY x, day) AS r_lo,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY x DESC, day) AS r_hi,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM mv
    )
    SELECT event_type, CAST(min(n) AS BIGINT) AS n,
           CAST(min(ceil(n * {RACHEV_NUM} / {RACHEV_DEN})) AS BIGINT)
             AS k,
           floor(sum(CASE WHEN r_hi <= ceil(n * {RACHEV_NUM}
                                            / {RACHEV_DEN})
                          THEN x END)
                 / (100.0 * min(ceil(n * {RACHEV_NUM} / {RACHEV_DEN})))
                 * {RK_SCALE} + 0.5) / {RK_SCALE} AS tail_gain,
           floor(-sum(CASE WHEN r_lo <= ceil(n * {RACHEV_NUM}
                                             / {RACHEV_DEN})
                           THEN x END)
                 / (100.0 * min(ceil(n * {RACHEV_NUM} / {RACHEV_DEN})))
                 * {RK_SCALE} + 0.5) / {RK_SCALE} AS tail_loss,
           floor(sum(CASE WHEN r_hi <= ceil(n * {RACHEV_NUM}
                                            / {RACHEV_DEN})
                          THEN x END)
                 / nullif(CAST(-sum(CASE WHEN r_lo <=
                                    ceil(n * {RACHEV_NUM}
                                         / {RACHEV_DEN})
                                    THEN x END) AS DOUBLE), 0)
                 * {RK_SCALE} + 0.5) / {RK_SCALE} AS rachev
    FROM r GROUP BY event_type ORDER BY event_type
    """,
    doc="Rachev tail ratio per type at alpha=10%: mean of the top-k "
    "daily moves over |mean of the bottom-k| via exact rank tails "
    "from both ends — the reward-tail vs risk-tail shape number",
)
def q_rachev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rachev(load(spark, sf_dir, "events"))


# ------------------------------------------------------ embedding isotropy


def embedding_isotropy(emb: DataFrame) -> DataFrame:
    """Mean resultant length + vMF concentration per label over
    unit-normalized embeddings — explode-free: the per-dim resultant
    sums run as d codegen'd SUM aggregates over array elements (one
    narrow pass, one (label)-keyed exchange of d doubles) instead of a
    d× posexplode row inflation. The embedding width is probed once
    (one-scalar collect, bounded driver state — same class as the
    repo's other bounded collects); widths are uniform per table, which
    is also what the oracle's min-over-pos count assumes."""
    probe = emb.select(F.size("embedding").alias("d")).first()
    d = int(probe["d"]) if probe and probe["d"] is not None else 1
    v = emb.select(
        "label", F.col("embedding").cast("array<double>").alias("e")
    ).withColumn("nrm", l2_norm(F.col("e")))
    # Sum e[i]/nrm directly rather than materializing a unit-normalized
    # array first: Catalyst inlines a transform() projection into every
    # one of the d aggregate expressions (the round-10 HOF-inlining
    # class — see dedup.hashed_shingles), re-building the d-wide array
    # per dimension, O(d²) per row. Division-then-sum per element is
    # the identical IEEE expression in the identical order, O(d)/row.
    agg = (
        v.filter(F.col("nrm") > 0)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.col("e")[i] / F.col("nrm")).alias(f"_s{i}")
                for i in range(d)
            ],
        )
    )
    # an all-rows-missing dim sums to NULL: absent from the oracle's
    # per-pos rows, so it contributes 0 to ss there — coalesce to match
    svec = F.array(
        *[F.coalesce(F.col(f"_s{i}"), F.lit(0.0)) for i in range(d)]
    )
    ss = F.aggregate(svec, F.lit(0.0), lambda acc, x: acc + x * x)
    agg = agg.select("label", "n", ss.alias("ss"))
    rbar = F.sqrt(F.col("ss")) / F.col("n")
    # a fully collapsed cloud (R = 1) has infinite concentration: NULL
    kappa = (
        rbar
        * (F.lit(float(d)) - rbar * rbar)
        / F.nullif(1.0 - rbar * rbar, F.lit(0.0))
    )
    return agg.select(
        "label",
        "n",
        F.lit(d).cast("long").alias("dim"),
        _q(rbar, 10**6).alias("mean_resultant"),
        _q(kappa, RK_SCALE).alias("vmf_kappa"),
    ).orderBy("label")


@register(
    "q_embedding_isotropy",
    f"""
    WITH nrm AS (
      SELECT label, embedding::DOUBLE[] AS e,
             sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                          x -> x * x))) AS n2
      FROM embeddings
    ), dims AS (
      SELECT label, u.x.i AS pos, u.x.v / n2 AS val
      FROM nrm, unnest(list_transform(e, (v, i) ->
             struct_pack(i := i, v := v))) AS u(x)
      WHERE n2 > 0
    ), per_dim AS (
      SELECT label, pos, sum(val) AS s, CAST(count(*) AS BIGINT) AS n
      FROM dims GROUP BY label, pos
    ), a AS (
      SELECT label, min(n) AS n, CAST(count(*) AS BIGINT) AS d,
             sum(s * s) AS ss
      FROM per_dim GROUP BY label
    )
    SELECT label, n, d AS dim,
           floor(sqrt(ss) / n * 1000000 + 0.5) / 1000000
             AS mean_resultant,
           floor((sqrt(ss) / n) * (d - (sqrt(ss) / n) * (sqrt(ss) / n))
                 / nullif(1 - (sqrt(ss) / n) * (sqrt(ss) / n), 0)
                 * {RK_SCALE} + 0.5) / {RK_SCALE} AS vmf_kappa
    FROM a ORDER BY label
    """,
    doc="Embedding isotropy per label: mean resultant length of "
    "unit-normalized vectors (1 = collapsed, 0 = isotropic) + von "
    "Mises-Fisher concentration proxy — the anisotropy screen before "
    "cosine thresholds are trusted; one pass + (label, dim) "
    "aggregation, no pairwise products",
)
def q_embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_isotropy(load(spark, sf_dir, "embeddings"))
