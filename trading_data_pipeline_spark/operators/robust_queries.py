"""Robust / resampling statistics, round-8 batch 14.

- **q_hodges_lehmann**: the Hodges–Lehmann location estimator per type
  — the median of all Walsh averages (x_i + x_j)/2, i ≤ j, over daily
  close moves. 29 % breakdown point and ~95 % Gaussian efficiency (the
  location twin of q_theil_sen's slope). Exact: Walsh sums are
  integers (the DOUBLED average), the median is the exact lo+hi middle
  order statistic, and the pair table is calendar-bounded per type.
- **q_bootstrap_ci**: deterministic Poisson bootstrap CI for the mean
  daily move per type. Replicate b counts row i with multiplicity
  m ~ Poisson(1) driven by a PORTABLE integer LCG hash
  u = ((i·2654435761 + b·97003969) mod 2³¹)/2³¹ — identical arithmetic
  in both engines, no RNG, no engine hash — thresholded through the
  Poisson(1) CDF (literals). Each replicate mean is a ratio of exact
  integer sums; the CI is the exact order-statistic 2.5 %/97.5 % band
  over the B replicate means. This is the hash-bootstrap production
  A/B systems use at scale: one pass over (rows × B) with map-side
  partial aggregation, no resample materialization.
- **q_assortativity**: degree assortativity of the cosine-similarity
  graph (same edge derivation as q_triangle_count /q_degree_hist):
  Pearson correlation of endpoint degrees over both orientations of
  every edge — positive means hubs link hubs (hot-key join risk
  concentrates), negative means hub-leaf mixing. Exact integer degree
  sums, one final chain.

Scale notes: HL/bootstrap run on the daily-bar table (one
(event_type, day) exchange, then calendar-bounded pair / ×B tables);
assortativity reuses the cached similarity edge set and touches only
edge- and node-sized tables.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .graph_queries import TRIANGLE_COS, similarity_edges_for
from .bars import _MOVES_SQL, daily_moves

RB_SCALE = 10**4
BOOT_B = 100
LCG_A, LCG_B, LCG_M = 2654435761, 97003969, 1 << 31
# Poisson(1) CDF thresholds scaled to LCG_M (floor(cdf * 2^31)):
# P(0), P(<=1), P(<=2), P(<=3), P(<=4); u beyond the last -> m = 5
_POIS_CDF = [
    int(math.floor(sum(math.exp(-1.0) / math.factorial(k) for k in range(j + 1)) * LCG_M))
    for j in range(5)
]


# -------------------------------------------------------- Hodges–Lehmann


def hodges_lehmann(events: DataFrame) -> DataFrame:
    """Median of Walsh averages per type — exact doubled-integer order
    statistics (lo+hi middle), calendar-bounded i ≤ j pair table."""
    w = Window.partitionBy("event_type").orderBy("day")
    mv = daily_moves(events).withColumn("rid", F.row_number().over(w))
    a, b = mv.alias("a"), mv.alias("b")
    walsh = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.rid") <= F.col("b.rid")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (F.col("a.x") + F.col("b.x")).alias("w2"),
    )
    # ties need no explicit tiebreak: only VALUES feed the order
    # statistics, so any stable row_number over (w2) works
    ranked = walsh.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("w2")
        ),
    )
    cnt = walsh.groupBy("event_type").agg(F.count(F.lit(1)).alias("m"))
    # lo+hi middle: for odd m the (m+1)/2-th twice; for even m the
    # m/2-th and m/2+1-th
    lohi = ranked.join(F.broadcast(cnt), "event_type").filter(
        (F.col("rn") == F.floor((F.col("m") + 1) / 2))
        | (F.col("rn") == F.floor(F.col("m") / 2) + 1)
    )
    return (
        lohi.groupBy("event_type")
        .agg(
            F.first("m").alias("n_walsh"),
            F.avg(F.col("w2").cast("double")).alias("_med2"),
        )
        .select(
            "event_type",
            "n_walsh",
            _q(F.col("_med2") / 200.0, RB_SCALE).alias("hl_dollars"),
        )
        .orderBy("event_type")
    )


@register(
    "q_hodges_lehmann",
    f"""
    WITH {_MOVES_SQL}, walsh AS (
      SELECT a.event_type, a.x + b.x AS w2
      FROM mv a JOIN mv b
        ON a.event_type = b.event_type AND a.day <= b.day
    ), ranked AS (
      SELECT event_type, w2,
             row_number() OVER (PARTITION BY event_type ORDER BY w2)
               AS rn,
             count(*) OVER (PARTITION BY event_type) AS m
      FROM walsh
    )
    SELECT event_type, CAST(min(m) AS BIGINT) AS n_walsh,
           floor(avg(CAST(w2 AS DOUBLE)) / 200.0 * {RB_SCALE} + 0.5)
             / {RB_SCALE} AS hl_dollars
    FROM ranked
    WHERE rn = floor((m + 1) / 2) OR rn = floor(m / 2) + 1
    GROUP BY event_type ORDER BY event_type
    """,
    doc="Hodges-Lehmann location estimator per type (median of Walsh "
    "averages of daily moves): exact doubled-integer lo+hi middle "
    "order statistic, calendar-bounded i<=j pair table — the robust "
    "location twin of q_theil_sen",
)
def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hodges_lehmann(load(spark, sf_dir, "events"))


# ------------------------------------------------------ Poisson bootstrap


def _mult(u: F.Column) -> F.Column:
    """Poisson(1) multiplicity from a [0, 2^31) uniform integer."""
    m = F.lit(5)
    for j in range(4, -1, -1):
        m = F.when(u < _POIS_CDF[j], F.lit(j)).otherwise(m)
    return m


def bootstrap_ci(events: DataFrame, n_boot: int = BOOT_B) -> DataFrame:
    """Deterministic Poisson-bootstrap 95% CI for the mean daily move
    per type: portable LCG uniforms → Poisson(1) multiplicities →
    per-replicate exact integer sums → exact order-statistic band."""
    w = Window.partitionBy("event_type").orderBy("day")
    mv = daily_moves(events).withColumn("rid", F.row_number().over(w))
    reps = mv.select(
        "event_type",
        "x",
        "rid",
        F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))).alias("b"),
    )
    u = (
        F.col("rid").cast("long") * F.lit(LCG_A)
        + F.col("b").cast("long") * F.lit(LCG_B)
    ) % F.lit(LCG_M)
    rep_means = (
        reps.withColumn("m", _mult(u))
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.col("m") * F.col("x")).alias("sx"),
            F.sum("m").alias("sm"),
        )
        .filter(F.col("sm") > 0)
        .select(
            "event_type",
            "b",
            (
                F.col("sx").cast("double")
                / (100.0 * F.col("sm").cast("double"))
            ).alias("mean_b"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("mean_b", "b")
    ranked = rep_means.withColumn("rn", F.row_number().over(wr))
    cnt = rep_means.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nb")
    )
    obs = mv.groupBy("event_type").agg(
        (F.sum("x") / (100.0 * F.count(F.lit(1)))).alias("_obs")
    )
    lo_rank = F.greatest(
        F.lit(1), F.floor(F.col("nb") * 0.025).cast("int")
    )
    hi_rank = F.least(
        F.col("nb"), (F.floor(F.col("nb") * 0.975) + 1).cast("int")
    )
    j = ranked.join(F.broadcast(cnt), "event_type")
    band = j.filter(
        (F.col("rn") == lo_rank) | (F.col("rn") == hi_rank)
    ).groupBy("event_type").agg(
        F.first("nb").alias("n_boot"),
        F.min("mean_b").alias("_lo"),
        F.max("mean_b").alias("_hi"),
    )
    return (
        band.join(obs, "event_type")
        .select(
            "event_type",
            "n_boot",
            _q(F.col("_obs"), RB_SCALE).alias("mean_obs"),
            _q(F.col("_lo"), RB_SCALE).alias("ci_lo"),
            _q(F.col("_hi"), RB_SCALE).alias("ci_hi"),
        )
        .orderBy("event_type")
    )


def _boot_oracle(n_boot: int) -> str:
    mult_sql = "CASE " + " ".join(
        f"WHEN u < {_POIS_CDF[j]} THEN {j}" for j in range(5)
    ) + " ELSE 5 END"
    return f"""
    WITH {_MOVES_SQL}, ids AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rid
      FROM mv
    ), reps AS (
      SELECT event_type, x, rid, r.range AS b,
             (rid * {LCG_A} + r.range * {LCG_B}) % {LCG_M} AS u
      FROM ids, range({n_boot}) r
    ), means AS (
      SELECT event_type, b,
             CAST(sum(({mult_sql}) * x) AS DOUBLE)
               / (100.0 * sum({mult_sql})) AS mean_b
      FROM reps GROUP BY event_type, b
      HAVING sum({mult_sql}) > 0
    ), ranked AS (
      SELECT event_type, b, mean_b,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY mean_b, b) AS rn,
             count(*) OVER (PARTITION BY event_type) AS nb
      FROM means
    ), obs AS (
      SELECT event_type,
             CAST(sum(x) AS DOUBLE) / (100.0 * count(*)) AS obs
      FROM mv GROUP BY event_type
    ), band AS (
      SELECT event_type, CAST(min(nb) AS BIGINT) AS n_boot,
             min(mean_b) AS lo, max(mean_b) AS hi
      FROM ranked
      WHERE rn = greatest(1, CAST(floor(nb * 0.025) AS INT))
         OR rn = least(nb, CAST(floor(nb * 0.975) + 1 AS INT))
      GROUP BY event_type
    )
    SELECT band.event_type, n_boot,
           floor(obs * {RB_SCALE} + 0.5) / {RB_SCALE} AS mean_obs,
           floor(lo * {RB_SCALE} + 0.5) / {RB_SCALE} AS ci_lo,
           floor(hi * {RB_SCALE} + 0.5) / {RB_SCALE} AS ci_hi
    FROM band JOIN obs ON band.event_type = obs.event_type
    ORDER BY band.event_type
    """


@register(
    "q_bootstrap_ci",
    _boot_oracle(BOOT_B),
    doc=f"Deterministic Poisson-bootstrap 95% CI ({BOOT_B} replicates) "
    "for the mean daily move per type: portable integer-LCG uniforms "
    "(no RNG, no engine hash) -> Poisson(1) CDF-threshold "
    "multiplicities -> exact integer replicate sums -> exact "
    "order-statistic band. One pass over rows x B with map-side "
    "partial aggregation — the hash-bootstrap production A/B systems "
    "run at scale. NOTE at web scale: keep rid bounded (row id within "
    "partition) so rid*A stays within 2^63",
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bootstrap_ci(load(spark, sf_dir, "events"))


# ---------------------------------------------------------- assortativity


def assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity: Pearson r of endpoint degrees over both
    orientations of every edge — exact integer sums, one final chain."""
    e = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    da = deg.select(F.col("a").alias("u"), F.col("deg").alias("dx"))
    db = deg.select(F.col("a").alias("v"), F.col("deg").alias("dy"))
    j = (
        sym.join(da, sym["a"] == da["u"])
        .join(db, sym["b"] == db["v"])
        .select("dx", "dy")
    )
    s = j.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    m = F.col("m").cast("double")
    num = m * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = m * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = m * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        _q(
            num / F.sqrt(F.nullif(dx * dy, F.lit(0.0))), RB_SCALE
        ).alias("assortativity"),
    )


@register(
    "q_assortativity",
    f"""
    WITH e AS (
      SELECT a.vec_id AS ea, b.vec_id AS eb
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]), 4)
            >= {TRIANGLE_COS}
    ), sym AS (
      SELECT ea AS a, eb AS b FROM e
      UNION ALL SELECT eb, ea FROM e
    ), deg AS (
      SELECT a AS n, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY a
    ), j AS (
      SELECT da.deg AS dx, db.deg AS dy
      FROM sym JOIN deg da ON sym.a = da.n JOIN deg db ON sym.b = db.n
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(dx) AS DOUBLE) AS sx, CAST(sum(dy) AS DOUBLE) AS sy,
             CAST(sum(dx * dx) AS DOUBLE) AS sxx,
             CAST(sum(dy * dy) AS DOUBLE) AS syy,
             CAST(sum(dx * dy) AS DOUBLE) AS sxy
      FROM j
    )
    SELECT CAST(m / 2 AS BIGINT) AS n_edges,
           floor((m * sxy - sx * sy)
                 / sqrt(nullif((m * sxx - sx * sx) * (m * syy - sy * sy),
                               0))
                 * {RB_SCALE} + 0.5) / {RB_SCALE} AS assortativity
    FROM s
    """,
    doc="Degree assortativity of the cosine-similarity graph (same "
    "edge derivation as q_triangle_count): Pearson r of endpoint "
    "degrees over both edge orientations — hubs-link-hubs risk read "
    "for wedge joins; exact integer degree sums, one final chain",
)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assortativity(similarity_edges_for(spark, sf_dir))
