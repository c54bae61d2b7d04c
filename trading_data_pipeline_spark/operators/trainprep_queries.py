"""Training-preparation operators: the feature/governance steps between a
curated corpus and a training run.

- ``q_target_encode``  — leakage-safe (leave-one-out, smoothed) target
  encoding of a categorical column: each row's category is encoded by the
  mean target of the OTHER rows in its category, shrunk toward the global
  mean. The standard high-cardinality categorical feature at scale; the
  LOO form is what keeps the feature from memorizing its own label.
- ``q_kanonymity``     — k-anonymity audit over a quasi-identifier tuple:
  which (event_type, weekday, hour) cells have fewer than K rows — the
  re-identification risk screen run before a dataset leaves the curation
  pipeline.
- ``q_walk_forward``   — expanding-window walk-forward cross-validation
  folds over event time: the date span is cut into N+1 equal chunks; fold
  i trains on chunks 1..i and tests on chunk i+1 (the last fold absorbs
  the remainder days). THE split discipline for time-series models —
  a random split (q_dataset_split) leaks the future into training.

All three are exact integer/date arithmetic plus one small broadcast —
no RNG, no collect; oracles mirror the formulas in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import _CENTS, cents

TE_SMOOTHING = 10  # pseudo-count mass of the global mean
K_ANON = 20        # minimum cell size before a tuple is "at risk"
N_FOLDS = 5        # walk-forward folds (span cut into N_FOLDS+1 chunks)


# ---------------------------------------------------------- target encoding

def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    m: int = TE_SMOOTHING,
    id_col: str = "event_id",
) -> DataFrame:
    """Leave-one-out smoothed target encoding:
    ``(sum_cat - y_i + m * global_mean) / (n_cat - 1 + m)``.

    Plan: one partial-agged shuffle to per-category (n, sum), a 1-row
    global mean, both broadcast back onto the scan — the fact rows never
    shuffle. n_cat = 1 degrades to the prior (denominator = m).
    """
    per_cat = df.groupBy(cat_col).agg(
        F.count(F.lit(1)).alias("n_cat"), F.sum(target_col).alias("s_cat")
    )
    global_mean = df.agg(
        (F.sum(target_col) / F.count(F.lit(1))).alias("g")
    )
    return (
        df.join(per_cat, cat_col)
        .crossJoin(global_mean)
        .select(
            id_col,
            cat_col,
            _q(
                (F.col("s_cat") - F.col(target_col) + m * F.col("g"))
                / (F.col("n_cat") - 1 + m),
                10000,
            ).alias("loo_enc"),
        )
    )


@register(
    "q_target_encode",
    f"""
    WITH g AS (SELECT sum(value) / count(*) AS g FROM events),
         t AS (SELECT event_type, count(*) AS n_cat, sum(value) AS s_cat
               FROM events GROUP BY 1)
    SELECT e.event_id, e.event_type,
           floor((t.s_cat - e.value + {TE_SMOOTHING} * g.g)
                 / (t.n_cat - 1 + {TE_SMOOTHING}) * 10000 + 0.5) / 10000
             AS loo_enc
    FROM events e JOIN t ON e.event_type = t.event_type, g
    """,
    doc="Leave-one-out smoothed target encoding of event_type against "
    "value (leakage-safe categorical feature): per-category sums + a "
    "1-row global mean broadcast back onto the scan; the fact side "
    "never wide-shuffles",
)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return target_encode_loo(load(spark, sf_dir, "events"), "event_type", "value")


# ------------------------------------------------------------- k-anonymity

@register(
    "q_kanonymity",
    f"""
    SELECT event_type,
           CAST(isodow(ts) - 1 AS INT) AS wd,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
           count(*) AS n,
           count(*) < {K_ANON} AS at_risk
    FROM events GROUP BY 1, 2, 3
    """,
    doc=f"k-anonymity audit (K={K_ANON}) over the quasi-identifier tuple "
    "(event_type, weekday, hour): cell sizes + at-risk flag, the "
    "re-identification screen before a dataset ships. Bounded output "
    "(|types|x7x24 cells), one partial-agged shuffle",
)
def q_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            "event_type",
            F.weekday("ts").alias("wd"),
            F.hour("ts").alias("hr"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type", "wd", "hr", "n", (F.col("n") < K_ANON).alias("at_risk")
        )
    )


# ----------------------------------------------------- walk-forward folds

def walk_forward_folds(events: DataFrame, n_folds: int = N_FOLDS) -> DataFrame:
    """Expanding-window fold boundaries + per-fold train/test row counts.

    All boundaries are integer date arithmetic from the 1-row (min, max)
    date span — identical on any engine; counts come from one broadcast
    range join of the fact against the ≤n_folds fold rows (each event
    matches at most n_folds folds, so the join output is bounded by
    n_folds x |events| and immediately partial-aggregates).

    A span shorter than ``n_folds + 1`` days cannot host n_folds
    non-empty expanding windows (the chunk size floors to zero) —
    refuse loudly rather than silently emitting fewer folds. The span
    probe is a 1-row aggregate collected driver-side (the
    rfm_segments reference-date pattern).
    """
    dated = events.select(F.to_date("ts").alias("d"))
    probe = dated.agg(F.min("d"), F.max("d")).first()
    span_days = (probe[1] - probe[0]).days + 1 if probe[0] is not None else 0
    if span_days < n_folds + 1:
        raise ValueError(
            f"walk_forward_folds needs a date span of >= {n_folds + 1} "
            f"days for {n_folds} folds; events span {span_days}"
        )
    # the probe IS the bounds — seed them as literals so the fold table
    # costs no second scan of the fact
    bounds = events.sparkSession.createDataFrame(
        [(probe[0], probe[1])], "d0 date, d1 date"
    ).withColumn(
        "base", F.expr(f"div(datediff(d1, d0) + 1, {n_folds + 1})")
    )
    folds = bounds.select(
        F.explode(F.sequence(F.lit(1), F.lit(n_folds))).alias("fold"),
        "d0", "d1", "base",
    ).select(
        "fold",
        F.col("d0").alias("train_start"),
        F.date_add(
            "d0", (F.col("fold") * F.col("base") - 1).cast("int")
        ).alias("train_end"),
        F.date_add("d0", (F.col("fold") * F.col("base")).cast("int")).alias(
            "test_start"
        ),
        F.when(
            F.col("fold") == n_folds, F.col("d1")
        ).otherwise(
            F.date_add("d0", ((F.col("fold") + 1) * F.col("base") - 1).cast("int"))
        ).alias("test_end"),
    )
    joined = dated.join(
        F.broadcast(folds),
        (F.col("d") >= F.col("train_start")) & (F.col("d") <= F.col("test_end")),
    )
    return (
        joined.groupBy("fold", "train_start", "train_end", "test_start", "test_end")
        .agg(
            F.sum((F.col("d") <= F.col("train_end")).cast("long")).alias("n_train"),
            F.sum((F.col("d") >= F.col("test_start")).cast("long")).alias("n_test"),
        )
    )


@register(
    "q_walk_forward",
    f"""
    WITH b AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1,
             (datediff('day', min(CAST(ts AS DATE)),
                       max(CAST(ts AS DATE))) + 1) // {N_FOLDS + 1} AS base
      FROM events
    ), f AS (
      SELECT i AS fold, d0,
             d0 + CAST(i * base - 1 AS INT) AS train_end,
             d0 + CAST(i * base AS INT) AS test_start,
             CASE WHEN i = {N_FOLDS} THEN d1
                  ELSE d0 + CAST((i + 1) * base - 1 AS INT) END AS test_end
      FROM b, generate_series(1, {N_FOLDS}) AS t(i)
    )
    SELECT f.fold, f.d0 AS train_start, f.train_end, f.test_start, f.test_end,
           CAST(sum(CASE WHEN CAST(e.ts AS DATE) <= f.train_end
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN CAST(e.ts AS DATE) >= f.test_start
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_test
    FROM f JOIN events e
      ON CAST(e.ts AS DATE) BETWEEN f.d0 AND f.test_end
    GROUP BY 1, 2, 3, 4, 5
    """,
    doc=f"Walk-forward CV folds ({N_FOLDS} expanding windows over the "
    "event-date span, last fold absorbs remainder days): boundaries by "
    "exact integer date arithmetic, per-fold train/test row counts via "
    "one broadcast range join — the temporal split a time-series model "
    "needs where a random split would leak the future",
)
def q_walk_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    return walk_forward_folds(load(spark, sf_dir, "events"))


# ------------------------------------------------- quantile normalization

@register(
    "q_quantile_normalize",
    """
    WITH r AS (
      SELECT event_id, event_type, value,
             rank() OVER w AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    )
    SELECT event_id, event_type,
           CASE WHEN n = 1 THEN 0.0
                ELSE floor((rk - 1) * 1.0 / (n - 1) * 10000 + 0.5) / 10000
           END AS qnorm
    FROM r
    """,
    doc="Within-group quantile normalization: each value maps to its "
    "exact empirical quantile (rank-1)/(n-1) inside its event_type — "
    "the rank-based feature transform that is outlier-proof where "
    "z-scoring (q_zscore_outliers) is not. The per-type rank "
    "decomposes as a (type, value) histogram cumsum (distinct-value "
    "bounded) plus a within-(type, value) row_number by event_id "
    "joined back — never a per-type sort of the raw stream. Singleton "
    "groups pin qnorm=0.0 on BOTH engines (0/0 is NULL under Spark "
    "non-ANSI but NaN under DuckDB's default ieee_floating_point_ops "
    "— a latent cross-engine break otherwise)",
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rank() over (value, event_id) == cum-count of strictly smaller
    # values + position within the tied-value group, because event_id
    # is unique: the q_weighted_median value-histogram trick applied to
    # ranking, so the per-type window runs over the distinct-value
    # table and the raw stream only shuffles on (type, value).
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    base = events.select("event_id", "event_type", "value")
    hist = base.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    wv = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    hist = hist.select(
        "event_type",
        "value",
        (F.sum("_cnt").over(wv) - F.col("_cnt")).alias("_before"),
        F.sum("_cnt").over(wn).alias("_n"),
    )
    wiv = Window.partitionBy("event_type", "value").orderBy("event_id")
    ranked = base.withColumn("_rnv", F.row_number().over(wiv)).join(
        hist, ["event_type", "value"]
    )
    rk = F.col("_before") + F.col("_rnv")
    return ranked.select(
        "event_id",
        "event_type",
        F.when(F.col("_n") == 1, F.lit(0.0))
        .otherwise(_q((rk - 1) / (F.col("_n") - 1), 10000))
        .alias("qnorm"),
    )


# ---------------------------------------------------------- l-diversity

L_DIV = 3  # minimum distinct sensitive values per quasi-identifier cell


def ldiversity(events: DataFrame, l_min: int = L_DIV) -> DataFrame:
    """l-diversity audit — k-anonymity's sharper sibling: a
    quasi-identifier cell with many rows can still leak if every row
    shares one sensitive value, so each (event_type, weekday, hour)
    cell must see ≥ ``l_min`` DISTINCT sensitive values (user_id here).
    Exact distinct per cell (one exchange, cell count bounded by
    |types|·7·24); the at-risk flag is what blocks a release.
    """
    return (
        events.groupBy(
            "event_type",
            F.weekday("ts").alias("wd"),
            F.hour("ts").alias("hr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_sensitive"),
        )
        .withColumn("at_risk", F.col("n_sensitive") < l_min)
    )


@register(
    "q_ldiversity",
    f"""
    SELECT event_type,
           CAST(isodow(ts) - 1 AS INT) AS wd,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive,
           count(DISTINCT user_id) < {L_DIV} AS at_risk
    FROM events GROUP BY 1, 2, 3
    """,
    doc="l-diversity audit over the q_kanonymity quasi-identifier tuple: "
    "each (event_type, weekday, hour) cell must contain >= 3 distinct "
    "sensitive values (user_id) — a big-but-homogeneous cell leaks where "
    "k-anonymity alone passes it. Exact distinct per cell, one exchange",
)
def q_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ldiversity(load(spark, sf_dir, "events"))


# ------------------------------------------------------- min-max scaling

def minmax_scale(events: DataFrame) -> DataFrame:
    """Within-group min-max feature scaling: value → (v − min)/(max − min)
    inside its event_type — the bounded-range transform that completes
    the scaling family next to q_zscore_outliers (unbounded, outlier-
    sensitive), q_quantile_normalize (rank-based) and q_winsorize
    (clipping). Integer cents make min/max/diffs exact; each output is
    one double division of exact operands quantized 1e-6; constant
    groups (max = min) pin 0.0 on both engines instead of a 0/0
    NULL-vs-NaN divergence (the q_quantile_normalize guard).

    Scale: the per-type min/max is a partial-agged groupBy broadcast
    back onto the stream (the q_fixed_effects shape) — NOT an
    unordered ``min() OVER (PARTITION BY event_type)`` window, which
    funnels each type's full raw stream through one task (~5 tasks
    total at any scale; flagged by plan_audit's low-cardinality-window
    check). The stream itself never sorts.
    """
    base = events.filter(F.col("value").isNotNull()).select(
        "event_id", "event_type", cents().alias("_c")
    )
    bounds = base.groupBy("event_type").agg(
        F.min("_c").alias("_mn"), F.max("_c").alias("_mx")
    )
    return (
        base.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            F.when(F.col("_mx") == F.col("_mn"), F.lit(0.0))
            .otherwise(
                _q(
                    (F.col("_c") - F.col("_mn"))
                    / (F.col("_mx") - F.col("_mn")),
                    1_000_000,
                )
            )
            .alias("scaled"),
        )
    )


@register(
    "q_minmax_scale",
    f"""
    WITH c AS (
      SELECT event_id, event_type,
             {_CENTS} AS c
      FROM events WHERE value IS NOT NULL
    ), m AS (
      SELECT *, min(c) OVER (PARTITION BY event_type) AS mn,
                max(c) OVER (PARTITION BY event_type) AS mx
      FROM c
    )
    SELECT event_id, event_type,
           CASE WHEN mx = mn THEN 0.0
                ELSE floor((c - mn) * 1.0 / (mx - mn) * 1000000 + 0.5)
                     / 1000000
           END AS scaled
    FROM m
    """,
    doc="Within-group min-max scaling to [0,1] on integer cents — the "
    "bounded-range member of the scaling family (z-score / quantile / "
    "winsorize siblings). Exact integer min/max/diffs, one double "
    "division per row, constant groups pin 0.0 on both engines; one "
    "exchange on the group key",
)
def q_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minmax_scale(load(spark, sf_dir, "events"))


# ------------------------------------------------- two-way fixed effects

FE_SCALE = 10**4


def fixed_effects_demean(events: DataFrame) -> DataFrame:
    """Two-way fixed-effects (within) transformation: residual =
    value − user mean − day mean + grand mean, on integer cents — the
    demeaning step of a panel regression (user and calendar effects
    swept out before fitting), and the feature transform that removes
    entity/time leakage from a panel model's inputs.

    Exactness: the three means are BIGINT-sum / BIGINT-count rationals;
    the residual is one fixed four-term double chain evaluated in the
    same order on both engines, quantized 1e-4. Plan: two partial-agg
    exchanges (user, day) broadcast back onto the stream plus the 1-row
    grand-mean scalar — the q_seasonal_profile shape; the event stream
    itself never shuffles.
    """
    base = events.select(
        "event_id",
        "user_id",
        F.col("ts").cast("date").alias("day"),
        cents().alias("c"),
    )
    by_user = base.groupBy("user_id").agg(
        F.sum("c").alias("su"), F.count(F.lit(1)).alias("nu")
    )
    by_day = base.groupBy("day").agg(
        F.sum("c").alias("sd"), F.count(F.lit(1)).alias("nd")
    )
    grand = base.agg(
        F.sum("c").alias("s"), F.count(F.lit(1)).alias("n")
    )
    resid = (
        F.col("c")
        - F.col("su") / F.col("nu")
        - F.col("sd") / F.col("nd")
        + F.col("s") / F.col("n")
    )
    return (
        base.join(F.broadcast(by_user), "user_id")
        .join(F.broadcast(by_day), "day")
        .crossJoin(F.broadcast(grand))
        .select(
            "event_id",
            "user_id",
            "day",
            _q(resid / 100.0, FE_SCALE).alias("resid"),
        )
    )


@register(
    "q_fixed_effects",
    f"""
    WITH base AS (
      SELECT event_id, user_id, CAST(ts AS DATE) AS day,
             {_CENTS} AS c
      FROM events
    ), by_user AS (
      SELECT user_id, CAST(sum(c) AS BIGINT) AS su,
             CAST(count(*) AS BIGINT) AS nu
      FROM base GROUP BY user_id
    ), by_day AS (
      SELECT day, CAST(sum(c) AS BIGINT) AS sd,
             CAST(count(*) AS BIGINT) AS nd
      FROM base GROUP BY day
    ), grand AS (
      SELECT CAST(sum(c) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
      FROM base
    )
    SELECT b.event_id, b.user_id, b.day,
           floor((b.c - u.su * 1.0 / u.nu - d.sd * 1.0 / d.nd
                  + g.s * 1.0 / g.n) / 100.0 * {FE_SCALE} + 0.5)
             / {FE_SCALE} AS resid
    FROM base b
    JOIN by_user u USING (user_id)
    JOIN by_day d USING (day)
    CROSS JOIN grand g
    """,
    doc="Two-way fixed-effects demeaning (panel within transform): "
    "value minus user mean minus day mean plus grand mean on integer "
    "cents — BIGINT-rational means, one fixed four-term double chain. "
    "Two broadcast aggregates + a 1-row scalar; the stream never "
    "shuffles",
)
def q_fixed_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fixed_effects_demean(load(spark, sf_dir, "events"))


# ------------------------------------------------------------ t-closeness

T_CLOSE = 0.5       # max TVD between cell and global sensitive marginal
TC_SCALE = 10**6


def tcloseness(events: DataFrame, t_max: float = T_CLOSE) -> DataFrame:
    """t-closeness audit — the distributional member of the privacy
    family (k-anonymity counts rows, l-diversity counts distinct
    values; t-closeness bounds how far a quasi-identifier cell's
    SENSITIVE-value distribution drifts from the global marginal):
    per (event_type, weekday) cell, the total variation distance between
    the cell's user_id distribution and the corpus-wide one. A cell
    whose flow concentrates on few users leaks attribution even when k
    and l pass.

    Exact rational TVD in ONE division: with per-cell-user counts c_u,
    cell size N_c, global counts g_u, total N,
    TVD = (Σ_u∈cell |c_u·N − g_u·N_c| + (N − S_c)·N_c) / (2·N_c·N),
    S_c = Σ_u∈cell g_u (absent-user mass folds into the closed-form
    correction — no full user×cell grid is ever built). All numerators
    BIGINT (exact while c_u·N < 2^63; at larger scale lift to
    DECIMAL(38,0)). Plan: one (cell, user) exchange, a broadcast global
    user table + the |cells|-row N_c aggregate (bounded by |types|·7)
    broadcast back + 1-row total, one rollup — no window ever
    materializes a users-sized cell partition in a single task.
    """
    cells = events.select(
        "event_type", F.weekday("ts").alias("wd"), "user_id"
    )
    per_cu = cells.groupBy("event_type", "wd", "user_id").agg(
        F.count(F.lit(1)).alias("cu")
    )
    per_cell_n = per_cu.groupBy("event_type", "wd").agg(
        F.sum("cu").alias("nc")
    )
    per_u = cells.groupBy("user_id").agg(F.count(F.lit(1)).alias("gu"))
    tot = cells.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        per_cu.join(F.broadcast(per_u), "user_id")
        .join(F.broadcast(per_cell_n), ["event_type", "wd"])
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "term", F.abs(F.col("cu") * F.col("n") - F.col("gu") * F.col("nc"))
        )
    )
    agg = scored.groupBy("event_type", "wd").agg(
        F.max("nc").alias("nc"),
        F.max("n").alias("n"),
        F.sum("term").alias("a"),
        F.sum("gu").alias("sc"),
    )
    tvd = (
        F.col("a") + (F.col("n") - F.col("sc")) * F.col("nc")
    ).cast("double") / (2.0 * (F.col("nc") * F.col("n")).cast("double"))
    return agg.select(
        "event_type",
        "wd",
        F.col("nc").alias("n_rows"),
        _q(tvd, TC_SCALE).alias("tvd"),
        (tvd > t_max).cast("int").alias("at_risk"),
    )


@register(
    "q_tcloseness",
    f"""
    WITH cells AS (
      SELECT event_type, CAST(isodow(ts) - 1 AS INT) AS wd,
             user_id
      FROM events
    ), per_cu AS (
      SELECT event_type, wd, user_id, CAST(count(*) AS BIGINT) AS cu
      FROM cells GROUP BY event_type, wd, user_id
    ), per_u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS gu
      FROM cells GROUP BY user_id
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM cells
    ), scored AS (
      SELECT p.event_type, p.wd, p.cu, u.gu, t.n,
             CAST(sum(p.cu) OVER (PARTITION BY p.event_type, p.wd)
                  AS BIGINT) AS nc
      FROM per_cu p JOIN per_u u USING (user_id) CROSS JOIN tot t
    ), agg AS (
      SELECT event_type, wd,
             CAST(max(nc) AS BIGINT) AS nc, CAST(max(n) AS BIGINT) AS n,
             CAST(sum(abs(cu * n - gu * nc)) AS BIGINT) AS a,
             CAST(sum(gu) AS BIGINT) AS sc
      FROM scored GROUP BY event_type, wd
    )
    SELECT event_type, wd, nc AS n_rows,
           floor((a + (n - sc) * nc) / (2.0 * nc * n)
                 * {TC_SCALE} + 0.5) / {TC_SCALE} AS tvd,
           CAST((a + (n - sc) * nc) / (2.0 * nc * n) > {T_CLOSE}
                AS INT) AS at_risk
    FROM agg
    """,
    doc="t-closeness audit per (event_type, weekday) cell: exact "
    "rational TVD between the cell's user distribution and the global "
    "marginal, one division per cell (absent-user mass via a closed-"
    "form correction, never a user×cell grid). The distributional "
    "sibling of q_kanonymity / q_ldiversity",
)
def q_tcloseness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tcloseness(load(spark, sf_dir, "events"))


# ---------------------------------------------------- label balance

LB_SCALE = 10**6


def label_balance(docs: DataFrame) -> DataFrame:
    """Class-balance audit + inverse-frequency loss weights over the
    (source, lang) label grid: share of the corpus per class and the
    balanced-training weight w = N / (K·n_class) (the scikit-learn
    "balanced" convention — weights average to 1 over the corpus), the
    number every imbalanced-sampling / weighted-loss run needs next to
    q_rebalance_sample's materialized draw.

    One partial-agged exchange to the K-row class table, the corpus
    total joined back as a 1-row broadcast scalar; shares and weights
    are single divisions of exact BIGINTs, quantized 1e-6.
    """
    cls = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = cls.agg(
        F.sum("n_docs").alias("_n"), F.count(F.lit(1)).alias("_k")
    )
    return cls.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        _q(F.col("n_docs") / F.col("_n"), LB_SCALE).alias("share"),
        _q(
            F.col("_n") / (F.col("_k") * F.col("n_docs")), LB_SCALE
        ).alias("weight"),
    )


@register(
    "q_label_balance",
    f"""
    WITH cls AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source, lang
    ), tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS _n,
             CAST(count(*) AS BIGINT) AS _k
      FROM cls
    )
    SELECT source, lang, n_docs,
           floor(n_docs * 1.0 / _n * {LB_SCALE} + 0.5) / {LB_SCALE}
             AS share,
           floor(_n * 1.0 / (_k * n_docs) * {LB_SCALE} + 0.5) / {LB_SCALE}
             AS weight
    FROM cls, tot
    """,
    doc="Class-balance audit over (source, lang): per-class share and "
    "the inverse-frequency balanced-loss weight N/(K·n) — the "
    "weighted-training companion to q_rebalance_sample. One exchange "
    "to the K-row class table, 1-row total broadcast back, exact "
    "BIGINT ratios",
)
def q_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_balance(load(spark, sf_dir, "documents"))
