"""Distributed exact statistical tests (round-6 batch 3).

The two-sample / independence tests an analytics engine runs to decide
whether two slices of the tape differ — each derived so the TEST
STATISTIC is exact integer arithmetic until one final division:

- **q_ks_test**: two-sample Kolmogorov–Smirnov statistic between the
  'click' and 'view' price distributions. D = sup|F₁−F₂| is computed
  CROSS-MULTIPLIED: max over the merged value grid of
  |cum₁·n₂ − cum₂·n₁| (a BIGINT), divided once by n₁·n₂ — no per-point
  float ECDFs, no accumulation drift. The cumulative counts run through
  ``plans/global_rank.global_cumsum`` (quantile-bucketed two-pass), so
  there is NO SinglePartition window even though the grid order is
  global.
- **q_chi_square**: χ² independence of event_type × day-of-week. Each
  cell's (O−E)²/E is the exact rational (O·T − R·C)²/(T·R·C); the
  numerator and denominator are built in BIGINT, the quotient is fixed
  to 1e-9 BIGINTs per cell, and cells sum as integers — one final
  division. dof = (R−1)(C−1).
- **q_spearman**: Spearman rank correlation between price and trade
  size per type, with mid-rank ties. DOUBLED average ranks from
  ``plans/global_rank.doubled_midranks`` keep every rank integral, so
  the Pearson sums over them are exact; one division + two IEEE sqrts.

One NULL rule for every test here that reads raw values (KS, Spearman,
variance ratio, Mann–Whitney): a NULL value is not an observation. Its
row is left out of every count, sum and rank, on both engines, so the
result does not depend on where an engine sorts NULL. The χ² cells of
q_chi_square and q_cramers_v are written once, ``_chi2_terms`` /
``_CHI2_SQL``.

Scale notes: KS aggregates each side to its distinct-value grid first
(cardinality = price grid, not row count); χ² works on a
|types|×|weekdays| cell table; Spearman's power sums run in
DECIMAL(38,0) / HUGEINT (BIGINT held only to ~10⁶ rows/group — the
100x audit crossed it), exact to ~1e38.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..plans.global_rank import doubled_midranks, global_cumsum
from ..registry import load, register
from .bars import _BARS_SQL, _CENTS, cents, daily_bars

CHI2_SCALE = 10**9
RHO_SCALE = 10**8


def ks_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample KS over integer-cent values of two groups. Returns one
    row (n_a, n_b, d_num, ks) with ks = max|cum_a·n_b − cum_b·n_a|/(n_a·n_b)."""
    counts = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .select(F.col(group_col).alias("g"), cents(value_col).alias("c"))
        .filter(F.col("c").isNotNull())
        .groupBy("c")
        .agg(
            F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("a"),
            F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("b"),
        )
    )
    ca, n_a = global_cumsum(counts, ["c"], "a")
    ca = ca.withColumnRenamed("_gcum", "cum_a")
    cb, n_b = global_cumsum(ca, ["c"], "b")
    cb = cb.withColumnRenamed("_gcum", "cum_b")
    d = F.abs(
        F.col("cum_a") * F.lit(n_b) - F.col("cum_b") * F.lit(n_a)
    )
    return cb.agg(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        F.max(d).alias("d_num"),
        (F.max(d) / F.lit(float(n_a) * float(n_b))).alias("ks"),
    )


@register(
    "q_ks_test",
    f"""
    WITH v AS (
      SELECT event_type AS g, {_CENTS} AS c FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ), counts AS (
      SELECT c,
             CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT)
               AS a,
             CAST(sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT)
               AS b
      FROM v GROUP BY c
    ), cum AS (
      SELECT c,
             CAST(sum(a) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_a,
             CAST(sum(b) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_b
      FROM counts
    ), tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b
      FROM counts
    )
    SELECT n_a, n_b,
           CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_num,
           max(abs(cum_a * n_b - cum_b * n_a))
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS ks
    FROM cum, tot GROUP BY n_a, n_b
    """,
    doc="Two-sample Kolmogorov–Smirnov D between click and view price "
    "distributions — cross-multiplied integer ECDFs over the distinct "
    "cents grid (bucketed two-pass cumsum, no SinglePartition window), "
    "one final division",
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ks_test(
        load(spark, sf_dir, "events"), "event_type", "value", "click", "view"
    )


def _chi2_terms(df: DataFrame, row: F.Column, col: F.Column) -> DataFrame:
    """The χ² cell table of ``row`` × ``col``: one row per cell with its
    term (O·T − R·C)²/(T·R·C) fixed to a 1e-9 BIGINT ``q``, next to the
    table's ``nr``, ``nc`` and total ``t`` (SQL twin: ``_CHI2_SQL``)."""
    cells = (
        df.select(row.alias("r"), col.alias("c"))
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rt = cells.groupBy("r").agg(F.sum("o").alias("rn"))
    ct = cells.groupBy("c").agg(F.sum("o").alias("cn"))
    tt = cells.agg(
        F.sum("o").alias("t"),
        F.countDistinct("r").alias("nr"),
        F.countDistinct("c").alias("nc"),
    )
    j = cells.join(F.broadcast(rt), "r").join(F.broadcast(ct), "c").crossJoin(
        F.broadcast(tt)
    )
    # diff fits in BIGINT to ~3e9 input rows (|diff| <= o*t <= n^2), but
    # its SQUARE and the t*rn*cn denominator overflow int64 near 1e7
    # rows (caught by the ANSI engine in the 100x-scale sweep) — so
    # square and denominator run in double, the IDENTICAL chain on both
    # engines; at driver scales every operand is < 2^53, so the values
    # are bit-equal to the old integer chain
    diff = (F.col("o") * F.col("t") - F.col("rn") * F.col("cn")).cast(
        "double"
    )
    term_q = F.floor(
        (diff * diff)
        / (
            F.col("t").cast("double")
            * F.col("rn").cast("double")
            * F.col("cn").cast("double")
        )
        * F.lit(CHI2_SCALE)
        + F.lit(0.5)
    ).cast("long")
    return j.select(term_q.alias("q"), "nr", "nc", "t")


_CHI2_SQL = f"""
    cells AS (
      SELECT event_type AS r, dayofweek(ts) + 1 AS c,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ), rt AS (
      SELECT r, CAST(sum(o) AS BIGINT) AS rn FROM cells GROUP BY r
    ), ct AS (
      SELECT c, CAST(sum(o) AS BIGINT) AS cn FROM cells GROUP BY c
    ), tt AS (
      SELECT CAST(sum(o) AS BIGINT) AS t,
             CAST(count(DISTINCT r) AS BIGINT) AS nr,
             CAST(count(DISTINCT c) AS BIGINT) AS nc
      FROM cells
    ), terms AS (
      SELECT CAST(floor(
               CAST(o * t - rn * cn AS DOUBLE)
                 * CAST(o * t - rn * cn AS DOUBLE)
               / (CAST(t AS DOUBLE) * CAST(rn AS DOUBLE)
                  * CAST(cn AS DOUBLE)) * {CHI2_SCALE} + 0.5)
             AS BIGINT) AS q, nr, nc, t
      FROM cells JOIN rt USING (r) JOIN ct USING (c), tt
    )"""


def chi_square(df: DataFrame, row_col: str, col_expr: F.Column) -> DataFrame:
    """χ² independence of ``row_col`` × ``col_expr`` categories: the
    :func:`_chi2_terms` cells summed as integers, one final division."""
    terms = _chi2_terms(df, F.col(row_col), col_expr)
    return terms.groupBy("nr", "nc").agg(
        F.count(F.lit(1)).alias("n_cells"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
        (F.sum("q") / F.lit(float(CHI2_SCALE))).alias("chi2"),
    ).select("n_cells", "dof", "chi2")


@register(
    "q_chi_square",
    f"""
    WITH {_CHI2_SQL}
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           CAST(sum(q) AS BIGINT) / {float(CHI2_SCALE)} AS chi2
    FROM terms GROUP BY nr, nc
    """,
    doc="χ² independence of event_type × day-of-week — per-cell "
    "(O·T−R·C)²/(T·R·C) exact rationals fixed to 1e-9 BIGINTs before "
    "the integer sum; broadcast margin joins on a |r|×|c| cell table",
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chi_square(
        load(spark, sf_dir, "events"),
        "event_type",
        F.dayofweek("ts"),
    )


def spearman(
    df: DataFrame, group_col: str, x_col: F.Column, y_col: F.Column
) -> DataFrame:
    """Spearman ρ per group with mid-rank ties, on DOUBLED integer ranks
    (:func:`doubled_midranks`) so all Pearson sums are exact integers.

    A row whose x or y is NULL is not an observation (pairwise-complete,
    like SQL ``corr``); a NULL group stays a group. Ranks come from the
    distinct-(g, value) histograms, not row-level windows: the window
    runs over the value-bounded histogram (49 k rows against 10 M at the
    100× audit scale, where the row window pinned 5 groups onto 5 serial
    sorts), and each row picks up rx/ry by a hash join.

    The doubled mid-rank ``2·below + c + 1`` is 2 more than the textbook
    ``2·rank_min + c − 3``; ρ does not move: with r' = r + 2,
    n·Σx'y' − Σx'·Σy' = n·Σxy − Σx·Σy and
    n·Σx'² − (Σx')² = n·Σx² − (Σx)², and both run exactly in
    decimal(38,0)."""
    d = df.select(
        F.col(group_col).alias("g"), x_col.alias("x"), y_col.alias("y")
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())

    def attach(rows: DataFrame, col: str) -> DataFrame:
        hist = d.groupBy(F.col("g").alias("_rg"), F.col(col).alias("_rv")).agg(
            F.count(F.lit(1)).alias("_c")
        )
        ranks = doubled_midranks(hist, ["_rg"], "_rv", "_c")
        on = F.col("g").eqNullSafe(F.col("_rg")) & (F.col(col) == F.col("_rv"))
        rank = F.col("_mid2").alias(f"r{col}")
        return rows.join(ranks, on).select(*rows.columns, rank)

    r = attach(attach(d, "x"), "y")
    # product sums and the m2 numerators overflow int64 past ~2e6 rows
    # per group (doubled ranks reach 2n; the 100x audit caught the sum),
    # so they run in decimal(38,0) — exact to ~1e38 — mirrored by
    # HUGEINT sums in the oracle; per-row products still fit BIGINT
    _dec = "decimal(38,0)"
    agg = r.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum((F.col("rx") * F.col("ry")).cast(_dec)).alias("sxy"),
        F.sum((F.col("rx") * F.col("rx")).cast(_dec)).alias("sxx"),
        F.sum((F.col("ry") * F.col("ry")).cast(_dec)).alias("syy"),
    )
    num = (
        F.col("n").cast(_dec) * F.col("sxy")
        - F.col("sx").cast(_dec) * F.col("sy").cast(_dec)
    ).cast("double")
    dx = (
        F.col("n").cast(_dec) * F.col("sxx")
        - F.col("sx").cast(_dec) * F.col("sx").cast(_dec)
    ).cast("double")
    dy = (
        F.col("n").cast(_dec) * F.col("syy")
        - F.col("sy").cast(_dec) * F.col("sy").cast(_dec)
    ).cast("double")
    rho = F.when((dx > 0) & (dy > 0), num / (F.sqrt(dx) * F.sqrt(dy)))
    return agg.select(
        F.col("g").alias("event_type"),
        F.col("n").alias("n_rows"),
        _q(rho, RHO_SCALE).alias("spearman_rho"),
    )


@register(
    "q_spearman",
    f"""
    WITH d AS (
      SELECT event_type AS g, {_CENTS} AS x,
             coalesce(json_extract_string(props, '$.k')::BIGINT, 0) AS y
      FROM events WHERE value IS NOT NULL
    ), r AS (
      SELECT g,
             CAST(2 * rank() OVER (PARTITION BY g ORDER BY x)
                  + count(*) OVER (PARTITION BY g, x) - 3 AS BIGINT) AS rx,
             CAST(2 * rank() OVER (PARTITION BY g ORDER BY y)
                  + count(*) OVER (PARTITION BY g, y) - 3 AS BIGINT) AS ry
      FROM d
    ), agg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
             CAST(sum(rx * ry) AS HUGEINT) AS sxy,
             CAST(sum(rx * rx) AS HUGEINT) AS sxx,
             CAST(sum(ry * ry) AS HUGEINT) AS syy
      FROM r GROUP BY g
    )
    SELECT g AS event_type, n AS n_rows,
           floor(CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx > 0
                       AND n * syy - CAST(sy AS HUGEINT) * sy > 0
                 THEN CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                      / (sqrt(CAST(n * sxx
                                   - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                         * sqrt(CAST(n * syy
                                     - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
                 END * {RHO_SCALE} + 0.5) / {RHO_SCALE} AS spearman_rho
    FROM agg
    """,
    doc="Spearman rank correlation (mid-rank ties) between price and "
    "props.$.k size per type — doubled integer ranks keep all sums "
    "BIGINT-exact; one division, two IEEE sqrts, quantized 1e-8",
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    qty = F.coalesce(F.get_json_object("props", "$.k").cast("long"), F.lit(0))
    return spearman(
        load(spark, sf_dir, "events"), "event_type", cents(), qty
    )


# ---------------------------------------------------- variance-ratio F

VR_SCALE = 10**6


def variance_ratio(events: DataFrame) -> DataFrame:
    """Pairwise variance-ratio (F) statistic between event types'
    values: F = s²_a / s²_b over ordered type pairs (a < b
    lexicographically), sample variances from exact power sums on
    integer cents (BIGINT sums; the n·sxx − sx² numerator in
    decimal(38,0) / HUGEINT) — the homoscedasticity screen run before pooling
    groups into one model (the KS test's variance-focused sibling; both
    engines share the single final division). Variances first reduce to
    the |types|-row aggregate, so the pair join is vocabulary-bounded.
    """
    agg = (
        events.select("event_type", cents().alias("c"))
        .filter(F.col("c").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("sx"),
            F.sum(F.col("c") * F.col("c")).alias("sxx"),
        )
        .filter(F.col("n") > 1)
    )
    a = agg.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("sx").alias("sxa"),
        F.col("sxx").alias("sxxa"),
    )
    b = agg.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("sx").alias("sxb"),
        F.col("sxx").alias("sxxb"),
    )
    # n·sxx and sx² overflow int64 past ~1e6 rows per group (100x-sweep
    # audit), so the m2 numerator runs in decimal(38,0) — still EXACT
    # (good to ~1e12-row groups), mirrored by HUGEINT on the oracle;
    # both engines then cast the same exact integer to double once
    def _m2(n_c: str, sxx_c: str, sx_c: str) -> F.Column:
        dec = "decimal(38,0)"
        return (
            F.col(n_c).cast(dec) * F.col(sxx_c).cast(dec)
            - F.col(sx_c).cast(dec) * F.col(sx_c).cast(dec)
        ).cast("double")

    va = _m2("na", "sxxa", "sxa") / (
        F.col("na") * (F.col("na") - 1)
    ).cast("double")
    vb = _m2("nb", "sxxb", "sxb") / (
        F.col("nb") * (F.col("nb") - 1)
    ).cast("double")
    return (
        a.crossJoin(b)
        .filter(F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            _q(F.when(vb > 0, va / vb), VR_SCALE).alias("f_stat"),
        )
    )


@register(
    "q_variance_ratio",
    f"""
    WITH agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS sx,
             CAST(sum(c * c) AS BIGINT) AS sxx
      FROM (SELECT event_type, {_CENTS} AS c
            FROM events WHERE value IS NOT NULL)
      GROUP BY event_type HAVING count(*) > 1
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n AS n_a, b.n AS n_b,
           floor(CASE WHEN (CAST(b.n AS HUGEINT) * b.sxx
                            - CAST(b.sx AS HUGEINT) * b.sx) > 0 THEN
             (CAST(CAST(a.n AS HUGEINT) * a.sxx
                   - CAST(a.sx AS HUGEINT) * a.sx AS DOUBLE)
                / CAST(a.n * (a.n - 1) AS DOUBLE))
             / (CAST(CAST(b.n AS HUGEINT) * b.sxx
                     - CAST(b.sx AS HUGEINT) * b.sx AS DOUBLE)
                / CAST(b.n * (b.n - 1) AS DOUBLE)) END
             * {VR_SCALE} + 0.5) / {VR_SCALE} AS f_stat
    FROM agg a JOIN agg b ON a.event_type < b.event_type
    """,
    doc="Pairwise variance-ratio (F) statistic between event types from "
    "BIGINT power sums on integer cents — the homoscedasticity screen "
    "before pooling groups. One |types|-row aggregate; the pair join is "
    "vocabulary-bounded, one final division per pair",
)
def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return variance_ratio(load(spark, sf_dir, "events"))


# ------------------------------------------------------- Kendall tau-b

KT_SCALE = 10**6


def kendall_tau(events: DataFrame) -> DataFrame:
    """Kendall τ-b between every pair of types' daily cent moves — the
    third member of the dependence trio (q_corr_matrix is Pearson,
    q_spearman is rank-linear; Kendall counts CONCORDANT day pairs, so
    one wild outlier shifts it by at most 1/(n choose 2)).

    τ-b = (C − D) / √((n₀ − t_x)(n₀ − t_y)) with n₀ = n(n−1)/2 and
    tie corrections t = Σ tᵢ(tᵢ−1)/2 per side — every term an exact
    BIGINT from sign comparisons, ONE final sqrt+division. The pairwise
    join is over DAYS (calendar-bounded, the q_theil_sen cost argument:
    n(n−1)/2 day pairs per type pair regardless of event volume), after
    the moves reduce to the (type, day) bar table.
    """
    mv = daily_bars(events).filter(F.col("dc").isNotNull()).select(
        "event_type", "day", "dc"
    )
    a = mv.select(
        F.col("event_type").alias("type_a"), "day", F.col("dc").alias("xa")
    )
    b = mv.select(
        F.col("event_type").alias("type_b"), "day", F.col("dc").alias("xb")
    )
    both = a.join(b, "day").filter(F.col("type_a") < F.col("type_b"))
    p1 = both.select(
        "type_a", "type_b", F.col("day").alias("d1"),
        F.col("xa").alias("xa1"), F.col("xb").alias("xb1"),
    )
    p2 = both.select(
        "type_a", "type_b", F.col("day").alias("d2"),
        F.col("xa").alias("xa2"), F.col("xb").alias("xb2"),
    )
    pairs = p1.join(p2, ["type_a", "type_b"]).filter(F.col("d1") < F.col("d2"))
    dx = F.col("xa1") - F.col("xa2")
    dy = F.col("xb1") - F.col("xb2")
    agg = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(((dx > 0) & (dy > 0) | (dx < 0) & (dy < 0)).cast("long")).alias("c"),
        F.sum(((dx > 0) & (dy < 0) | (dx < 0) & (dy > 0)).cast("long")).alias("d"),
        F.sum((dx == 0).cast("long")).alias("tx"),
        F.sum((dy == 0).cast("long")).alias("ty"),
    )
    den = (F.col("n0") - F.col("tx")).cast("double") * (
        F.col("n0") - F.col("ty")
    ).cast("double")
    tau = F.when(
        den > 0,
        (F.col("c") - F.col("d")).cast("double") / F.sqrt(den),
    )
    return agg.select(
        "type_a",
        "type_b",
        F.col("n0").alias("n_day_pairs"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        _q(tau, KT_SCALE).alias("kendall_tau"),
    )


@register(
    "q_kendall_tau",
    """
    WITH {bars}, mv AS (
      SELECT event_type, day, dc FROM moves WHERE dc IS NOT NULL
    ), j AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.day, a.dc AS xa, b.dc AS xb
      FROM mv a JOIN mv b
        ON a.day = b.day AND a.event_type < b.event_type
    ), pairs AS (
      SELECT p1.type_a, p1.type_b,
             p1.xa - p2.xa AS dx, p1.xb - p2.xb AS dy
      FROM j p1 JOIN j p2
        ON p1.type_a = p2.type_a AND p1.type_b = p2.type_b
       AND p1.day < p2.day
    ), agg AS (
      SELECT type_a, type_b,
             CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN (dx > 0 AND dy > 0)
                             OR (dx < 0 AND dy < 0)
                      THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN (dx > 0 AND dy < 0)
                             OR (dx < 0 AND dy > 0)
                      THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
             CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
      FROM pairs GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n0 AS n_day_pairs,
           c AS concordant, d AS discordant,
           floor(CASE WHEN (n0 - tx) * (n0 - ty) > 0
                 THEN (c - d) * 1.0
                      / sqrt(CAST(n0 - tx AS DOUBLE)
                             * CAST(n0 - ty AS DOUBLE)) END
                 * {sc} + 0.5) / {sc} AS kendall_tau
    FROM agg
    """.format(bars=_BARS_SQL, sc=KT_SCALE),
    doc="Kendall τ-b between type pairs' daily moves (the outlier-robust "
    "member of the Pearson/Spearman/Kendall trio): exact BIGINT "
    "concordant/discordant/tie counts over CALENDAR-bounded day pairs "
    "(the q_theil_sen cost class — n(n−1)/2 regardless of event "
    "volume), one sqrt+division per type pair",
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kendall_tau(load(spark, sf_dir, "events"))


# ------------------------------------------------- Mann–Whitney U test

MW_SCALE = 10**6


def mann_whitney(events: DataFrame) -> DataFrame:
    """Pairwise Mann–Whitney U between event types' value
    distributions — the rank-sum location test that needs no normality
    (the distribution-free sibling of q_variance_ratio's F and
    q_ks_test's D). Midranks handle ties exactly: with the merged
    distribution reduced to a per-(pair, value) count histogram,
    2·midrank(v) = 2·(#rows below v) + ties(v) + 1 is an integer, so
    2·R_a = Σ cnt_a(v)·2midrank(v) and 2·U_a = 2R_a − n_a(n_a+1) stay
    BIGINT; U_a itself is an exact .5-step double. The normal
    approximation z uses the standard tie-corrected variance
    σ² = (n_a·n_b/12)·((N+1) − Σ(t³−t)/(N(N−1))) — the tie sum runs in
    DECIMAL(38,0) (t³ overflows BIGINT once a single value holds >2M
    rows), then ONE fixed double expression and sqrt on both engines;
    all-tied pairs (σ = 0) yield NULL.

    Scale: the raw stream reduces to the (type, value) histogram in one
    partial-agged exchange; everything after is |types|·|values|-
    bounded, pair fan-out via two broadcast joins of the |types|²-row
    pair table. The per-pair cumsum windows over the merged histogram —
    never over raw events.
    """
    # filtered here, not only by doubled_midranks: a type without a
    # priced row forms no pair
    hist = (
        events.select("event_type", cents().alias("c"))
        .filter(F.col("c").isNotNull())
        .groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    types = hist.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    pa = pairs.join(
        hist.withColumnRenamed("event_type", "type_a"), "type_a"
    ).select("type_a", "type_b", "c", F.col("cnt").alias("cnt_a"), F.lit(0).alias("cnt_b"))
    pb = pairs.join(
        hist.withColumnRenamed("event_type", "type_b"), "type_b"
    ).select("type_a", "type_b", "c", F.lit(0).alias("cnt_a"), F.col("cnt").alias("cnt_b"))
    merged = (
        pa.unionByName(pb)
        .groupBy("type_a", "type_b", "c")
        .agg(F.sum("cnt_a").alias("cnt_a"), F.sum("cnt_b").alias("cnt_b"))
        .withColumn("cnt", F.col("cnt_a") + F.col("cnt_b"))
    )
    ranked = doubled_midranks(merged, ["type_a", "type_b"], "c", "cnt")
    agg = ranked.groupBy("type_a", "type_b").agg(
        F.sum("cnt_a").alias("na"),
        F.sum("cnt_b").alias("nb"),
        F.sum(F.col("cnt_a") * F.col("_mid2")).alias("r2a"),
        F.sum("_tie3").alias("tie3"),
    )
    na, nb = F.col("na"), F.col("nb")
    n = na + nb
    u2 = F.col("r2a") - na * (na + 1)
    var = (na * nb).cast("double") / 12.0 * (
        (n + 1).cast("double")
        - F.col("tie3").cast("double") / (n.cast("double") * (n - 1).cast("double"))
    )
    z = F.when(
        var > 0,
        (u2 - na * nb).cast("double") / (2.0 * F.sqrt(var)),
    )
    return agg.select(
        "type_a",
        "type_b",
        na.alias("n_a"),
        nb.alias("n_b"),
        (u2.cast("double") / 2.0).alias("u_a"),
        _q(z, MW_SCALE).alias("z"),
    )


@register(
    "q_mann_whitney",
    f"""
    WITH hist AS (
      SELECT event_type, {_CENTS} AS c, CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), types AS (SELECT DISTINCT event_type FROM hist),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM types a JOIN types b ON a.event_type < b.event_type
    ), u AS (
      SELECT p.type_a, p.type_b, h.c, h.cnt AS cnt_a,
             CAST(0 AS BIGINT) AS cnt_b
      FROM pairs p JOIN hist h ON h.event_type = p.type_a
      UNION ALL
      SELECT p.type_a, p.type_b, h.c, CAST(0 AS BIGINT), h.cnt
      FROM pairs p JOIN hist h ON h.event_type = p.type_b
    ), merged AS (
      SELECT type_a, type_b, c,
             CAST(sum(cnt_a) AS BIGINT) AS cnt_a,
             CAST(sum(cnt_b) AS BIGINT) AS cnt_b
      FROM u GROUP BY 1, 2, 3
    ), ranked AS (
      SELECT *,
             CAST(2 * (sum(cnt_a + cnt_b) OVER
                 (PARTITION BY type_a, type_b ORDER BY c
                  ROWS UNBOUNDED PRECEDING) - (cnt_a + cnt_b))
                  + (cnt_a + cnt_b) + 1 AS BIGINT) AS mid2
      FROM merged
    ), agg AS (
      SELECT type_a, type_b,
             CAST(sum(cnt_a) AS BIGINT) AS na,
             CAST(sum(cnt_b) AS BIGINT) AS nb,
             CAST(sum(cnt_a * mid2) AS BIGINT) AS r2a,
             sum(CAST(cnt_a + cnt_b AS HUGEINT)
                 * (cnt_a + cnt_b) * (cnt_a + cnt_b)
                 - (cnt_a + cnt_b)) AS tie3
      FROM ranked GROUP BY 1, 2
    )
    SELECT type_a, type_b, na AS n_a, nb AS n_b,
           CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0 AS u_a,
           CASE WHEN CAST(na * nb AS DOUBLE) / 12.0
                     * ((na + nb + 1)
                        - CAST(tie3 AS DOUBLE)
                          / (CAST(na + nb AS DOUBLE) * (na + nb - 1))) > 0
           THEN floor(
             CAST(r2a - na * (na + 1) - na * nb AS DOUBLE)
             / (2.0 * sqrt(CAST(na * nb AS DOUBLE) / 12.0
                 * ((na + nb + 1)
                    - CAST(tie3 AS DOUBLE)
                      / (CAST(na + nb AS DOUBLE) * (na + nb - 1)))))
             * {MW_SCALE} + 0.5) / {MW_SCALE}
           END AS z
    FROM agg
    """,
    doc="Pairwise Mann–Whitney U (rank-sum) test between event types — "
    "the distribution-free location screen. Midranks over the merged "
    "(pair, value) count histogram keep 2U_a a BIGINT; tie-corrected "
    "normal z via DECIMAL/HUGEINT tie sums and ONE double sqrt; "
    "all-tied pairs NULL. Raw stream reduces to the value histogram "
    "first — |types|²-bounded pair fan-out, no raw-event window",
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mann_whitney(load(spark, sf_dir, "events"))
