"""Training-data curation ops, round-8 batch 8: published quality
gates, calibration, and corpus-shape diagnostics.

The operators a 100 TB pre-training pipeline runs between dedup and
mixing (complementing quality_queries / textqc_queries / corpus*):

- **q_gopher_rules**: the Gopher paper's repetition-free quality gate
  (Rae et al. 2021, §A1.1) re-expressed as pure integer predicates —
  word-count bounds, mean-word-length band via cross-multiplication
  (``3·n_w ≤ Σlen ≤ 10·n_w`` — no division), ≥80 % alphabetic words
  (``5·n_alpha ≥ 4·n_w``), ≥2 distinct stop words, ≤10 % symbol words.
  Per-source pass rate + per-rule violation counts.
- **q_prefix_dedup**: duplicated k-word document *prefix* groups — the
  template-intro/boilerplate-header signal exact dedup misses (bodies
  differ) and MinHash underweights (prefix is a small doc fraction).
  Spark groups 8-byte ``xxhash64`` prefix keys (q_boilerplate's
  hash-vs-string contract; collisions ~|prefixes|²/2⁶⁴).
- **q_psi**: Population Stability Index of the per-type value
  distribution, first vs second half-month — the drift yardstick
  model-risk teams threshold at 0.1/0.25. B=10 equal-width integer-cent
  bins from the per-type min/max (exact integer binning), Laplace
  (c+1)/(n+B) smoothing so empty bins stay finite, one final
  (p−q)·ln(p/q) double chain per bin.
- **q_mutual_info**: mutual information + entropies + NMI between
  event_type and the value quintile bin — the dependence screen that
  catches leaky feature/label pairs before training. Exact integer
  contingency counts; ln only in the final per-cell chain.
- **q_brier**: Brier score + reliability diagram for a deterministic
  common-token-ratio probability (p = fraction of a doc's token
  instances whose document frequency ≥ 78 % of the corpus) against the
  lang='en' outcome — the calibration harness a quality-classifier
  score plugs into.
- **q_zipf_fit**: OLS fit of ln(freq) on ln(rank) over the top-K
  unigrams (slope ≈ −1 is Zipf; deviations flag synthetic/corrupted
  corpora). Rank ties break on the token string, so the fit is
  deterministic.
- **q_token_entropy**: per-source unigram Shannon entropy + perplexity
  exp(H) — the diversity floor used when down-weighting low-entropy
  (template-heavy) sources in a mixture.

Scale design: every doc-level op is one projection pass; token-level
ops shuffle 8-byte hashed keys (never strings) except the bounded
top-K Zipf path (TakeOrdered — per-partition partial top-K, no full
sort); PSI/MI touch events twice with a ≤|types|-row broadcast range
table; all ln/exp enter only after exact integer aggregation (the
q_token_rarity discipline), with outputs quantized via
functions/quantize.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..plans import ensure_parallelism
from ..registry import load, register
from .bars import _CENTS, cents

WC_MIN, WC_MAX = 20, 1000  # Gopher 50..100k scaled to the test corpus
MWL_LO, MWL_HI = 3, 10
STOPWORDS = ("the", "a", "of", "and", "to")
PREFIX_K = 3  # prefix width in words (8+ in production; 3 on short docs)
PSI_BINS = 10
MI_BINS = 5
DF_NUM, DF_DEN = 39, 50  # "common" token: doc-freq ≥ 78 % of corpus
BRIER_BINS = 5
ZIPF_K = 100

_STOP_SQL = "['the','a','of','and','to']"


# --------------------------------------------------------- Gopher gate


def gopher_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source Gopher-style quality gate: five integer predicates,
    no division (bands via cross-multiplication)."""
    tk = F.split(F.col(text_col), " ")
    d = ensure_parallelism(docs).select(
        "source",
        F.size(tk).cast("long").alias("n_w"),
        F.expr(
            f"aggregate(transform(split({text_col}, ' '), "
            "x -> CAST(length(x) AS BIGINT)), 0L, (a, x) -> a + x)"
        ).alias("sum_len"),
        F.size(
            F.expr(f"filter(split({text_col}, ' '), x -> x rlike '[a-zA-Z]')")
        ).cast("long").alias("n_alpha"),
        F.size(
            F.array_intersect(
                F.array_distinct(tk),
                F.array(*[F.lit(s) for s in STOPWORDS]),
            )
        ).cast("long").alias("stop_hits"),
        F.size(
            F.expr(
                f"filter(split({text_col}, ' '), "
                "x -> x like '%#%' or x like '%...%')"
            )
        ).cast("long").alias("n_sym"),
    )
    r_wc = F.col("n_w").between(WC_MIN, WC_MAX)
    r_mwl = (F.lit(MWL_LO) * F.col("n_w") <= F.col("sum_len")) & (
        F.col("sum_len") <= F.lit(MWL_HI) * F.col("n_w")
    )
    r_alpha = F.lit(5) * F.col("n_alpha") >= F.lit(4) * F.col("n_w")
    r_stop = F.col("stop_hits") >= 2
    r_sym = F.lit(10) * F.col("n_sym") <= F.col("n_w")
    as_i = lambda c: c.cast("int")  # noqa: E731
    flags = d.select(
        "source",
        as_i(r_wc).alias("f_wc"),
        as_i(r_mwl).alias("f_mwl"),
        as_i(r_alpha).alias("f_alpha"),
        as_i(r_stop).alias("f_stop"),
        as_i(r_sym).alias("f_sym"),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.col("f_wc")
                * F.col("f_mwl")
                * F.col("f_alpha")
                * F.col("f_stop")
                * F.col("f_sym")
            ).alias("n_pass"),
            F.sum(1 - F.col("f_wc")).alias("viol_wordcount"),
            F.sum(1 - F.col("f_mwl")).alias("viol_wordlen"),
            F.sum(1 - F.col("f_alpha")).alias("viol_alpha"),
            F.sum(1 - F.col("f_stop")).alias("viol_stopword"),
            F.sum(1 - F.col("f_sym")).alias("viol_symbol"),
        )
        .orderBy("source")
    )


@register(
    "q_gopher_rules",
    f"""
    WITH t AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_w,
             CAST(list_sum(list_transform(string_split(text, ' '),
                  x -> len(x))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(string_split(text, ' '),
                  x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                  {_STOP_SQL})) AS BIGINT) AS stop_hits,
             CAST(len(list_filter(string_split(text, ' '),
                  x -> x LIKE '%#%' OR x LIKE '%...%')) AS BIGINT) AS n_sym
      FROM documents
    ), r AS (
      SELECT source,
             CASE WHEN n_w BETWEEN {WC_MIN} AND {WC_MAX}
                  THEN 1 ELSE 0 END AS f_wc,
             CASE WHEN {MWL_LO} * n_w <= sum_len
                   AND sum_len <= {MWL_HI} * n_w THEN 1 ELSE 0 END AS f_mwl,
             CASE WHEN 5 * n_alpha >= 4 * n_w THEN 1 ELSE 0 END AS f_alpha,
             CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS f_stop,
             CASE WHEN 10 * n_sym <= n_w THEN 1 ELSE 0 END AS f_sym
      FROM t
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f_wc * f_mwl * f_alpha * f_stop * f_sym) AS BIGINT)
             AS n_pass,
           CAST(sum(1 - f_wc) AS BIGINT) AS viol_wordcount,
           CAST(sum(1 - f_mwl) AS BIGINT) AS viol_wordlen,
           CAST(sum(1 - f_alpha) AS BIGINT) AS viol_alpha,
           CAST(sum(1 - f_stop) AS BIGINT) AS viol_stopword,
           CAST(sum(1 - f_sym) AS BIGINT) AS viol_symbol
    FROM r GROUP BY source ORDER BY source
    """,
    doc="Gopher-style quality gate (Rae et al. 2021 A1.1 scaled): "
    "word-count / mean-word-length / alpha-fraction / stopword / "
    "symbol rules as pure integer predicates (bands via cross-"
    "multiplication, no division); per-source pass + violation counts",
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_rules(load(spark, sf_dir, "documents"))


# --------------------------------------------------- prefix dedup groups


def prefix_dedup(
    docs: DataFrame, k: int = PREFIX_K, text_col: str = "text"
) -> DataFrame:
    """Duplicated k-word prefix groups: (canonical_doc, n_docs,
    n_sources) for every prefix shared by ≥2 docs. Groups on the
    8-byte xxhash64 of the prefix (q_boilerplate contract)."""
    tk = F.split(F.col(text_col), " ")
    pref = F.array_join(F.slice(tk, 1, k), " ")
    return (
        ensure_parallelism(docs)
        .filter(F.size(tk) >= k)
        .select("doc_id", "source", F.xxhash64(pref).alias("h"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
        .select("canonical_doc", "n_docs", "n_sources")
        .orderBy("canonical_doc")
    )


@register(
    "q_prefix_dedup",
    f"""
    WITH p AS (
      SELECT doc_id, source,
             array_to_string(string_split(text, ' ')[1:{PREFIX_K}], ' ')
               AS pref
      FROM documents
      WHERE len(string_split(text, ' ')) >= {PREFIX_K}
    )
    SELECT CAST(min(doc_id) AS BIGINT) AS canonical_doc,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM p GROUP BY pref HAVING count(*) >= 2
    ORDER BY canonical_doc
    """,
    doc=f"Duplicated {PREFIX_K}-word document-prefix groups (template "
    "intros / boilerplate headers): canonical doc + group size + "
    "source spread; Spark groups 8-byte xxhash64 prefix keys, never "
    "strings (q_boilerplate contract)",
)
def q_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prefix_dedup(load(spark, sf_dir, "documents"))


# ------------------------------------------------------------------ PSI


def psi(events: DataFrame, bins: int = PSI_BINS) -> DataFrame:
    """Per-type PSI, first vs second half-month, over B equal-width
    integer-cent bins with Laplace (c+1)/(n+B) smoothing."""
    base = events.select(
        "event_type",
        (F.dayofmonth("ts") <= 15).cast("int").alias("fh"),
        cents().alias("c"),
    )
    rng = base.groupBy("event_type").agg(
        F.min("c").alias("mn"),
        F.max("c").alias("mx"),
        F.sum("fh").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("fh")).alias("n_b"),
    )
    binned = base.join(F.broadcast(rng), "event_type").select(
        "event_type",
        "fh",
        F.least(
            F.lit(bins - 1),
            F.expr(f"((c - mn) * {bins}) div (mx - mn + 1)"),
        ).alias("b"),
    )
    counts = binned.groupBy("event_type", "b").agg(
        F.sum("fh").alias("c_a"),
        (F.count(F.lit(1)) - F.sum("fh")).alias("c_b"),
    )
    grid = rng.select(
        "event_type",
        "n_a",
        "n_b",
        F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("b"),
    )
    full = grid.join(counts, ["event_type", "b"], "left").select(
        "event_type",
        "n_a",
        "n_b",
        (F.coalesce("c_a", F.lit(0)) + 1).alias("sa"),
        (F.coalesce("c_b", F.lit(0)) + 1).alias("sb"),
    )
    p = F.col("sa") / (F.col("n_a") + bins)
    q2 = F.col("sb") / (F.col("n_b") + bins)
    term = (p - q2) * F.log(p / q2)
    return (
        full.groupBy("event_type")
        .agg(
            F.first("n_a").alias("n_first"),
            F.first("n_b").alias("n_second"),
            F.sum(term).alias("_psi"),
        )
        .select(
            "event_type",
            "n_first",
            "n_second",
            _q(F.col("_psi"), 10**6).alias("psi"),
        )
        .orderBy("event_type")
    )


@register(
    "q_psi",
    f"""
    WITH base AS (
      SELECT event_type,
             CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS fh,
             {_CENTS} AS c
      FROM events
    ), rng AS (
      SELECT event_type, min(c) AS mn, max(c) AS mx,
             CAST(sum(fh) AS BIGINT) AS n_a,
             CAST(count(*) - sum(fh) AS BIGINT) AS n_b
      FROM base GROUP BY event_type
    ), binned AS (
      SELECT base.event_type, fh,
             least({PSI_BINS - 1}, ((c - mn) * {PSI_BINS}) // (mx - mn + 1))
               AS b
      FROM base JOIN rng ON base.event_type = rng.event_type
    ), counts AS (
      SELECT event_type, b, CAST(sum(fh) AS BIGINT) AS c_a,
             CAST(count(*) - sum(fh) AS BIGINT) AS c_b
      FROM binned GROUP BY event_type, b
    ), grid AS (
      SELECT rng.event_type, n_a, n_b, r.range AS b
      FROM rng, range({PSI_BINS}) r
    ), filled AS (
      SELECT grid.event_type, n_a, n_b,
             coalesce(c_a, 0) + 1 AS sa, coalesce(c_b, 0) + 1 AS sb
      FROM grid LEFT JOIN counts
        ON grid.event_type = counts.event_type AND grid.b = counts.b
    )
    SELECT event_type, CAST(min(n_a) AS BIGINT) AS n_first,
           CAST(min(n_b) AS BIGINT) AS n_second,
           floor(sum((sa / CAST(n_a + {PSI_BINS} AS DOUBLE)
                      - sb / CAST(n_b + {PSI_BINS} AS DOUBLE))
                     * ln((sa / CAST(n_a + {PSI_BINS} AS DOUBLE))
                          / (sb / CAST(n_b + {PSI_BINS} AS DOUBLE))))
                 * 1000000 + 0.5) / 1000000 AS psi
    FROM filled GROUP BY event_type ORDER BY event_type
    """,
    doc=f"Population Stability Index per type, first vs second "
    f"half-month, {PSI_BINS} equal-width integer-cent bins from the "
    "per-type min/max, Laplace-smoothed; exact integer binning and "
    "counts, ln only in the final per-bin chain (0.1/0.25 drift "
    "thresholds)",
)
def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return psi(load(spark, sf_dir, "events"))


# ----------------------------------------------------- mutual information


def mutual_info(events: DataFrame, bins: int = MI_BINS) -> DataFrame:
    """MI + marginal entropies + NMI between event_type and the
    global equal-width value bin; exact integer contingency counts."""
    base = events.select("event_type", cents().alias("c"))
    rng = base.agg(
        F.min("c").alias("mn"),
        F.max("c").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = base.crossJoin(F.broadcast(rng)).select(
        "event_type",
        "n",
        F.least(
            F.lit(bins - 1),
            F.expr(f"((c - mn) * {bins}) div (mx - mn + 1)"),
        ).alias("b"),
    )
    cells = binned.groupBy("event_type", "b").agg(
        F.count(F.lit(1)).alias("nxy"), F.first("n").alias("n")
    )
    nx = cells.groupBy("event_type").agg(F.sum("nxy").alias("nx"))
    ny = cells.groupBy("b").agg(F.sum("nxy").alias("ny"))
    joined = cells.join(F.broadcast(nx), "event_type").join(
        F.broadcast(ny), "b"
    )
    mi_term = (F.col("nxy") / F.col("n")) * F.log(
        F.col("nxy") * F.col("n") / (F.col("nx") * F.col("ny"))
    )
    mi = joined.agg(
        F.first("n").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(mi_term).alias("_mi"),
    )
    hx = nx.crossJoin(F.broadcast(rng.select("n"))).agg(
        (-F.sum((F.col("nx") / F.col("n")) * F.log(F.col("nx") / F.col("n"))))
        .alias("_hx")
    )
    hy = ny.crossJoin(F.broadcast(rng.select("n"))).agg(
        (-F.sum((F.col("ny") / F.col("n")) * F.log(F.col("ny") / F.col("n"))))
        .alias("_hy")
    )
    out = mi.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    return out.select(
        "n",
        "n_cells",
        _q(F.col("_mi"), 10**6).alias("mi"),
        _q(F.col("_hx"), 10**6).alias("h_type"),
        _q(F.col("_hy"), 10**6).alias("h_bin"),
        _q(
            F.col("_mi") / F.sqrt(F.col("_hx") * F.col("_hy")), 10**6
        ).alias("nmi"),
    )


@register(
    "q_mutual_info",
    f"""
    WITH base AS (SELECT event_type, {_CENTS} AS c FROM events),
    rng AS (
      SELECT min(c) AS mn, max(c) AS mx, CAST(count(*) AS BIGINT) AS n
      FROM base
    ), binned AS (
      SELECT event_type, n,
             least({MI_BINS - 1}, ((c - mn) * {MI_BINS}) // (mx - mn + 1))
               AS b
      FROM base, rng
    ), cells AS (
      SELECT event_type, b, CAST(count(*) AS BIGINT) AS nxy, min(n) AS n
      FROM binned GROUP BY event_type, b
    ), nx AS (
      SELECT event_type, CAST(sum(nxy) AS BIGINT) AS nx FROM cells
      GROUP BY event_type
    ), ny AS (
      SELECT b, CAST(sum(nxy) AS BIGINT) AS ny FROM cells GROUP BY b
    ), mi AS (
      SELECT min(cells.n) AS n, CAST(count(*) AS BIGINT) AS n_cells,
             sum((nxy / CAST(cells.n AS DOUBLE))
                 * ln(nxy * CAST(cells.n AS DOUBLE)
                      / (nx.nx * CAST(ny.ny AS DOUBLE)))) AS _mi
      FROM cells JOIN nx ON cells.event_type = nx.event_type
                 JOIN ny ON cells.b = ny.b
    ), hx AS (
      SELECT -sum((nx / CAST(n AS DOUBLE)) * ln(nx / CAST(n AS DOUBLE)))
               AS _hx
      FROM nx, rng
    ), hy AS (
      SELECT -sum((ny / CAST(n AS DOUBLE)) * ln(ny / CAST(n AS DOUBLE)))
               AS _hy
      FROM ny, rng
    )
    SELECT n, n_cells,
           floor(_mi * 1000000 + 0.5) / 1000000 AS mi,
           floor(_hx * 1000000 + 0.5) / 1000000 AS h_type,
           floor(_hy * 1000000 + 0.5) / 1000000 AS h_bin,
           floor(_mi / sqrt(_hx * _hy) * 1000000 + 0.5) / 1000000 AS nmi
    FROM mi, hx, hy
    """,
    doc=f"Mutual information / entropies / NMI between event_type and "
    f"the {MI_BINS}-bin global value quantization — the leaky "
    "feature-label dependence screen; exact integer contingency "
    "counts, ln in the final per-cell chain only",
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mutual_info(load(spark, sf_dir, "events"))


# ------------------------------------------------- Brier / reliability


def _brier_scored(docs: DataFrame) -> DataFrame:
    """(p, y) per doc: common-token-ratio probability vs lang='en'.

    One hash-keyed exchange total for the token stream. The stream is
    repartitioned by the token hash ONCE; the per-(doc, h) occurrence
    counts, the doc-frequency table derived from them (rows per h =
    distinct docs containing h, each doc appearing once per (doc_id,
    lang)), and the dd ⋈ dfreq join-back all inherit that partitioning,
    so Catalyst plans them over the one reused exchange. The round-10
    shape instead shuffled the raw occurrence stream into the
    countDistinct (two exchanges by itself), again into the join, and
    again into the per-doc fold — four stream-sized exchanges. The
    per-doc fold now crosses with per-(doc, h) partial rows only.
    Identical integers: n_tok = Σc, n_common = Σc over common-h rows.
    """
    tok = (
        ensure_parallelism(docs)
        .select(
            "doc_id",
            "lang",
            F.explode(F.split("text", " ")).alias("t"),
        )
        .select("doc_id", "lang", F.xxhash64("t").alias("h"))
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dd = (
        tok.repartition(F.col("h"))
        .groupBy("doc_id", "lang", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dfreq = dd.groupBy("h").agg(F.count(F.lit(1)).alias("dfq"))
    return (
        dd.join(dfreq, "h")
        .crossJoin(F.broadcast(nd))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(
                F.when(
                    F.col("dfq") * DF_DEN >= F.col("n_docs") * DF_NUM,
                    F.col("c"),
                ).otherwise(F.lit(0))
            ).alias("n_common"),
            F.sum("c").alias("n_tok"),
        )
        .select(
            (F.col("n_common") / F.col("n_tok")).alias("p"),
            (F.col("lang") == "en").cast("int").alias("y"),
        )
    )


def brier_reliability(docs: DataFrame) -> DataFrame:
    """Reliability diagram + Brier score for the common-token-ratio
    probability p (token doc-freq ≥ DF_NUM/DF_DEN of the corpus)
    against y = (lang = 'en')."""
    scored = _brier_scored(docs)
    overall = scored.agg(
        F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias(
            "_brier"
        )
    )
    b = F.least(F.lit(BRIER_BINS - 1), F.floor(F.col("p") * BRIER_BINS))
    return (
        scored.groupBy(b.cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("p").alias("_mp"),
            F.avg(F.col("y").cast("double")).alias("_fp"),
        )
        .crossJoin(F.broadcast(overall))
        .select(
            "bin",
            "n",
            _q(F.col("_mp"), 10**6).alias("mean_p"),
            _q(F.col("_fp"), 10**6).alias("frac_pos"),
            _q(F.col("_brier"), 10**6).alias("brier"),
        )
        .orderBy("bin")
    )


@register(
    "q_brier",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
      FROM documents
    ), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    dfreq AS (
      SELECT t, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfq FROM tok
      GROUP BY t
    ), scored AS (
      SELECT tok.doc_id,
             sum(CASE WHEN dfq * {DF_DEN} >= n_docs * {DF_NUM}
                      THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE) AS p,
             CASE WHEN min(lang) = 'en' THEN 1 ELSE 0 END AS y
      FROM tok JOIN dfreq ON tok.t = dfreq.t, nd
      GROUP BY tok.doc_id
    ), overall AS (SELECT avg((p - y) * (p - y)) AS _brier FROM scored)
    SELECT CAST(least({BRIER_BINS - 1}, floor(p * {BRIER_BINS})) AS BIGINT)
             AS bin,
           CAST(count(*) AS BIGINT) AS n,
           floor(avg(p) * 1000000 + 0.5) / 1000000 AS mean_p,
           floor(avg(CAST(y AS DOUBLE)) * 1000000 + 0.5) / 1000000
             AS frac_pos,
           floor(min(_brier) * 1000000 + 0.5) / 1000000 AS brier
    FROM scored, overall
    GROUP BY 1 ORDER BY bin
    """,
    doc="Brier score + reliability diagram for the common-token-ratio "
    f"probability (doc-freq ≥ 78 % of corpus) vs "
    "lang='en' — the calibration harness a quality classifier plugs "
    "into; token shuffles on 8-byte xxhash64 keys",
)
def q_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brier_reliability(load(spark, sf_dir, "documents"))


# -------------------------------------------------------------- Zipf fit


def zipf_fit(docs: DataFrame, k: int = ZIPF_K) -> DataFrame:
    """OLS of ln(freq) on ln(rank) over the top-k unigrams; ties break
    on the token string so the rank — and hence the fit — is total."""
    cnt = (
        ensure_parallelism(docs)
        .select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("t"))
        .limit(k)
    )
    # bounded single partition: ≤ k rows by construction
    w = Window.orderBy(F.col("cnt").desc(), F.col("t"))
    xy = cnt.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    # nullif guards: dx = 0 when a single token survives, dy = 0 when
    # every count is equal (constant y) — both make the fit undefined
    dx = F.nullif(
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    dy = F.nullif(
        F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"), F.lit(0.0)
    )
    return s.select(
        F.col("m").alias("n_tokens"),
        _q(num / dx, 10**6).alias("slope"),
        _q(
            (F.col("sy") - (num / dx) * F.col("sx")) / F.col("m"), 10**6
        ).alias("intercept"),
        _q(num * num / (dx * dy), 10**6).alias("r2"),
    )


@register(
    "q_zipf_fit",
    f"""
    WITH cnt AS (
      SELECT t, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      GROUP BY t ORDER BY cnt DESC, t LIMIT {ZIPF_K}
    ), xy AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, t) AS DOUBLE))
               AS x,
             ln(CAST(cnt AS DOUBLE)) AS y
      FROM cnt
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS m, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM xy
    )
    SELECT m AS n_tokens,
           floor((m * sxy - sx * sy) / nullif(m * sxx - sx * sx, 0)
                 * 1000000 + 0.5) / 1000000 AS slope,
           floor((sy - (m * sxy - sx * sy) / nullif(m * sxx - sx * sx, 0)
                  * sx) / m
                 * 1000000 + 0.5) / 1000000 AS intercept,
           floor((m * sxy - sx * sy) * (m * sxy - sx * sy)
                 / nullif((m * sxx - sx * sx) * (m * syy - sy * sy), 0)
                 * 1000000 + 0.5) / 1000000 AS r2
    FROM s
    """,
    doc=f"Zipf fit: OLS of ln(freq) on ln(rank) over the top-{ZIPF_K} "
    "unigrams (slope ≈ −1 on natural text; deviations flag synthetic "
    "or corrupted corpora). Top-K via TakeOrdered — per-partition "
    "partial top-k, no full sort; rank window is ≤K rows by "
    "construction",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zipf_fit(load(spark, sf_dir, "documents"))


# -------------------------------------------------------- token entropy


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-source unigram Shannon entropy (nats) + perplexity exp(H):
    the mixture-design diversity floor."""
    cnt = (
        ensure_parallelism(docs)
        .select("source", F.explode(F.split("text", " ")).alias("t"))
        .select("source", F.xxhash64("t").alias("h"))
        .groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("source").agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("vocab")
    )
    h = (
        cnt.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.first("vocab").alias("vocab"),
            (
                -F.sum(
                    (F.col("c") / F.col("n_tokens"))
                    * F.log(F.col("c") / F.col("n_tokens"))
                )
            ).alias("_h"),
        )
    )
    return h.select(
        "source",
        "n_tokens",
        "vocab",
        _q(F.col("_h"), 10**6).alias("entropy"),
        _q(F.exp(F.col("_h")), 10**4).alias("perplexity"),
    ).orderBy("source")


@register(
    "q_token_entropy",
    """
    WITH cnt AS (
      SELECT source, t, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents)
      GROUP BY source, t
    ), tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab
      FROM cnt GROUP BY source
    )
    SELECT cnt.source, min(n_tokens) AS n_tokens, min(vocab) AS vocab,
           floor(-sum((c / CAST(n_tokens AS DOUBLE))
                      * ln(c / CAST(n_tokens AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000 AS entropy,
           floor(exp(-sum((c / CAST(n_tokens AS DOUBLE))
                          * ln(c / CAST(n_tokens AS DOUBLE))))
                 * 10000 + 0.5) / 10000 AS perplexity
    FROM cnt JOIN tot ON cnt.source = tot.source
    GROUP BY cnt.source ORDER BY cnt.source
    """,
    doc="Per-source unigram Shannon entropy (nats) + perplexity exp(H) "
    "— the template-heavy-source detector used when down-weighting a "
    "mixture; token shuffles on 8-byte xxhash64 keys, vocab-sized "
    "aggregates only",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_entropy(load(spark, sf_dir, "documents"))


# --------------------------------------------- expected calibration error


def ece(docs: DataFrame, bins: int = BRIER_BINS) -> DataFrame:
    """Expected + maximum calibration error over the reliability bins:
    ECE = Σ_b (n_b/n)·|acc_b − conf_b| — the one-number companion to
    q_brier's diagram (same (p, y) construction)."""
    scored = _brier_scored(docs)
    b = F.least(F.lit(bins - 1), F.floor(F.col("p") * bins))
    per = scored.groupBy(b.cast("long").alias("bin")).agg(
        F.count(F.lit(1)).alias("nb"),
        F.avg("p").alias("conf"),
        F.avg(F.col("y").cast("double")).alias("acc"),
    )
    gap = F.abs(F.col("acc") - F.col("conf"))
    return per.agg(
        F.sum("nb").alias("n"),
        F.count(F.lit(1)).alias("n_bins"),
        _q(
            F.sum(F.col("nb") * gap) / F.sum("nb"), 10**6
        ).alias("ece"),
        _q(F.max(gap), 10**6).alias("mce"),
    )


@register(
    "q_ece",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
      FROM documents
    ), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    dfreq AS (
      SELECT t, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfq FROM tok
      GROUP BY t
    ), scored AS (
      SELECT tok.doc_id,
             sum(CASE WHEN dfq * {DF_DEN} >= n_docs * {DF_NUM}
                      THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE) AS p,
             CASE WHEN min(lang) = 'en' THEN 1 ELSE 0 END AS y
      FROM tok JOIN dfreq ON tok.t = dfreq.t, nd
      GROUP BY tok.doc_id
    ), per AS (
      SELECT CAST(least({BRIER_BINS - 1}, floor(p * {BRIER_BINS}))
                  AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS nb,
             avg(p) AS conf, avg(CAST(y AS DOUBLE)) AS acc
      FROM scored GROUP BY 1
    )
    SELECT CAST(sum(nb) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_bins,
           floor(sum(nb * abs(acc - conf)) / sum(nb) * 1000000 + 0.5)
             / 1000000 AS ece,
           floor(max(abs(acc - conf)) * 1000000 + 0.5) / 1000000 AS mce
    FROM per
    """,
    doc="Expected + maximum calibration error over the q_brier "
    "reliability bins (ECE = weighted |accuracy - confidence| gap) — "
    "the one-number calibration summary",
)
def q_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ece(load(spark, sf_dir, "documents"))


# --------------------------------------------- DSIR importance weights

LLR_SCALE = 10**9  # per-gram fixed-point (the q_cramers_v term contract)


def dsir_weights(docs: DataFrame, target_lang: str = "en") -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023)
    scores per source: the hashed-unigram log-likelihood ratio between
    the TARGET distribution (lang = target_lang docs) and the RAW
    corpus distribution, Laplace-smoothed over the shared vocabulary.

    Per-gram ln(p_t/p_r) is fixed to 1e-9 BIGINTs once (vocab-sized
    table), so every per-doc score is an exact integer sum — order-free
    on any engine; ln enters only in that vocab-sized table. Output per
    source: doc count, mean LLR, share of target-like (LLR > 0) docs —
    the mixture-reweighting signal DSIR thresholds on.
    """
    tok = (
        ensure_parallelism(docs)
        .select(
            "doc_id",
            "lang",
            "source",
            F.explode(F.split("text", " ")).alias("t"),
        )
        .select(
            "doc_id", "lang", "source", F.xxhash64("t").alias("h")
        )
    )
    # One hash-keyed exchange for the token stream (the _brier_scored
    # pattern): per-(doc, h) occurrence counts inherit the h
    # partitioning, so the raw/target frequency tables, their join and
    # the dd ⋈ lam scoring join-back all reuse the one exchange; only
    # per-doc partials cross the final (doc_id, source) exchange. The
    # round-10 shape shuffled the occurrence stream into the scoring
    # join and again into the per-doc fold. Identical integers: counts
    # are Σc, per-doc scores Σ llr_q·c.
    dd = (
        tok.repartition(F.col("h"))
        .groupBy("doc_id", "lang", "source", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    raw = dd.groupBy("h").agg(F.sum("c").alias("cr"))
    tgt = (
        dd.filter(F.col("lang") == target_lang)
        .groupBy("h")
        .agg(F.sum("c").alias("ct"))
    )
    tots = raw.join(tgt, "h", "left").agg(
        F.sum("cr").alias("nr"),
        F.sum(F.coalesce("ct", F.lit(0))).alias("nt"),
        F.count(F.lit(1)).alias("v"),
    )
    lam = (
        raw.join(tgt, "h", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "h",
            F.floor(
                (
                    F.log(
                        (F.coalesce("ct", F.lit(0)) + 1)
                        / (F.col("nt") + F.col("v")).cast("double")
                    )
                    - F.log(
                        (F.col("cr") + 1)
                        / (F.col("nr") + F.col("v")).cast("double")
                    )
                )
                * LLR_SCALE
            ).cast("long").alias("llr_q"),
        )
    )
    scored = (
        dd.join(lam, "h")
        .groupBy("doc_id", "source")
        .agg(F.sum(F.col("llr_q") * F.col("c")).alias("score_q"))
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            _q(
                F.avg(F.col("score_q") / float(LLR_SCALE)), 10**6
            ).alias("mean_llr"),
            _q(
                F.avg((F.col("score_q") > 0).cast("double")), 10**6
            ).alias("frac_target_like"),
        )
        .orderBy("source")
    )


@register(
    "q_dsir_weights",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS t
      FROM documents
    ), raw AS (
      SELECT t, CAST(count(*) AS BIGINT) AS cr FROM tok GROUP BY t
    ), tgt AS (
      SELECT t, CAST(count(*) AS BIGINT) AS ct FROM tok
      WHERE lang = 'en' GROUP BY t
    ), tots AS (
      SELECT CAST(sum(cr) AS BIGINT) AS nr,
             CAST(sum(coalesce(ct, 0)) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS v
      FROM raw LEFT JOIN tgt ON raw.t = tgt.t
    ), lam AS (
      SELECT raw.t,
             CAST(floor((ln((coalesce(ct, 0) + 1)
                            / CAST(nt + v AS DOUBLE))
                         - ln((cr + 1) / CAST(nr + v AS DOUBLE)))
                        * {LLR_SCALE}) AS BIGINT) AS llr_q
      FROM raw LEFT JOIN tgt ON raw.t = tgt.t, tots
    ), scored AS (
      SELECT tok.doc_id, tok.source,
             CAST(sum(llr_q) AS BIGINT) AS score_q
      FROM tok JOIN lam ON tok.t = lam.t
      GROUP BY tok.doc_id, tok.source
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           floor(avg(score_q / {float(LLR_SCALE)!r}) * 1000000 + 0.5)
             / 1000000 AS mean_llr,
           floor(avg(CASE WHEN score_q > 0 THEN 1.0 ELSE 0.0 END)
                 * 1000000 + 0.5) / 1000000 AS frac_target_like
    FROM scored GROUP BY source ORDER BY source
    """,
    doc="DSIR importance scores per source (Xie et al. 2023): hashed-"
    "unigram log-likelihood ratio between the lang='en' target and "
    "the raw corpus, Laplace-smoothed; per-gram ln fixed to 1e-9 "
    "BIGINTs (vocab-sized, the q_cramers_v contract) so doc scores "
    "are exact integer sums; mean LLR + target-like share",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_weights(load(spark, sf_dir, "documents"))


# ----------------------------------------------------------- BPE step

BPE_TOP = 10


def bpe_step(docs: DataFrame, top: int = BPE_TOP) -> DataFrame:
    """One BPE merge-step candidate table: the top adjacent character
    pairs (within words, occurrence-weighted) across the corpus — the
    primitive a tokenizer-induction pipeline iterates at scale. Exact
    integer counts; ties break on the pair string so the merge choice
    is total; top-k via TakeOrdered (partial per partition)."""
    pairs = (
        ensure_parallelism(docs)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> substring(w, i, 2))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(top)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("pair"))
    return pairs.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "pair",
        "cnt",
    )


@register(
    "q_bpe_step",
    f"""
    WITH pairs AS (
      SELECT unnest(list_transform(range(len(w) - 1),
                    i -> substring(w, i + 1, 2))) AS pair
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) >= 2
    ), cnt AS (
      SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM pairs
      GROUP BY pair ORDER BY cnt DESC, pair LIMIT {BPE_TOP}
    )
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT)
             AS rank,
           pair, cnt
    FROM cnt
    """,
    doc=f"BPE merge-step candidates: top-{BPE_TOP} adjacent character "
    "pairs within words (occurrence-weighted, lexicographic "
    "tie-break) — the tokenizer-induction primitive; exact counts, "
    "TakeOrdered top-k, bounded rank window",
)
def q_bpe_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_step(load(spark, sf_dir, "documents"))


# -------------------------------------------------------- CCNet buckets

CCNET_SCALE = 1_000_000_000


def ccnet_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style head/middle/tail buckets per language (Wenzek et
    al. 2020): docs ranked inside each language by their bigram-LM
    mean conditional probability (the q_bigram_lm integer-exact
    score; HIGH = head) and cut into tertiles by exact rank. Output
    per (lang, bucket): doc count, mean chars, mean LM score. Docs
    without a bigram (single-token) are excluded, as in CCNet's
    LM-scored subset."""
    tk = F.split(F.col("text"), " ")
    toks = ensure_parallelism(docs).select(
        "doc_id", "lang", "n_chars", tk.alias("tk")
    )
    bigrams = toks.filter(F.size("tk") >= 2).select(
        "doc_id",
        "lang",
        "n_chars",
        F.explode(
            F.expr(
                "transform(slice(tk, 1, size(tk) - 1), (x, i) -> "
                "struct(x AS w1, tk[i + 1] AS w2))"
            )
        ).alias("bg"),
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        F.xxhash64("bg.w1", "bg.w2").alias("h2"),
        F.xxhash64("bg.w1").alias("h1"),
    )
    c2 = bigrams.groupBy("h2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bigrams.groupBy("h1").agg(F.count(F.lit(1)).alias("c1"))
    scored = (
        bigrams.join(c2, "h2")
        .join(c1, "h1")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.expr(f"(c2 * CAST({CCNET_SCALE} AS BIGINT)) div c1").alias(
                "_p"
            ),
        )
        .groupBy("doc_id", "lang", "n_chars")
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum("_p").alias("sp"),
        )
        # IEEE division of identical exact integers is exactly rounded:
        # the double is bit-identical on both engines, so the rank is
        # deterministic (doc_id breaks exact ties)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            (
                F.col("sp")
                / (F.col("nb").cast("double") * CCNET_SCALE)
            ).alias("score"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), "doc_id"
    )
    wl = Window.partitionBy("lang")
    ranked = scored.withColumn("rn", F.row_number().over(w)).withColumn(
        "nl", F.count(F.lit(1)).over(wl)
    )
    bucket = F.expr("((rn - 1) * 3) div nl")
    named = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        (bucket + 1).cast("int"),
    )
    return (
        ranked.groupBy("lang", named.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            _q(F.avg("n_chars"), 100).alias("mean_chars"),
            _q(F.avg("score"), 10**6).alias("mean_score"),
        )
        .orderBy("lang", "bucket")
    )


@register(
    "q_ccnet_buckets",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, n_chars, string_split(text, ' ') AS tk
      FROM documents
    ), bg AS (
      SELECT doc_id, lang, n_chars,
             unnest(list_transform(range(len(tk) - 1),
                    i -> struct_pack(w1 := tk[i + 1], w2 := tk[i + 2])))
               AS s
      FROM toks WHERE len(tk) >= 2
    ), b AS (
      SELECT doc_id, lang, n_chars, s.w1 AS w1, s.w2 AS w2 FROM bg
    ), c2 AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM b
      GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM b GROUP BY w1
    ), scored AS (
      SELECT b.doc_id, b.lang, b.n_chars,
             CAST(sum((c2.c2 * CAST({CCNET_SCALE} AS BIGINT)) // c1.c1)
                  AS BIGINT) AS sp,
             CAST(count(*) AS BIGINT) AS nb
      FROM b JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
             JOIN c1 ON b.w1 = c1.w1
      GROUP BY b.doc_id, b.lang, b.n_chars
    ), ranked AS (
      SELECT doc_id, lang, n_chars,
             sp / (CAST(nb AS DOUBLE) * {CCNET_SCALE}) AS score,
             row_number() OVER (PARTITION BY lang
                 ORDER BY sp / (CAST(nb AS DOUBLE) * {CCNET_SCALE}) DESC,
                          doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS nl
      FROM scored
    )
    SELECT lang,
           ['head', 'middle', 'tail'][CAST(((rn - 1) * 3) // nl AS INT)
                                      + 1] AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor(avg(n_chars) * 100 + 0.5) / 100 AS mean_chars,
           floor(avg(score) * 1000000 + 0.5) / 1000000 AS mean_score
    FROM ranked GROUP BY 1, 2 ORDER BY lang, bucket
    """,
    doc="CCNet head/middle/tail buckets per language (Wenzek et al. "
    "2020): docs ranked by the integer-exact bigram-LM mean "
    "conditional probability (q_bigram_lm contract; division of "
    "identical exact integers is IEEE-exact, so ranks agree "
    "bit-for-bit), tertile cut by exact rank; per-bucket volume and "
    "score summary",
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ccnet_buckets(load(spark, sf_dir, "documents"))
