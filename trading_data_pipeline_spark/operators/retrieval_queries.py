"""Hybrid retrieval: lexical + vector rank fusion (round-6 batch 5).

The modern retrieval stack queries BOTH a lexical index and a vector
index and fuses the two rankings — this module implements the standard
Reciprocal Rank Fusion (Cormack et al., SIGIR 2009) over the
``documents`` ⋈ ``embeddings`` hybrid corpus (doc_id ≡ vec_id in the
testdata):

- **q_hybrid_rrf**: for one query document, rank candidates by (a)
  distinct-token overlap with the query text and (b) embedding cosine,
  truncate each list to a fixed pool, and fuse with
  ``score = 1/(K+r_text) + 1/(K+r_vec)`` (K = 60, the published
  default; candidates missing from a pool take rank pool+1 — truncated-
  list RRF exactly as production fusion layers run it).

Determinism/exactness: overlap is an integer; cosine is the repo's
bit-identical JVM fold rounded to 4dp BEFORE ranking (the q_knn_eval
discipline); both ranks tie-break on doc_id; the fused score is two
exact-operand divisions + one add, quantized 1e-9.

Scale: each arm is a TakeOrderedAndProject (per-partition heap, driver
merge — no global sort, no full-corpus window); the only windows run
over the two ≤RRF_POOL-row truncated lists, bounded by the constant
pool size rather than the data. The corpus-side cosine/overlap scans
are narrow maps against literal (broadcast-by-value) query structures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..functions.vector import cosine_similarity
from ..registry import load, register
from .similarity import panel_topk_exact

QUERY_DOC = 0
RRF_K = 60
RRF_POOL = 50
RRF_TOP = 10
RRF_SCALE = 10**9


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    query_doc: int = QUERY_DOC,
    pool: int = RRF_POOL,
    top: int = RRF_TOP,
) -> DataFrame:
    """Truncated-list RRF fusion of token-overlap and cosine rankings
    for one query document. Returns (doc_id, r_text, r_vec, rrf)."""
    qrow = (
        docs.filter(F.col("doc_id") == query_doc)
        .join(emb, docs["doc_id"] == emb["vec_id"])
        .select("text", "embedding")
        .collect()[0]
    )
    q_toks = sorted(set(qrow.text.split(" ")))
    q_vec = [float(x) for x in qrow.embedding]

    cand = (
        docs.filter(F.col("doc_id") != query_doc)
        .join(emb, docs["doc_id"] == emb["vec_id"])
        .select(
            "doc_id",
            F.size(
                F.array_intersect(
                    F.array_distinct(F.split("text", " ")),
                    F.lit([str(t) for t in q_toks]),
                )
            ).alias("overlap"),
            F.round(
                cosine_similarity(
                    F.col("embedding").cast("array<double>"),
                    F.lit(q_vec),
                ),
                4,
            ).alias("cos"),
        )
    )
    # each arm: top-`pool` via orderBy+limit (TakeOrderedAndProject);
    # the rank window then runs over ≤pool rows — constant-bounded
    top_t = cand.orderBy(F.desc("overlap"), F.asc("doc_id")).limit(pool)
    top_v = cand.orderBy(F.desc("cos"), F.asc("doc_id")).limit(pool)
    wt = Window.orderBy(F.desc("overlap"), F.asc("doc_id"))
    wv = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    rt = top_t.select("doc_id", F.row_number().over(wt).alias("r_text"))
    rv = top_v.select("doc_id", F.row_number().over(wv).alias("r_vec"))
    fused = rt.join(rv, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("r_text", F.lit(pool + 1)).alias("r_text"),
        F.coalesce("r_vec", F.lit(pool + 1)).alias("r_vec"),
    )
    score = (
        1.0 / (F.lit(RRF_K) + F.col("r_text"))
        + 1.0 / (F.lit(RRF_K) + F.col("r_vec"))
    )
    return (
        fused.select(
            "doc_id",
            "r_text",
            "r_vec",
            (F.floor(score * RRF_SCALE + F.lit(0.5)) / RRF_SCALE).alias(
                "rrf"
            ),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(top)
    )


@register(
    "q_hybrid_rrf",
    f"""
    WITH q AS (
      SELECT d.text AS qtext, e.embedding::DOUBLE[] AS qvec
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      WHERE d.doc_id = {QUERY_DOC}
    ), cand AS (
      SELECT d.doc_id,
             len(list_intersect(
                   list_distinct(string_split(d.text, ' ')),
                   list_distinct(string_split(q.qtext, ' ')))) AS overlap,
             round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec),
                   4) AS cos
      FROM documents d
      JOIN embeddings e ON d.doc_id = e.vec_id, q
      WHERE d.doc_id <> {QUERY_DOC}
    ), rt AS (
      SELECT doc_id, row_number() OVER (ORDER BY overlap DESC, doc_id)
               AS r_text
      FROM cand QUALIFY r_text <= {RRF_POOL}
    ), rv AS (
      SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id)
               AS r_vec
      FROM cand QUALIFY r_vec <= {RRF_POOL}
    ), fused AS (
      SELECT coalesce(rt.doc_id, rv.doc_id) AS doc_id,
             coalesce(r_text, {RRF_POOL + 1}) AS r_text,
             coalesce(r_vec, {RRF_POOL + 1}) AS r_vec
      FROM rt FULL OUTER JOIN rv ON rt.doc_id = rv.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(r_text AS BIGINT) AS r_text,
           CAST(r_vec AS BIGINT) AS r_vec,
           floor((1.0 / ({RRF_K} + r_text) + 1.0 / ({RRF_K} + r_vec))
                 * {RRF_SCALE} + 0.5) / {RRF_SCALE} AS rrf
    FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT {RRF_TOP}
    """,
    doc="Hybrid retrieval via truncated-list Reciprocal Rank Fusion "
    "(SIGIR'09, K=60): token-overlap rank × embedding-cosine rank over "
    "the documents⋈embeddings corpus, each arm a TakeOrderedAndProject "
    "pool of 50 (rank windows bounded by the constant pool, never the "
    "corpus), missing-from-pool rank = pool+1. Integer ranks, 4dp "
    "bit-identical cosine, 1e-9-quantized fused score",
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hybrid_rrf(
        load(spark, sf_dir, "documents"), load(spark, sf_dir, "embeddings")
    )


# ----------------------------------------------------------- BM25 (lexical)

# Rational BM25: the Robertson tf-saturation term with k1 = 6/5 and
# b = 3/4, paired with the RAW (log-free) RSJ idf (N - df + ½)/(df + ½).
# Dropping the log keeps every cross-row quantity an exact integer ratio
# (the q_bigram_lm discipline: ln() is the one libm call whose last-ulp
# rounding can differ between DuckDB and the JVM; integer division
# cannot), at the cost of weighting rare terms more steeply than classic
# BM25 — a documented, monotone-per-term member of the BM25 family.
#
# With avgdl = T/N (T = corpus token count) the per-term score
#     idf_r · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
# multiplies out to the single integer ratio
#     44·T·tf·(2N − 2df + 1)  /  (20·T·tf + 6·T + 18·dl·N)·(2df + 1)
# fixed to 1e-5 by INTEGER division per term, so the per-doc sum is
# order-free. BIGINT-safe while 44·T·tf·2N·SCALE < 2^63 (≈ sf 1 for this
# corpus); past that the numerator needs DECIMAL(38,0) — the formula is
# unchanged.
BM25_QUERY = ("spark", "join", "window", "vector", "shuffle")
BM25_TOP = 15
BM25_SCALE = 100_000


def bm25_topk(
    docs: DataFrame,
    query_tokens: tuple[str, ...] = BM25_QUERY,
    top: int = BM25_TOP,
) -> DataFrame:
    """Top-k documents for a fixed token query under rational BM25.

    One exchange on (doc_id, tok) for tf, a query-bounded df aggregate,
    a 1-row corpus-stats join (broadcast by AQE), and a
    TakeOrderedAndProject top-k — no global sort, no window over the
    corpus."""
    tk = F.split(F.col("text"), " ")
    base = docs.select("doc_id", F.size(tk).alias("dl"), tk.alias("tk"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("t_tokens"),
    )
    hits = (
        base.select("doc_id", "dl", F.explode("tk").alias("tok"))
        .filter(F.col("tok").isin(*query_tokens))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = hits.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # the numerator product exceeds int64 once 44*T*tf*2N*SCALE passes
    # 2^63 (~sf1 for this corpus — predicted in the module note above;
    # the 100x audit confirmed it), so both outer products run in
    # decimal(38,0) / HUGEINT — still EXACT integer arithmetic, good to
    # ~1e13-token corpora; the formula is unchanged
    _dec = "decimal(38,0)"
    num = (
        F.lit(44 * BM25_SCALE).cast(_dec)
        * F.col("t_tokens").cast(_dec)
        * F.col("tf").cast(_dec)
        * (
            F.lit(2) * F.col("n_docs") - F.lit(2) * F.col("df") + F.lit(1)
        ).cast(_dec)
    )
    den = (
        F.lit(20) * F.col("t_tokens") * F.col("tf")
        + F.lit(6) * F.col("t_tokens")
        + F.lit(18) * F.col("dl") * F.col("n_docs")
    ).cast(_dec) * (F.lit(2) * F.col("df") + F.lit(1)).cast(_dec)
    scored = (
        hits.join(dfreq, "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", num.alias("_n"), den.alias("_d"))
        .select("doc_id", F.expr("_n div _d").cast("long").alias("_p"))
    )
    return (
        scored.groupBy("doc_id")
        .agg((F.sum("_p") / BM25_SCALE).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(top)
    )


_BM25_TOKS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY)


@register(
    "q_bm25",
    f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS tk,
             len(string_split(text, ' ')) AS dl
      FROM documents
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS t_tokens
      FROM base
    ), hits AS (
      SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, dl, unnest(tk) AS tok FROM base)
      WHERE tok IN ({_BM25_TOKS_SQL})
      GROUP BY doc_id, dl, tok
    ), dfreq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM hits GROUP BY tok
    ), scored AS (
      SELECT h.doc_id,
             CAST((CAST(44 * {BM25_SCALE} AS HUGEINT) * s.t_tokens
              * h.tf * (2 * s.n_docs - 2 * d.df + 1))
             // (CAST(20 * s.t_tokens * h.tf + 6 * s.t_tokens
                  + 18 * h.dl * s.n_docs AS HUGEINT)
                 * (2 * d.df + 1)) AS BIGINT) AS _p
      FROM hits h JOIN dfreq d USING (tok), stats s
    )
    SELECT doc_id, CAST(sum(_p) AS BIGINT) / {BM25_SCALE}.0 AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOP}
    """,
    doc="Rational BM25 lexical retrieval (k1=1.2, b=0.75, log-free RSJ "
    "idf): the per-term score multiplies out to one exact integer ratio "
    "fixed to 1e-5 by INTEGER division, so the per-doc sum is order-free "
    "and bit-identical across engines — no ln(), no float accumulation. "
    "One (doc, tok) exchange for tf, a query-bounded df aggregate, a "
    "1-row stats cross join, TakeOrderedAndProject top-k",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(load(spark, sf_dir, "documents"))


# ------------------------------------------- retrieval-quality evaluation

# MAP@K / MRR of the cosine arm against same-label relevance — the
# log-free IR metrics (NDCG's log2 discount would cross the libm
# boundary; average precision and reciprocal rank are exact rationals).
EVAL_QMOD = 50   # every 50th vector is a held-out query…
EVAL_MAX_QUERIES = 40  # …from a FIXED id range: panel ids < 50*40
EVAL_K = 10
EVAL_SCALE = 10**9

# The eval panel is vec_id % EVAL_QMOD == 0 AND vec_id < this bound: a
# fixed 40-query panel, not a corpus FRACTION. An uncapped 1/qmod
# sample made the eval's probe work grow quadratically with the corpus
# (queries ∝ n times per-query probe ∝ n — the 100x audit measured
# q_ndcg at 15+ min at sf10); metric precision depends on the NUMBER of
# panel queries, not their corpus share, and a fixed panel keeps the
# metric comparable across scales. Ids below 2000 cover the ENTIRE
# sf0.01/sf0.001 corpora, so driver-scale results are bit-identical to
# the unbounded form. The corpus side keeps excluding ALL mod-qmod ids
# (over-bound ones are simply unused), so rel_counts are unchanged at
# every scale.
EVAL_PANEL_BOUND = EVAL_QMOD * EVAL_MAX_QUERIES


def _ranked_panel(
    emb: DataFrame,
    qmod: int,
    k: int,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The retrieval evals' shared first half: ``(ranked, rel_counts)``.

    ``ranked`` holds each panel query's top-k corpus rows (qid, id, _sim,
    label, qlabel, _r, rel), ranked (cosine DESC, id ASC) — the tie
    discipline ``q_knn_eval`` proved cross-engine-stable — by ONE
    Arrow-batched corpus pass (:func:`panel_topk_exact`: exact cosines,
    bit-identical to the JVM fold; the corpus never shuffles).
    ``rel_counts`` is the relevant-row count R per label over the same
    corpus. A row whose vector is NULL is not an observation: the scorer
    neither asks nor returns it, and R does not count it either.
    """
    queries = emb.filter(
        (F.col(id_col) % qmod == 0)
        & (F.col(id_col) < qmod * EVAL_MAX_QUERIES)
    ).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
        F.col(label_col).alias("qlabel"),
    )
    corpus = emb.filter(
        (F.col(id_col) % qmod != 0) & F.col(vec_col).isNotNull()
    )
    topk = panel_topk_exact(
        corpus,
        queries.select("qid", "qvec"),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        keep_cols=(label_col,),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("_sim"), F.asc(id_col))
    ranked = (
        topk.join(F.broadcast(queries.select("qid", "qlabel")), "qid")
        .withColumn("_r", F.row_number().over(w))
        .withColumn("rel", (F.col(label_col) == F.col("qlabel")).cast("long"))
    )
    rel_counts = corpus.groupBy(F.col(label_col).alias("qlabel")).agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    return ranked, rel_counts


def retrieval_eval(
    emb: DataFrame,
    qmod: int = EVAL_QMOD,
    k: int = EVAL_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-query MAP@k and MRR@k of cosine retrieval, with relevance =
    "candidate shares the query's label".

    Plan: the panel's top-k come from :func:`_ranked_panel` — one
    Arrow-batched corpus pass, no corpus × panel product. Precision@i
    terms fix to integers (``(hits·S) div i``) before the order-free
    per-query sum; the one double division per metric happens on exact
    operands. AP@k normalizes by min(R, k), R = relevant corpus rows.
    """
    ranked, rel_counts = _ranked_panel(emb, qmod, k, id_col, vec_col, label_col)
    wc = (
        Window.partitionBy("qid")
        .orderBy("_r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    terms = ranked.withColumn("hits", F.sum("rel").over(wc)).select(
        "qid",
        "qlabel",
        "_r",
        "rel",
        (
            F.col("rel")
            * F.expr(f"(hits * CAST({EVAL_SCALE} AS BIGINT)) div _r")
        ).alias("_ap_term"),
        F.when(F.col("rel") == 1, F.col("_r")).alias("_hit_rank"),
    )
    per_q = terms.groupBy("qid", "qlabel").agg(
        F.sum("_ap_term").alias("_ap_sum"),
        F.min("_hit_rank").alias("_first_hit"),
        F.sum("rel").alias("n_hits"),
    )
    return (
        per_q.join(F.broadcast(rel_counts), "qlabel", "left")
        .withColumn("n_rel", F.coalesce("n_rel", F.lit(0)))
        .select(
            "qid",
            "n_hits",
            F.least(F.col("n_rel"), F.lit(k)).alias("n_rel_k"),
            # R = 0 means AP is undefined (no relevant doc exists):
            # report 0.0, never a 0/0 (NULL-vs-NaN across engines)
            F.when(
                F.col("n_rel") == 0, F.lit(0.0)
            ).otherwise(
                _q(
                    F.col("_ap_sum")
                    / F.least(F.col("n_rel"), F.lit(k))
                    / EVAL_SCALE,
                    1_000_000,
                )
            ).alias("ap"),
            _q(
                F.coalesce(1.0 / F.col("_first_hit"), F.lit(0.0)), 1_000_000
            ).alias("rr"),
        )
        .orderBy("qid")
    )


@register(
    "q_retrieval_eval",
    f"""
    WITH queries AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec, label AS qlabel
      FROM embeddings
      WHERE vec_id % {EVAL_QMOD} = 0 AND vec_id < {EVAL_PANEL_BOUND}
        AND embedding IS NOT NULL
    ), corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec, label
      FROM embeddings
      WHERE vec_id % {EVAL_QMOD} <> 0 AND embedding IS NOT NULL
    ), ranked AS (
      SELECT q.qid, q.qlabel, c.vec_id, c.label,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY list_cosine_similarity(c.vec, q.qvec)
                          DESC, c.vec_id) AS _r
      FROM corpus c, queries q
      QUALIFY _r <= {EVAL_K}
    ), terms AS (
      SELECT qid, qlabel, _r,
             CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
             CASE WHEN label = qlabel THEN
               (CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                     OVER (PARTITION BY qid ORDER BY _r
                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                * {EVAL_SCALE}) // _r
             ELSE 0 END AS _ap_term,
             CASE WHEN label = qlabel THEN _r END AS _hit_rank
      FROM ranked
    ), rel_counts AS (
      SELECT label AS qlabel, CAST(count(*) AS BIGINT) AS n_rel
      FROM corpus GROUP BY label
    ), per_q AS (
      SELECT qid, qlabel,
             CAST(sum(_ap_term) AS BIGINT) AS _ap_sum,
             min(_hit_rank) AS _first_hit,
             CAST(sum(rel) AS BIGINT) AS n_hits
      FROM terms GROUP BY qid, qlabel
    )
    SELECT p.qid, p.n_hits,
           CAST(least(coalesce(r.n_rel, 0), {EVAL_K}) AS BIGINT) AS n_rel_k,
           CASE WHEN coalesce(r.n_rel, 0) = 0 THEN 0.0
                ELSE floor(p._ap_sum * 1.0 / least(r.n_rel, {EVAL_K})
                           / {EVAL_SCALE} * 1000000 + 0.5) / 1000000
           END AS ap,
           floor(coalesce(1.0 / p._first_hit, 0.0) * 1000000 + 0.5)
             / 1000000 AS rr
    FROM per_q p LEFT JOIN rel_counts r USING (qlabel)
    ORDER BY p.qid
    """,
    doc="Retrieval-quality eval: MAP@10 and MRR@10 of cosine retrieval "
    "against same-label relevance — the log-free IR metrics (AP and RR "
    "are exact rationals; NDCG's log2 discount would cross the libm "
    "boundary). The panel's top-10 come from the EXACT Arrow-batched "
    "panel scorer (panel_topk_exact: one corpus pass, per-dimension "
    "numpy accumulation == the JVM sequential fold, so cosines and ranks "
    "are the JVM's — no corpus×panel product, no per-pair fold); "
    "precision@i fixed to integers before the order-free sum; NULL "
    "embeddings are neither queries nor corpus rows",
)
def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval_eval(load(spark, sf_dir, "embeddings"))


# ----------------------------------------------------------- nDCG@k

# log2 discounts as FIXED-POINT LITERALS: floor(1/log2(i+1) * 1e9)
# computed ONCE in Python and injected into both the Spark plan and the
# DuckDB oracle — the MACD literal-weights discipline. Neither engine
# evaluates a libm log at query time, so the "NDCG crosses the libm
# boundary" limitation in q_retrieval_eval's doc does not apply here:
# every per-position gain is an exact BIGINT, the per-query DCG/IDCG
# sums are order-free integer sums, and the single division happens on
# exact operands.
import math as _math

NDCG_DISC = tuple(
    int(_math.floor(1.0 / _math.log2(i + 1) * 10**9)) for i in range(1, EVAL_K + 1)
)
NDCG_IDEAL = tuple(
    sum(NDCG_DISC[:m]) for m in range(0, EVAL_K + 1)
)  # NDCG_IDEAL[m] = ideal DCG with m relevant docs in the top-k


def ndcg_eval(
    emb: DataFrame,
    qmod: int = EVAL_QMOD,
    k: int = EVAL_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-query nDCG@k of cosine retrieval with binary same-label
    relevance: DCG = Σ rel_i·disc_i over ranks, IDCG = the best
    achievable DCG given min(R, k) relevant docs, nDCG = DCG/IDCG
    (0.0 when R = 0, never a 0/0). Discounts are the injected
    fixed-point literals above — identical BIGINTs on both engines.

    Plan: the same :func:`_ranked_panel` as :func:`retrieval_eval` — one
    Arrow-batched corpus pass, same (cosine desc, id asc) tie discipline.
    """
    ranked, rel_counts = _ranked_panel(emb, qmod, k, id_col, vec_col, label_col)
    disc = F.element_at(
        F.array(*[F.lit(d) for d in NDCG_DISC]), F.col("_r").cast("int")
    )
    per_q = ranked.select(
        "qid", "qlabel", (F.col("rel") * disc).alias("_g")
    ).groupBy("qid", "qlabel").agg(
        F.sum("_g").alias("_dcg"), F.count(F.lit(1)).alias("_nk")
    )
    ideal = F.element_at(
        F.array(*[F.lit(v) for v in NDCG_IDEAL]),
        (F.least(F.col("n_rel"), F.lit(k)) + 1).cast("int"),
    )
    return (
        per_q.join(F.broadcast(rel_counts), "qlabel", "left")
        .withColumn("n_rel", F.coalesce("n_rel", F.lit(0)))
        .select(
            "qid",
            F.least(F.col("n_rel"), F.lit(k)).alias("n_rel_k"),
            F.when(F.col("n_rel") == 0, F.lit(0.0))
            .otherwise(_q(F.col("_dcg") / ideal, 1_000_000))
            .alias("ndcg"),
        )
        .orderBy("qid")
    )


def _ndcg_disc_sql() -> str:
    return "[" + ", ".join(str(d) for d in NDCG_DISC) + "]"


def _ndcg_ideal_sql() -> str:
    return "[" + ", ".join(str(v) for v in NDCG_IDEAL) + "]"


@register(
    "q_ndcg",
    f"""
    WITH queries AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec, label AS qlabel
      FROM embeddings
      WHERE vec_id % {EVAL_QMOD} = 0 AND vec_id < {EVAL_PANEL_BOUND}
        AND embedding IS NOT NULL
    ), corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec, label
      FROM embeddings
      WHERE vec_id % {EVAL_QMOD} <> 0 AND embedding IS NOT NULL
    ), ranked AS (
      SELECT q.qid, q.qlabel, c.label,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY list_cosine_similarity(c.vec, q.qvec)
                          DESC, c.vec_id) AS _r
      FROM corpus c, queries q
      QUALIFY _r <= {EVAL_K}
    ), per_q AS (
      SELECT qid, qlabel,
             CAST(sum(CASE WHEN label = qlabel
                      THEN {_ndcg_disc_sql()}[_r] ELSE 0 END) AS BIGINT)
               AS _dcg
      FROM ranked GROUP BY qid, qlabel
    ), rel_counts AS (
      SELECT label AS qlabel, CAST(count(*) AS BIGINT) AS n_rel
      FROM corpus GROUP BY label
    )
    SELECT p.qid,
           CAST(least(coalesce(r.n_rel, 0), {EVAL_K}) AS BIGINT) AS n_rel_k,
           CASE WHEN coalesce(r.n_rel, 0) = 0 THEN 0.0
                ELSE floor(p._dcg * 1.0
                           / {_ndcg_ideal_sql()}
                             [least(r.n_rel, {EVAL_K}) + 1]
                           * 1000000 + 0.5) / 1000000
           END AS ndcg
    FROM per_q p LEFT JOIN rel_counts r USING (qlabel)
    ORDER BY p.qid
    """,
    doc="nDCG@10 of cosine retrieval against same-label relevance — "
    "the graded-discount IR metric completing MAP/MRR. The log2 "
    "discounts are fixed-point BIGINT literals computed once in Python "
    "and injected into BOTH plans (the MACD literal-weights trick), so "
    "no engine evaluates libm at query time and the per-query sums are "
    "order-free integer sums. The panel's top-10 come from the same "
    "EXACT Arrow-batched panel scorer as q_retrieval_eval "
    "(panel_topk_exact — one corpus pass, cosines bit-identical to the "
    "JVM fold); NULL embeddings are neither queries nor corpus rows",
)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ndcg_eval(load(spark, sf_dir, "embeddings"))
