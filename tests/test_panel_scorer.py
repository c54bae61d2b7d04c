"""panel_topk_exact — the Arrow-batched exact panel scorer (round 10).

The scorer's contract is BIT-IDENTITY with the JVM: the per-dimension
numpy accumulation is the same sequential left fold as
``functions.vector.dot_product``, so every pair's cosine (and therefore
every rank, vote, and metric) must equal a brute-force window over the
JVM fold exactly. These tests pin that equality on the sf testdata
and on crafted tie/edge cases, check the three embedding evals against
their DuckDB oracles with and without NULL embeddings, and keep each eval
on its one retrieval plan.
"""

from __future__ import annotations

import inspect
import os
import pathlib
import shutil
import sys

import duckdb
import parity
import pytest
from pyspark.sql import functions as F

import trading_data_pipeline_spark
import trading_data_pipeline_spark.session as session
from trading_data_pipeline_spark.operators import (
    retrieval_queries,
    similarity,
    similarity_queries,
)
from trading_data_pipeline_spark.operators.similarity import panel_topk_exact
from trading_data_pipeline_spark.registry import load


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_panel_topk_boundary_ties_break_on_id(spark):
    """Corpus of IDENTICAL vectors: every similarity ties at 1.0, so the
    batch-local cut must keep boundary ties and the global window must
    cut exactly at (sim DESC, id ASC) — the top-k are the k smallest
    ids, whatever the batch layout was."""
    n = 57
    corpus = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(n)], "vec_id long, embedding array<double>"
    ).repartition(7)
    queries = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [3.0, 2.0, 1.0])],
        "qid long, qvec array<double>",
    )
    out = panel_topk_exact(corpus, queries, k=4).collect()
    got = {}
    for r in out:
        got.setdefault(r.qid, []).append(r.vec_id)
    assert sorted(got[0]) == [0, 1, 2, 3]
    assert sorted(got[1]) == [0, 1, 2, 3]
    assert len(out) == 8


def test_panel_topk_matches_brute_window(spark, sf_dir):
    """(qid, id, sim) triples — not just downstream metrics — must match
    a brute-force window top-k over the same corpus."""
    from pyspark.sql import Window

    from trading_data_pipeline_spark.functions.vector import (
        dot_product,
        l2_norm,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    got = _rows(panel_topk_exact(corpus, queries, k=5))

    c = corpus.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv")))
    q = queries.withColumn("qn", l2_norm(F.col("qvec")))
    w = Window.partitionBy("qid").orderBy(F.desc("_sim"), F.asc("vec_id"))
    want = _rows(
        c.crossJoin(F.broadcast(q))
        .select(
            "qid",
            "vec_id",
            (
                dot_product(F.col("cv"), F.col("qvec"))
                / (F.col("cn") * F.col("qn"))
            ).alias("_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )
    assert got == want


def test_recall_candidates_match_join_formulation(spark, sf_dir):
    """The Arrow candidate pass of the recall curve must produce the
    row-identical per-(query, cell-rank) top-k table the round-10 join
    formulation produced (broadcast corpus x sample product, JVM fold,
    rounded-cosine window) — rebuilt here inline as the oracle."""
    from pyspark.sql import Window

    from trading_data_pipeline_spark.functions.vector import (
        dot_product,
        l2_norm,
    )
    from trading_data_pipeline_spark.operators.similarity import _dot_lit
    from trading_data_pipeline_spark.operators.similarity_queries import (
        _recall_candidates,
        _recall_queries,
        ivf_index_for,
    )

    emb = load(spark, sf_dir, "embeddings")
    idx = ivf_index_for(spark, sf_dir)
    qs = _recall_queries(emb, 50)
    got = _rows(_recall_candidates(idx, qs, 10))

    qv = F.col("qvec")
    scored = F.array(
        *[
            F.struct(_dot_lit(qv, c).alias("d"), F.lit(i).alias("c"))
            for i, c in enumerate(idx.centroids)
        ]
    )
    ranked = F.transform(F.reverse(F.array_sort(scored)), lambda s: s["c"])
    q_aug = qs.select(
        "qid", qv.alias("qvec"), l2_norm(qv).alias("_qn"), ranked.alias("_cells")
    )
    corpus = idx.assigned.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("_v"),
        "__cell",
    ).withColumn("_vn", l2_norm(F.col("_v")))
    w = Window.partitionBy("qid", "_cr").orderBy(F.desc("_s"), F.asc("vec_id"))
    want = _rows(
        corpus.crossJoin(F.broadcast(q_aug))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                dot_product(F.col("_v"), F.col("qvec"))
                / (F.col("_vn") * F.col("_qn")),
                4,
            ).alias("_s"),
            F.array_position(F.col("_cells"), F.col("__cell")).alias("_cr"),
        )
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= 10)
        .drop("_r")
    )
    assert got == want


def test_panel_cap_refuses_unbounded_query_sides(spark):
    corpus = spark.createDataFrame(
        [(0, [1.0])], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(i, [1.0]) for i in range(5)], "qid long, qvec array<double>"
    )
    with pytest.raises(ValueError, match="bounded eval panels"):
        panel_topk_exact(corpus, queries, k=1, max_panel=4)


def test_empty_panel_yields_empty_frame(spark):
    corpus = spark.createDataFrame(
        [(0, [1.0])], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame([], "qid long, qvec array<double>")
    out = panel_topk_exact(corpus, queries, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["qid", "vec_id", "_sim"]


EMBEDDING_EVALS = (
    "q_knn_eval",
    "q_retrieval_eval",
    "q_ndcg",
    "q_hard_negatives",
    "q_centroid_classify",
    "q_silhouette",
)


@pytest.mark.parametrize("null_vectors", [False, True], ids=["as_is", "null_vectors"])
def test_embedding_evals_match_their_oracles(
    monkeypatch, spark, sf_dir, tmp_path, capsys, null_vectors
):
    """A NULL embedding is not an observation: with every 37th vector
    NULL, neither engine scores it, ranks it, counts it as relevant or
    fits an IVF centroid on it."""
    data = sf_dir
    if null_vectors:
        for f in os.listdir(sf_dir):
            shutil.copy(os.path.join(sf_dir, f), tmp_path / f)
        duckdb.execute(
            "COPY (SELECT * REPLACE (CASE WHEN vec_id % 37 <> 1 THEN embedding END"
            f" AS embedding) FROM read_parquet('{sf_dir}/embeddings.parquet'))"
            f" TO '{tmp_path}/embeddings.parquet' (FORMAT parquet)"
        )
        data = str(tmp_path)
        [(n_null,)] = duckdb.execute(
            f"SELECT count(*) FROM read_parquet('{data}/embeddings.parquet')"
            " WHERE embedding IS NULL"
        ).fetchall()
        assert n_null > 0
    monkeypatch.setattr(session, "build_session", lambda *args, **kwargs: spark)
    monkeypatch.setattr(sys, "argv", ["parity.py", data, *EMBEDDING_EVALS])
    assert parity.main() == 0
    n = len(EMBEDDING_EVALS)
    assert f"\n{n}/{n} parity-clean" in capsys.readouterr().out


def test_embedding_evals_have_one_retrieval_plan():
    """Each eval scores its panel with panel_topk_exact alone, and the
    numpy cosine fold and the centroid distance are each written once: a
    second arm or a second copy fails here."""
    package = pathlib.Path(trading_data_pipeline_spark.__file__).parent
    srcs = [p.read_text() for p in package.rglob("*.py")]
    assert not any("arrow_panel" in s for s in srcs)
    for fn in (
        similarity.knn_label_eval,
        retrieval_queries.retrieval_eval,
        retrieval_queries.ndcg_eval,
        retrieval_queries._ranked_panel,
    ):
        src = inspect.getsource(fn)
        assert "crossJoin(" not in src and "knn_join_exact(" not in src, fn.__name__
    fold = inspect.getsource(similarity._fold)
    assert sum(s.count("Q[:, d]") for s in srcs) == fold.count("Q[:, d]") > 0
    dist = inspect.getsource(similarity_queries._centroid_dists)
    pattern = 'F.col("n") * F.col("qx")'
    assert sum(s.count(pattern) for s in srcs) == dist.count(pattern) > 0
