"""Hand-built semantics for the embedding-quality pair: simplified
silhouette and the exact Lloyd k-means step."""

from __future__ import annotations

EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def test_silhouette_separated_clusters_near_one(spark):
    from trading_data_pipeline_spark.operators.similarity_queries import (
        silhouette_by_label,
    )

    # two tight, far-apart clusters → silhouette ≈ 1 for both labels
    rows = [
        (0, [0.0, 0.0], 0),
        (1, [0.01, 0.0], 0),
        (2, [10.0, 10.0], 1),
        (3, [10.01, 10.0], 1),
    ]
    out = {r.label: r for r in silhouette_by_label(
        spark.createDataFrame(rows, EMB_SCHEMA)
    ).collect()}
    assert out[0].n_vecs == 2 and out[1].n_vecs == 2
    assert out[0].silhouette > 0.99 and out[1].silhouette > 0.99


def test_silhouette_identical_clusters_zero(spark):
    from trading_data_pipeline_spark.operators.similarity_queries import (
        silhouette_by_label,
    )

    # both labels share the same centroid → a == b → s = 0
    rows = [
        (0, [1.0, 1.0], 0),
        (1, [1.0, 1.0], 0),
        (2, [1.0, 1.0], 1),
        (3, [1.0, 1.0], 1),
    ]
    out = silhouette_by_label(
        spark.createDataFrame(rows, EMB_SCHEMA)
    ).collect()
    assert all(r.silhouette == 0.0 for r in out)


def test_silhouette_single_label_pins_zero(spark):
    from trading_data_pipeline_spark.operators.similarity_queries import (
        silhouette_by_label,
    )

    rows = [(0, [0.0, 0.0], 0), (1, [5.0, 5.0], 0)]
    [r] = silhouette_by_label(
        spark.createDataFrame(rows, EMB_SCHEMA)
    ).collect()
    assert r.silhouette == 0.0  # b undefined → pinned, not NULL


def test_kmeans_step_hand_computed(spark):
    from trading_data_pipeline_spark.operators.similarity_queries import (
        kmeans_step,
    )

    # seeds (k=2): vec 0 at (0,0), vec 1 at (10,10). Points 2,3 near
    # seed 0; point 4 near seed 1.
    rows = [
        (0, [0.0, 0.0], 0),
        (1, [10.0, 10.0], 0),
        (2, [1.0, 0.0], 0),
        (3, [0.0, 2.0], 0),
        (4, [9.0, 10.0], 0),
    ]
    out = kmeans_step(
        spark.createDataFrame(rows, EMB_SCHEMA), k=2
    ).collect()
    by = {(r.cluster, r.d): r for r in out}
    # cluster 0 = vecs {0, 2, 3}: mean dim1 = (0+1+0)/3, dim2 = (0+0+2)/3
    assert by[(0, 1)].n_points == 3
    assert abs(by[(0, 1)].coord - 1 / 3) < 1e-9
    assert abs(by[(0, 2)].coord - 2 / 3) < 1e-9
    # cluster 1 = vecs {1, 4}: mean = (9.5, 10)
    assert by[(1, 1)].n_points == 2 and by[(1, 1)].coord == 9.5
    assert by[(1, 2)].coord == 10.0


def test_kmeans_step_equidistant_ties_to_lower_seed(spark):
    from trading_data_pipeline_spark.operators.similarity_queries import (
        kmeans_step,
    )

    # point 2 exactly between the seeds → assigned to seed 0 by tie-break
    rows = [
        (0, [0.0], 0),
        (1, [2.0], 0),
        (2, [1.0], 0),
    ]
    out = kmeans_step(spark.createDataFrame(rows, EMB_SCHEMA), k=2).collect()
    sizes = {r.cluster: r.n_points for r in out}
    assert sizes == {0: 2, 1: 1}


def test_semantic_dedup_drops_near_duplicates(spark):
    from trading_data_pipeline_spark.operators.similarity_queries import (
        semantic_dedup,
    )

    # seeds = ids 0,1 (k=2). id 2 is a near-copy of id 0 (same direction,
    # scaled) → cosine 1 → dropped; id 3 is orthogonal → kept.
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.0, 1.0], 1),
        (2, [2.0, 0.0], 0),   # cos(0,2) = 1 → dup of 0
        (3, [0.0, 3.0], 1),   # cos(1,3) = 1 → dup of 1
        (4, [1.0, 1.0], 0),   # cos ≈ .707 > .45 vs both... cluster-bound
    ]
    out = {r.vec_id: r for r in semantic_dedup(
        spark.createDataFrame(rows, EMB_SCHEMA), k=2
    ).collect()}
    assert len(out) == 5  # one row per vector, kept or not
    assert out[0].kept == 1 and out[1].kept == 1  # lowest ids survive
    assert out[2].kept == 0 and out[3].kept == 0
    # id 4 ties to cluster 0 (equidistant → lower seed); cos(0,4) ≈ .707
    # ≥ .45 → dropped as well
    assert out[4].cluster == 0 and out[4].kept == 0


def test_semantic_dedup_high_tau_keeps_everything(spark):
    from trading_data_pipeline_spark.operators.similarity_queries import (
        semantic_dedup,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.0, 1.0], 1),
        (2, [0.8, 0.6], 0),
    ]
    out = semantic_dedup(
        spark.createDataFrame(rows, EMB_SCHEMA), k=2, tau_q=999_999
    ).collect()
    assert all(r.kept == 1 for r in out)


def test_pq_encode_hand_assignment_and_self_zero_error(spark):
    """4-dim vectors, 2 subspaces of 2 dims, 2 codebook vectors (ids
    0/1). Codebook members must encode to themselves with zero error;
    a mixed vector picks the nearer sub-centroid per subspace
    independently (the whole point of PQ)."""
    from trading_data_pipeline_spark.operators.similarity_queries import (
        pq_encode,
    )

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 0.0, 0.0], 0),
            (1, [1.0, 1.0, 1.0, 1.0], 0),
            # first half near code 0, second half near code 1
            (2, [0.1, 0.0, 0.9, 1.0], 0),
            # equidistant in subspace 0 -> tie breaks to code 0
            (3, [0.5, 0.5, 1.0, 1.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r.vec_id: r for r in pq_encode(emb, m=2, sub=2, k=2).collect()}
    assert (out[0].code_s0, out[0].code_s1, out[0].total_err) == (0, 0, 0)
    assert (out[1].code_s0, out[1].code_s1, out[1].total_err) == (1, 1, 0)
    assert (out[2].code_s0, out[2].code_s1) == (0, 1)
    # err = (0.1e6)^2 + 0 + (0.1e6)^2 + 0 exactly (integer components)
    assert out[2].total_err == 2 * 100_000**2
    assert (out[3].code_s0, out[3].code_s1) == (0, 1)


def test_ann_recall_curve_is_monotone_and_reaches_09(spark, sf_dir):
    """Recall@10 must rise with n_probe and reach >= 0.9 mean by
    n_probe = 6 of 8 cells on the sf0.001 corpus; exact arm == approx
    arm when every cell is probed."""
    from trading_data_pipeline_spark.operators.similarity_queries import (
        ann_recall_curve,
        ivf_index_for,
    )
    from trading_data_pipeline_spark.registry import load

    emb = load(spark, sf_dir, "embeddings")
    idx = ivf_index_for(spark, sf_dir)
    curve = {
        r.n_probe: r.mean_recall
        for r in ann_recall_curve(emb, idx, n_probes=(2, 4, 8)).collect()
    }
    assert curve[2] <= curve[4] <= curve[8]
    # probing EVERY cell is exact by construction
    assert curve[8] == 1.0
