"""Distributed PCA semantics (operators/pca.py) — the invariants that
substitute for a DuckDB oracle (eigendecomposition is not expressible
there; ann_pca_recall is rows-only by design)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from doc2dataset_spark.operators.pca import (
    EMB_DIM,
    doubles,
    fit_pca,
    load_pca,
    project_expr,
    save_pca,
)
from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.session import load_table


def _vecs(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", doubles(F.col("embedding")).alias("vec"))


def test_projection_is_orthonormal(spark, sf_dir):
    p = fit_pca(spark, _vecs(spark, sf_dir), 32)
    assert p.shape == (EMB_DIM, 32)
    assert np.allclose(p.T @ p, np.eye(32), atol=1e-9)


def test_full_rank_rotation_preserves_topk_exactly(spark, sf_dir):
    """k = d is a pure rotation: dot products and norms are preserved
    (uncentered fit — the reason centering is deliberately absent), so
    the projected top-k IS the truth: recall exactly 1.0 everywhere."""
    from doc2dataset_spark.queries.ann_extras import (  # noqa: F401
        mrl_recall_frame,
    )
    from doc2dataset_spark.queries.curation_extras import knn_edges_from
    from doc2dataset_spark.queries.dedup import (
        normalized_embeddings,
        spark_dot,
    )

    vecs = _vecs(spark, sf_dir)
    p = fit_pca(spark, vecs, EMB_DIM)
    proj = vecs.select("vec_id", project_expr(p).alias("vec"))
    nrm = F.sqrt(spark_dot(F.col("vec"), F.col("vec")))
    nt = proj.select(
        "vec_id", F.transform(F.col("vec"), lambda x: x / nrm).alias("ne")
    )
    truth = knn_edges_from(spark, normalized_embeddings(spark, sf_dir))
    appr = knn_edges_from(spark, nt)
    t = {(r["qid"], r["cid"]) for r in truth.collect()}
    a = {(r["qid"], r["cid"]) for r in appr.collect()}
    assert t == a


def test_pca_beats_prefix_at_equal_dims(spark, sf_dir):
    """The row's reason to exist: the trained 32-dim compressor must
    out-recall the free 32-dim prefix on the clustered fixture (probed
    margins ~0.41 vs ~0.23 at sf0.01; asserted as strict inequality on
    the means so a regression to prefix-equivalent behavior fails)."""
    from doc2dataset_spark.queries.ann_extras import mrl_recall_frame

    pca = REGISTRY["ann_pca_recall"].builder(spark, sf_dir)
    pref = mrl_recall_frame(spark, sf_dir, 32)
    m_pca = pca.agg(F.avg("recall")).collect()[0][0]
    m_pref = pref.agg(F.avg("recall")).collect()[0][0]
    assert 0 < m_pref < m_pca < 1, (m_pref, m_pca)


def test_pca_model_roundtrip(spark, sf_dir, tmp_path):
    p = fit_pca(spark, _vecs(spark, sf_dir), 8)
    d = str(tmp_path / "pca_model")
    save_pca(spark, p, d)
    q = load_pca(spark, d)
    assert np.array_equal(p, q)
