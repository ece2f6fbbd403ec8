"""Distributed PCA for embedding compression: Gram-matrix partials on
executors, eigendecomposition of the tiny d×d result on the driver, the
learned projection broadcast back as a plain column expression.

The MLlib RowMatrix.computeGramianMatrix shape, re-expressed on the
DataFrame API: each partition reduces its rows to ONE d×d partial
(mapInPandas — numpy X.T @ X per Arrow batch, summed per partition), the
driver sums the ≤ n_partitions partials and runs numpy.linalg.eigh on
the d×d (64×64 here) matrix — bounded work independent of corpus size.
The projection back to the data is d×k literals inside a JVM fold
expression (spark_dot per component): no Python in the per-row path.

UNCENTERED by design: cosine similarity is origin-anchored, so the
right rotation for an ANN-serving projection is the SVD of the raw
matrix (eigenvectors of X'X), not of the covariance — mean-centering
would change every cosine and break the full-rank identity (k=d is a
pure rotation: dot products and norms preserved, top-k recall exactly
1.0 — pytest-pinned, tests/test_pca.py).

Sign convention: each eigenvector is flipped so its
largest-|magnitude| component is positive — eigh's sign choice is
arbitrary, and a deterministic convention makes the fitted model
reproducible run to run.

Complements embedding_mrl_recall: the prefix truncation is what you get
for free from MRL-trained embeddings; this is the trained linear
compressor for embeddings that were NOT trained matryoshka-style
(measured on the fixture: recall@3 0.411 for PCA-32 vs 0.226 for
prefix-32). ann_pca_recall (queries/ann_extras.py) serves the
comparison as a registry row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2dataset_spark.queries.dedup import spark_dot

EMB_DIM = 64  # the embeddings-table dimensionality (TESTDATA.md)


def gram_partials(vectors: DataFrame, dim: int = EMB_DIM):
    """Sum of outer products X'X over a (vec) array<double> column —
    one flattened d*d partial row per partition, summed on the driver.
    Returns (numpy d×d matrix, row_count)."""
    import numpy as np
    import pandas as pd

    def part(batches):
        g = np.zeros((dim, dim), dtype=np.float64)
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(list(pdf["vec"]), dtype=np.float64)
            g += x.T @ x
            n += len(pdf)
        yield pd.DataFrame({"g": [g.reshape(-1).tolist()], "n": [n]})

    rows = (
        vectors.select(F.col("vec"))
        .mapInPandas(part, schema="g array<double>, n bigint")
        .collect()
    )
    g = np.zeros((dim, dim), dtype=np.float64)
    n = 0
    # deterministic accumulation order so refits are bit-reproducible
    for r in sorted(rows, key=lambda r: (r["n"], tuple(r["g"][:4]))):
        g += np.array(r["g"], dtype=np.float64).reshape(dim, dim)
        n += r["n"]
    return g, n


def fit_pca(spark: SparkSession, vectors: DataFrame, k: int, dim: int = EMB_DIM):
    """Top-k principal directions of the raw (uncentered) vector set:
    d×k numpy array, columns orthonormal, deterministic sign."""
    import numpy as np

    g, _ = gram_partials(vectors, dim)
    w, v = np.linalg.eigh(g)  # ascending eigenvalues
    p = v[:, ::-1][:, :k]  # top-k
    # deterministic sign: largest-|component| of each column positive
    for j in range(p.shape[1]):
        i = int(np.abs(p[:, j]).argmax())
        if p[i, j] < 0:
            p[:, j] = -p[:, j]
    return p


def project_expr(p) -> "F.Column":
    """array<double> column of PCA coordinates for the ``vec`` column:
    one JVM fold dot product per component (d×k literals, no Python in
    the row path)."""
    comps = [
        F.array(*[F.lit(float(x)) for x in p[:, j]])
        for j in range(p.shape[1])
    ]
    return F.array(*[spark_dot(F.col("vec"), c) for c in comps])


def doubles(col) -> "F.Column":
    return F.transform(col, lambda x: x.cast("double"))


def save_pca(spark: SparkSession, p, model_dir: str) -> None:
    """Persist the projection as (component_id, weights) parquet — the
    fx-model discipline: fit once, serve many."""
    rows = [(j, [float(x) for x in p[:, j]]) for j in range(p.shape[1])]
    spark.createDataFrame(
        rows, "component_id int, weights array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(model_dir)


def load_pca(spark: SparkSession, model_dir: str):
    import numpy as np

    rows = spark.read.parquet(model_dir).orderBy("component_id").collect()
    return np.array([r["weights"] for r in rows], dtype=np.float64).T
