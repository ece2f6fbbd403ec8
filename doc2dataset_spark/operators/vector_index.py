"""IVF vector-index lifecycle: build once, persist, probe many.

The registry's ANN queries (sim_ann_ivf / _probe2 / _trained) rebuild
their cell assignment inside every query — right for an oracle-gated
operator, wrong for a serving path where the corpus is quantized once and
probed millions of times. This module persists the index as plain
parquet and makes probes read ONLY the probed cells:

    index_dir/centroids/   (cent_id, ce)           — K rows
    index_dir/postings/    cent_id=<k>/*.parquet   — (vec_id, ne),
                           HIVE-PARTITIONED by cell

A probe scores the K saved centroids (driver-collected: K×D doubles, an
index PARAMETER, not data), picks nprobe cells per query, and reads the
postings with a static cent_id filter — partition pruning turns "scan
the corpus" into "scan the probed cells' files", which is the entire
point of IVF on disk. The quantization rule (argmax via max(struct),
sim DESC / cent_id ASC ties) is shared with the query surface through
``dedup.cell_assignments``'s conventions, and the probe's scoring math
is ``spark_dot`` — so index-served results are bit-identical to the
in-query sim_ann_ivf results (locked in tests/test_vector_index.py).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from doc2dataset_spark.operators.index_maintenance import postings_path
from doc2dataset_spark.operators.time_travel import drop_log, land_batch
from doc2dataset_spark.queries.dedup import normalized_embeddings, spark_dot

DEFAULT_NPROBE = 1
DEFAULT_TOPK = 3


def _centroids_path(index_dir: str) -> str:
    return posixpath.join(index_dir, "centroids")



def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n_centroids: int | str = 16,
) -> None:
    """Quantize the embeddings table against its first ``n_centroids``
    vectors (seed centroids — the sim_ann_ivf convention; a trained
    centroid frame slots in unchanged): persist the centroids, then land
    every vector as batch 0 through ``append_to_ivf_index`` — the one
    quantizer, so built and appended postings cannot drift.

    ``n_centroids``: the default 16 is the oracle-pinned fixture
    constant; ``"auto"`` computes cells ≈ √n via autoparams.ivf_cells
    (the FAISS nlist rule — bounds within-cell pair work at n^1.5 and
    keeps the broadcast centroid table and the per-cell scan growing at
    the same rate). Probes are cell-count-agnostic (they read the saved
    centroid table), so an auto-built index serves unchanged."""
    n = normalized_embeddings(spark, sf_dir)
    if n_centroids == "auto":
        from doc2dataset_spark.operators.autoparams import ivf_cells

        n_centroids = ivf_cells(n.count())
    # drop BEFORE the new centroids land: a crash in between must never
    # leave the old postings under a codebook they were not quantized by
    drop_log(postings_path(index_dir))
    n.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("ne").alias("ce")
    ).write.mode("overwrite").parquet(_centroids_path(index_dir))
    append_to_ivf_index(spark, n, index_dir, 0)


def probe_ivf_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    nprobe: int = DEFAULT_NPROBE,
    topk: int = DEFAULT_TOPK,
) -> DataFrame:
    """Top-k neighbors per query from the persisted index.

    ``queries``: (qid, qne) unit-normalized query vectors. Centroids are
    driver-collected (K×D doubles — bounded by the index parameter) and
    broadcast back as a literal-free local relation; each query keeps its
    ``nprobe`` best cells; the probed cell set (≤ K values) prunes the
    postings scan STATICALLY, so only those hive partitions are read.
    Self-matches (cid == qid) are excluded, matching sim_ann_ivf."""
    cents = spark.read.parquet(_centroids_path(index_dir))
    ranked = (
        queries.crossJoin(F.broadcast(cents))
        .select(
            "qid", "qne", "cent_id",
            spark_dot(F.col("qne"), F.col("ce")).alias("sim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.desc("sim"), "cent_id")
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select("qid", "qne", "cent_id")
    )
    # ≤ K distinct cells by construction — an index parameter, not data
    cells = [
        r["cent_id"]
        for r in ranked.select("cent_id").distinct().collect()
    ]
    postings = spark.read.parquet(postings_path(index_dir)).filter(
        F.col("cent_id").isin(cells)
    )
    # probe-vs-postings scoring + per-(cell, qid) top-k as one vectorized
    # NumPy kernel per probed cell (vecmath.cogroup_topk_blocked — the
    # same swap as sim_ann_ivf_probe2; bit-identical cos doubles, and the
    # per-cell preselect is lossless for the final top-k). The final
    # window ranks the ≤ nprobe·topk survivors per query.
    from doc2dataset_spark.functions.vecmath import cogroup_topk_blocked

    scored = cogroup_topk_blocked(
        ranked,
        postings.select(
            "cent_id", F.col("vec_id").alias("cid"), F.col("ne").alias("cne")
        ),
        ["cent_id"],
        topk,
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos"), "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .drop("rn")
    )


def append_to_ivf_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    index_dir: str,
    batch_id: int,
) -> None:
    """Incremental index update (and a build's batch 0): quantize NEW
    vectors against the SAVED centroids (never re-deriving them — the
    index's quantization must stay frozen or old postings silently live
    in the wrong cells) and land them under ``batch_id=<n>/cent_id=<k>``
    with DYNAMIC partition overwrite — a replayed batch id rewrites
    exactly its own partitions (the streaming curate/neardup idempotence
    discipline), so crash-and-retry ingest never duplicates postings.
    Probes prune on cent_id regardless of the batch level.

    ``new_vectors``: (vec_id, ne) unit-normalized."""
    cents = spark.read.parquet(_centroids_path(index_dir))
    scored = new_vectors.crossJoin(F.broadcast(cents)).select(
        "vec_id", "ne", "cent_id",
        spark_dot(F.col("ne"), F.col("ce")).alias("sim"),
    )
    assign = (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("sim"),
                    (-F.col("cent_id")).alias("neg_cent"),
                    F.col("cent_id"),
                    F.col("ne"),
                )
            ).alias("best")
        )
        .select(
            "vec_id",
            F.col("best.ne").alias("ne"),
            F.col("best.cent_id").alias("cent_id"),
        )
    )
    land_batch(
        assign,
        postings_path(index_dir),
        batch_id,
        partition_cols=("cent_id",),
        record_time=True,
    )
