"""Incremental near-duplicate detection at ingest: streaming MinHash-LSH.

The batch dedup stack (`queries/dedup.py`) answers "which documents in
this corpus are near-dups of each other". A training-data INGEST pipeline
needs the incremental form: as new documents arrive, flag the ones that
near-duplicate anything already accepted — without re-scanning the
corpus. This module implements that as a micro-batch loop over an
accumulating **band directory** (the classic LSH index, persisted as
parquet):

per micro-batch:
  1. band-hash the batch with the SAME signature/banding code the batch
     queries use (`dedup.bands_of` — 16 perms, 4×4 banding, md5 bands);
  2. equi-join (band, bh) against the directory → arrivals colliding with
     any previously accepted doc;
  3. within-batch collisions resolve by min-doc_id-wins (the same
     canonical-survivor rule as ``dedup_exact``);
  4. append the batch's bands to the directory and the per-doc verdicts
     to the output, each under a ``batch=<id>`` subdirectory written with
     overwrite, by the replay rules stated in streaming/util.py's module
     docstring.

Scale: the directory join is a (band, bh) hash equi-join — collision-set
bounded, never all-pairs; the directory grows linearly with accepted docs
(4 rows/doc) and is partition-pruned by nothing but read fully, which is
the honest cost of exact-collision lookup (at 100 TB you'd bucket the
directory by ``bh`` so the join is shuffle-free on the directory side —
same plan shape Spark's bucketing gives the batch q-bucketed join).

DuckDB cannot oracle a stream; the test locks stream == batch: the
flagged set must equal the distinct ``db`` side of the batch LSH
candidate pairs when arrival order matches doc_id order
(test_streaming_neardup.py).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, functions as F

from doc2dataset_spark.queries.dedup import bands_of
from doc2dataset_spark.streaming.util import batch_partitions, run_batchwise


def flag_against_directory(
    batch_docs: DataFrame, directory: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """(verdicts, batch_bands) for one micro-batch of (doc_id, text).

    verdicts: (doc_id, is_neardup, matched_earlier) — ``matched_earlier``
    is the collision against the persisted directory only; within-batch
    collisions additionally flag every doc except the minimal doc_id of
    its collision group.
    """
    bands = bands_of(batch_docs)
    if directory is not None:
        dir_hit = bands.join(
            directory.select("band", "bh"), ["band", "bh"], "left_semi"
        )
        earlier = dir_hit.select("doc_id").distinct().withColumn(
            "matched_earlier", F.lit(True)
        )
    else:
        earlier = batch_docs.select("doc_id").limit(0).withColumn(
            "matched_earlier", F.lit(True)
        )
    # within-batch: min doc_id per (band, bh) bucket survives; everyone
    # else in a >1 bucket is a near-dup arrival
    from pyspark.sql import Window as W

    w = W.partitionBy("band", "bh")
    intra = (
        bands.withColumn("keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("keep"))
        .select("doc_id")
        .distinct()
        .withColumn("matched_batch", F.lit(True))
    )
    verdicts = (
        batch_docs.select("doc_id")
        .join(earlier, "doc_id", "left")
        .join(intra, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("matched_earlier", F.lit(False)).alias("matched_earlier"),
            (
                F.coalesce("matched_earlier", F.lit(False))
                | F.coalesce("matched_batch", F.lit(False))
            ).alias("is_neardup"),
        )
    )
    return verdicts, bands


def run_incremental_neardup(
    docs_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drive the stream: verdicts → ``out_dir``, band directory →
    ``state_dir``, each under ``batch=<id>``. Blocks until drained."""
    spark = docs_stream.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        directory = None
        if batch_partitions(state_dir, "batch="):
            # strictly earlier batches only (rule 3): a replayed batch
            # that read its own or a dead incarnation's bands would flag
            # every doc as a near-dup of itself
            directory = spark.read.parquet(state_dir).filter(
                F.col("batch") < F.lit(int(batch_id))
            )
        verdicts, bands = flag_against_directory(batch_df, directory)
        # the band lineage (tokenize + shingle + 16-perm minhash) feeds
        # BOTH writes and the two collision joins — persist it once
        # instead of re-running the most expensive per-batch subtree
        bands.persist()
        try:
            verdicts.withColumn("batch", F.lit(batch_id)).write.mode(
                "overwrite"
            ).parquet(posixpath.join(out_dir, f"batch={batch_id}"))
            bands.withColumn("batch", F.lit(batch_id)).write.mode(
                "overwrite"
            ).parquet(posixpath.join(state_dir, f"batch={batch_id}"))
        finally:
            bands.unpersist()

    run_batchwise(
        docs_stream, checkpoint_dir, process, [out_dir, state_dir],
        prefix="batch=",
    )
