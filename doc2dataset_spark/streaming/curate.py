"""Streaming curation: the batch ``curate_corpus`` front half (quality
gate → exact dedup) as an incremental ingest stream.

Per micro-batch of (doc_id, text):

1. **Quality gate** — the SAME row-local Gopher rule evaluation the batch
   query uses (``curation_extras.gopher_flags``), so batch and stream
   cannot drift. Rejected docs are recorded with ``keep_quality=False``
   and never reach the dedup index.
2. **Exact dedup against everything accepted so far** — sha256 digest
   equi-join (left-semi) against the accumulating digest directory (the
   ``streaming/neardup.py`` band-directory pattern with a single exact
   key); within-batch collisions resolve min-doc_id-wins, the
   ``dedup_exact`` canonical rule.
3. **Idempotent landing** — the batch's verdicts and its NEW digests each
   land under ``batch=<id>`` with overwrite, by the replay rules stated
   in streaming/util.py's module docstring.

Scale: the digest join is a hash equi-join on a 32-byte key — the
directory side grows linearly with ACCEPTED docs (1 row each); at 100 TB
you bucket the directory by digest so the lookup is shuffle-free on the
index side. State never holds text, only digests.

DuckDB cannot oracle a stream; tests/test_streaming_curate.py locks
stream == batch: the accepted set must equal the batch composition
(gopher keep ∧ first-occurrence-by-digest) when arrival order matches
doc_id order.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from doc2dataset_spark.queries.curation_extras import gopher_flags
from doc2dataset_spark.streaming.util import batch_partitions, run_batchwise


def curate_batch(
    batch_docs: DataFrame, directory: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """(verdicts, new_digests) for one micro-batch of (doc_id, text).

    verdicts: (doc_id, keep_quality, is_dup, accepted); new_digests:
    (digest, doc_id) for accepted rows only — the directory delta."""
    flags = gopher_flags(batch_docs).select(
        "doc_id", F.col("keep").alias("keep_quality")
    )
    hashed = (
        batch_docs.join(flags, "doc_id")
        .withColumn("digest", F.sha2("text", 256))
    )
    quality = hashed.filter(F.col("keep_quality"))
    if directory is not None:
        earlier = (
            quality.join(
                directory.select("digest"), "digest", "left_semi"
            )
            .select("doc_id")
            .withColumn("dup_earlier", F.lit(True))
        )
    else:
        earlier = quality.select("doc_id").limit(0).withColumn(
            "dup_earlier", F.lit(True)
        )
    w = W.partitionBy("digest")
    intra = (
        quality.withColumn("first", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("first"))
        .select("doc_id")
        .withColumn("dup_batch", F.lit(True))
    )
    verdicts = (
        hashed.select("doc_id", "keep_quality", "digest")
        .join(earlier, "doc_id", "left")
        .join(intra, "doc_id", "left")
        .select(
            "doc_id",
            "keep_quality",
            (
                F.coalesce("dup_earlier", F.lit(False))
                | F.coalesce("dup_batch", F.lit(False))
            ).alias("is_dup"),
            "digest",
        )
        .withColumn(
            "accepted", F.col("keep_quality") & ~F.col("is_dup")
        )
    )
    new_digests = verdicts.filter("accepted").select("digest", "doc_id")
    return verdicts.drop("digest"), new_digests


def run_curate_stream(
    docs_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drive the stream: verdicts → out_dir, digest directory →
    state_dir, each under ``batch=<id>``. Blocks until drained."""
    spark = docs_stream.sparkSession

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        # strictly earlier batches only (rule 3): a replayed batch that
        # read its own or a dead incarnation's digest partitions would
        # flag every accepted doc dup_earlier against its own digest
        directory = (
            spark.read.parquet(state_dir).filter(
                F.col("batch") < F.lit(int(batch_id))
            )
            if batch_partitions(state_dir, "batch=")
            else None
        )
        verdicts, new_digests = curate_batch(batch_df, directory)
        verdicts.write.mode("overwrite").parquet(
            posixpath.join(out_dir, f"batch={batch_id}")
        )
        new_digests.write.mode("overwrite").parquet(
            posixpath.join(state_dir, f"batch={batch_id}")
        )

    run_batchwise(
        docs_stream, checkpoint_dir, one_batch, [out_dir, state_dir],
        prefix="batch=",
    )
