"""Streaming count-min sketch: per-micro-batch partial sketches merged
into the exact global sketch — the property that makes sketches the
right frequency state at 100 TB is MERGEABILITY (counters add), and this
module proves it on a live stream rather than asserting it.

Each micro-batch computes its own d×w counter matrix (the same seeded
hash the batch query ``agg_count_min`` uses, imported so batch and
stream can never drift) and lands it under its batch_id by the replay
rules stated in streaming/util.py's module docstring. The merged sketch
is then a plain ``groupBy(j, bucket).sum`` over the partials:
commutative, associative, restart-safe. tests/test_streaming.py locks
merged-stream == batch-built equality counter by counter.

At scale this is the shape of a streaming frequency service: partials
are d×w rows per batch regardless of batch size, the merge is a
constant-size aggregation, and historical partials can be compacted or
unioned across days without touching raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2dataset_spark.operators.time_travel import land_batch
from doc2dataset_spark.queries.sql_surface import (
    CMS_DEPTH,
    cms_bucket_spark,
)
from doc2dataset_spark.streaming.util import run_batchwise


def cms_partial(batch: DataFrame, key: str = "user_id") -> DataFrame:
    """The d×w partial counter matrix of one (micro-)batch: explode the
    depth seeds, hash to a bucket, count — map-side combinable, output
    bounded by d×w rows regardless of input size."""
    return (
        batch.select(
            F.col(key),
            F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias(
                "j"
            ),
        )
        .select("j", F.expr(cms_bucket_spark(key)).alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("c"))
    )


def run_cms_partials(
    spark: SparkSession,
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key: str = "user_id",
) -> None:
    """Drive the stream, landing one partial sketch per micro-batch
    under batch_id=<n>. Blocks until drained; a fresh-checkpoint replay
    that groups the input into fewer batches sweeps the stale higher
    ids, which cms_merge would otherwise double-count."""
    run_batchwise(
        events,
        checkpoint_dir,
        lambda df, bid: land_batch(cms_partial(df, key), out_dir, bid),
        [out_dir],
    )


def cms_merge(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge partial sketches into the global one: counters add. The
    result is bit-identical to building one sketch over the concatenated
    input — the mergeability law the equality test pins."""
    return (
        spark.read.parquet(out_dir)
        .groupBy("j", "bucket")
        .agg(F.sum("c").alias("c"))
    )


# ---------------------------------------------------------------------------
# bottom-k (KMV) sample partials — the third mergeable sketch family
# ---------------------------------------------------------------------------


def run_bottomk_partials(
    spark: SparkSession,
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key: str = "event_id",
) -> None:
    """Land each micro-batch's bottom-k rows under batch_id=<n>. Each
    partial is ≤ k rows regardless of batch size — the property that
    makes the merged stream sample exact (tests/test_streaming.py pins
    merged == batch-built). Blocks until drained."""
    from doc2dataset_spark.queries.sketch_sample import bottomk_sample

    run_batchwise(
        events,
        checkpoint_dir,
        lambda df, bid: land_batch(bottomk_sample(df, key), out_dir, bid),
        [out_dir],
    )


def bottomk_merge(
    spark: SparkSession, out_dir: str, key: str = "event_id"
) -> DataFrame:
    """Merge landed partials: bottom-k of the union of per-batch
    bottom-k's — exactly the global bottom-k (mergeability law,
    tests/test_sketch_sample.py)."""
    from doc2dataset_spark.queries.sketch_sample import bottomk_sample

    return bottomk_sample(
        spark.read.parquet(out_dir).drop("h", "hv", "batch_id"), key
    )
