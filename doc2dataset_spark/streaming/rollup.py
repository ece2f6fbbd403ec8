"""Streaming materialized-view maintenance: the daily revenue rollup
kept fresh from a live fact stream, one UNROUNDED-decimal partial per
micro-batch, merged on read.

This is the streaming half of ``rollup_incremental_merge``
(queries/maintenance_ops.py) and imports its exact partial/merge
expressions, so batch refresh, streaming refresh, and the one-pass
recompute are provably the same arithmetic — mergeability of exact
decimal partials is the whole trick, the same law the count-min module
(streaming/sketch.py) proves for counters.

Batches land under ``batch_id=<n>`` by the replay rules stated in
streaming/util.py's module docstring.

At 100 TB this is the shape of a continuously-maintained metric store:
each partial is ≤ |days touched by the batch| rows regardless of batch
size, the MV read is a merge over (batches × days) tiny rows, and
historical partials compact by simply re-merging and rewriting — no
raw-fact rescan anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from doc2dataset_spark.operators.time_travel import land_batch
from doc2dataset_spark.queries.maintenance_ops import (
    mv_merge_partials,
    mv_partial,
)
from doc2dataset_spark.streaming.util import run_batchwise


def run_rollup_partials(
    spark: SparkSession,
    lineitem_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drive the stream, landing one daily-partials frame per
    micro-batch under ``batch_id=<n>``. Blocks until drained."""
    run_batchwise(
        lineitem_stream,
        checkpoint_dir,
        lambda df, bid: land_batch(mv_partial(df), out_dir, bid),
        [out_dir],
    )


def rollup_serve(spark: SparkSession, out_dir: str) -> DataFrame:
    """The served MV: merge all landed partials. Bit-identical to the
    one-pass batch aggregate over the concatenated input (decimal
    addition is exact and associative) — pinned by
    tests/test_streaming_rollup.py."""
    return mv_merge_partials(spark.read.parquet(out_dir))
