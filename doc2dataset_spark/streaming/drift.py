"""Streaming distribution-drift monitor: per-micro-batch PSI against a
frozen reference histogram.

The batch query ``quality_psi_drift`` (queries/text_models.py)
answers "which sources in this corpus drift from the corpus-wide length
distribution". A live INGEST pipeline needs the monitoring form: as
document batches arrive, score each batch's sources against a
REFERENCE distribution frozen at curation time — the standard
model-monitoring deployment of PSI — and alarm before a drifted source
is mixed into training data.

This module reuses the batch query's expressions verbatim
(``binned_docs`` for the binning, ``psi_from_counts`` for the smoothed
PSI fold), so stream ≡ batch is an identity of code, not a tolerance:
feeding the whole corpus as one micro-batch with the corpus itself as
reference reproduces ``quality_psi_drift``'s output value-for-value
(tests/test_streaming_drift.py).

One verdict frame lands per micro-batch under ``batch_id=<n>``, by
the replay rules stated in streaming/util.py's module docstring.

Scale: the reference is |bins|+1 rows collected ONCE and rebuilt as a
broadcast local relation per batch — no rescan of the reference corpus
ever; each micro-batch does one (source, bin) partial-agg over the
batch and then arithmetic over ≤ |sources|×8 rows. State is O(bins),
independent of stream length — the same bounded-state argument as the
count-min partials (streaming/sketch.py).

Reference basis: the reference engine has no streaming at all
(SURVEY §2 streaming note); this is public Structured Streaming
surface (a micro-batch sink + idempotent partition overwrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2dataset_spark.operators.time_travel import land_batch
from doc2dataset_spark.queries.text_models import (
    binned_docs,
    psi_from_counts,
)
from doc2dataset_spark.streaming.util import run_batchwise


def reference_histogram(docs: DataFrame) -> tuple[list, list]:
    """Freeze a reference corpus into (binc_rows, tot_rows): the 8-bin
    histogram and 1-row total that ``psi_from_counts`` expects. Collect
    is bounded at |bins|+1 rows regardless of corpus size."""
    b = binned_docs(docs)
    binc = b.groupBy("bin").agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    tot = b.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return binc.collect(), tot.collect()


def batch_verdicts(
    batch_df: DataFrame, binc_rows: list, tot_rows: list
) -> DataFrame:
    """PSI verdicts for ONE batch of documents vs the frozen reference —
    the exact ``psi_from_counts`` arithmetic the batch query uses."""
    spark = batch_df.sparkSession
    sb = (
        binned_docs(batch_df)
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    binc = spark.createDataFrame(binc_rows, "bin int, cb bigint")
    tot = spark.createDataFrame(tot_rows, "n bigint")
    return psi_from_counts(sb, binc, tot)


def run_drift_monitor(
    spark: SparkSession,
    doc_stream: DataFrame,
    binc_rows: list,
    tot_rows: list,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drive the stream: one PSI verdict frame per micro-batch under
    ``batch_id=<n>``. Blocks until drained."""
    run_batchwise(
        doc_stream,
        checkpoint_dir,
        lambda df, bid: land_batch(
            batch_verdicts(df, binc_rows, tot_rows), out_dir, bid
        ),
        [out_dir],
    )


def drift_serve(spark: SparkSession, out_dir: str) -> DataFrame:
    """All landed verdicts, batch_id exposed via partition discovery."""
    return spark.read.parquet(out_dir)
