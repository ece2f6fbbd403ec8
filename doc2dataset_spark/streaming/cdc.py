"""Streaming CDC materialization: a live changelog (upserts +
tombstones) landed idempotently per micro-batch, served as a
latest-wins table — the streaming twin of the batch
``merge_cdc_apply`` (queries/maintenance_ops.py) and the plain-parquet
spelling of a compacted-topic / change-data-feed consumer.

Two halves:

- ``run_cdc_ingest``  lands each micro-batch of change records under
  ``batch_id=<n>`` (the replay rules in streaming/util.py's module
  docstring).
- ``cdc_serve``       materializes the current table: for every key,
  the change with the highest (batch_id, seq) wins (``max_by`` over the
  compound version — one aggregate, no window), and a winning tombstone
  deletes the row. Replaying the whole changelog through this view IS
  the recovery story: state lives in the changelog, not the serving
  layer.

At 100 TB the serve-side aggregate shuffles |changelog| rows once on
the key; periodic compaction (rewrite the served snapshot as batch 0 and
drop older partitions) bounds that — the snapshot-plus-tail layout every
log-structured store converges on. Ordering within one micro-batch is
the ``seq`` column (the CDC feed's own sequence number): (batch_id, seq)
must be unique per key, which the ingest asserts nothing about — it is
the feed's contract, documented here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2dataset_spark.operators.time_travel import (
    land_batch,
    latest_batch,
    read_postings_asof,
    resolve_asof_ts,
)
from doc2dataset_spark.streaming.util import run_batchwise

DELETE_OP = "delete"


def run_cdc_ingest(
    spark: SparkSession,
    changes_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Land the change stream, one ``batch_id=<n>`` partition per
    micro-batch. The frame must carry ``doc_id``, ``op`` and ``seq``
    plus the payload columns. Blocks until drained."""
    run_batchwise(
        changes_stream,
        checkpoint_dir,
        lambda df, bid: land_batch(df, out_dir, bid, record_time=True),
        [out_dir],
    )


def cdc_serve(spark: SparkSession, out_dir: str) -> DataFrame:
    """The current table: latest (batch_id, seq) change per key wins;
    tombstones drop the row. One ``max_by`` aggregate — no window, no
    self-join; deterministic because (batch_id, seq) is unique per key
    (the feed contract)."""
    return _latest_wins(spark.read.parquet(out_dir))


def _latest_wins(changes: DataFrame) -> DataFrame:
    payload = [
        c for c in changes.columns if c not in ("doc_id", "batch_id", "seq")
    ]
    winner = changes.groupBy("doc_id").agg(
        F.expr(
            f"max_by(struct({', '.join(payload)}), struct(batch_id, seq))"
        ).alias("w")
    )
    return (
        winner.filter(F.col("w.op") != DELETE_OP)
        .select("doc_id", *[F.col(f"w.{c}").alias(c) for c in payload])
        .drop("op")
    )


def cdc_compact(spark: SparkSession, out_dir: str) -> dict:
    """Snapshot-plus-tail compaction: collapse every landed batch into
    one snapshot partition holding the served state as plain upserts,
    so the serve-side aggregate shuffles |current table| rows instead of
    |changelog|. ``cdc_serve`` over the compacted log returns exactly
    what it returned before (the equivalence the test pins): winners are
    preserved verbatim, losers and tombstoned keys are dropped — a
    tombstone's work is DONE once compaction lands, so it need not be
    retained (no late reader merges across the compaction boundary; the
    snapshot IS batch 0).

    Published through the compaction protocol (operators/
    index_maintenance docstring) with horizon = the highest folded
    batch: readers see the old log or the new one, never a mix, and a
    crash leaves debris that the next compaction refuses over and
    ``recover_compaction`` reassembles. The stream's NEXT batch id keeps
    growing from the checkpoint (ids are never reused), so the snapshot
    partition (batch_id=0) stays strictly oldest.

    Run compaction only while the ingest stream is STOPPED: a batch
    landing between the snapshot read and the directory swap would be
    dropped by the swap (the rename replaces the whole log)."""
    from doc2dataset_spark.operators.index_maintenance import (
        compaction_fs,
        publish_compaction,
    )

    compaction_fs(out_dir)
    # highest batch the snapshot absorbs — the time-travel horizon
    folded = latest_batch(out_dir)
    if folded is None:
        raise ValueError(
            f"no batch partitions under {out_dir!r} — nothing to "
            "compact (empty or swept changelog)"
        )
    served = cdc_serve(spark, out_dir)
    payload = [c for c in served.columns if c != "doc_id"]
    snapshot = served.select(
        "doc_id",
        F.lit("upsert").alias("op"),
        F.lit(0).alias("seq"),
        *payload,
        F.lit(0).alias("batch_id"),
    )
    n = snapshot.count()
    publish_compaction(
        out_dir,
        lambda tmp_url: snapshot.write.partitionBy("batch_id").parquet(
            tmp_url
        ),
        horizon=folded,
    )
    return {"rows": n, "horizon": folded}


def cdc_serve_asof(
    spark: SparkSession, out_dir: str, as_of_batch: int
) -> DataFrame:
    """The table as it stood after changelog batch N — ``cdc_serve``'s
    latest-wins fold restricted to ``batch_id <= N`` (partition-pruned).
    Completes the time-travel surface (operators/time_travel.py) for the
    third persisted log family. ``cdc_compact`` finalizes history into a
    ``batch_id=0`` snapshot: snapshots strictly before its recorded
    horizon raise (the same loud refusal as the index families — never
    silently serve post-compaction content as the past); at-or-after the
    horizon, the snapshot plus later batches reconstruct the state
    exactly."""
    return _latest_wins(read_postings_asof(spark, out_dir, as_of_batch))


def cdc_serve_asof_ts(
    spark: SparkSession, out_dir: str, as_of_ts_us: int
) -> DataFrame:
    """``cdc_serve_asof`` addressed by wall time: resolve the timestamp
    through the changelog's landing-time manifest (written per batch by
    run_cdc_ingest), then the same partition-pruned latest-wins fold —
    including the compaction-horizon refusal."""
    return cdc_serve_asof(spark, out_dir, resolve_asof_ts(out_dir, as_of_ts_us))
