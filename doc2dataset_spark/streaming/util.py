"""The micro-batch driving contract every streaming runner shares.

``run_batchwise`` drives a finite stream through one per-batch ``step``
and blocks until it is drained; each runner supplies only its step. The
replay rules, stated once here and relied on by every runner:

1. **Own partition per batch.** A step lands batch n's output as its own
   ``<prefix><n>`` partition, overwritten in place (``land_batch``'s
   dynamic overwrite for ``batch_id=``; a path overwrite for the
   ``batch=`` logs of curate / neardup / scored_gate). A same-checkpoint
   restart re-fires only uncommitted batches under their original ids,
   so it rewrites exactly their partitions and touches nothing else.
2. **Empty recomputes clear.** Dynamic overwrite writes nothing for zero
   rows, so a step whose recomputed batch may be empty lands through
   ``land_batch_exact``, which deletes the stale partition instead.
3. **Strictly prior reads.** A step that reads its own accumulated log
   (a digest or band directory, a view seed, a watermark snapshot)
   reads only batches ``< n``: a replayed batch then sees exactly the
   state it saw the first time, never its own dead incarnation's output.
4. **Fresh-checkpoint sweep.** After a checkpoint loss, a replay
   renumbers batches from 0 and may group the input into FEWER batches
   than the original incarnation; overwrite rewrites only the replayed
   ids. A from-scratch replay numbers contiguously, so after the drain
   every partition above the replay's max fired id is provably stale and
   ``sweep_stale_batches`` deletes it from every output root (with its
   recorded landing time).
5. **No fresh replay onto a compacted log.** A root with a compaction
   horizon holds finalized history under one folded batch id; a fresh
   replay would re-land it under renumbered ids and rule 4's sweep would
   delete the fold. ``run_batchwise`` refuses up front, before the
   stream lands anything.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from doc2dataset_spark import fsio


def land_batch(frame: DataFrame, root: str, batch_id: int) -> None:
    """One micro-batch landed as its own ``batch_id=<n>`` partition via
    dynamic overwrite (rule 1)."""
    (
        frame.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(root)
    )


def rm_stale_partition(root: str, batch_id: int) -> None:
    fs, p = fsio.url_to_fs(root)
    stale = f"{p.rstrip('/')}/batch_id={batch_id}"
    if fs.exists(stale):
        fs.rm(stale, recursive=True)


def land_batch_exact(frame: DataFrame, root: str, batch_id: int) -> int:
    """land_batch plus rule 2: materialize the frame once
    (localCheckpoint), and on zero rows delete the existing partition
    dir instead of writing. Returns the row count so callers can reuse
    it."""
    frame = frame.localCheckpoint(eager=True)
    n = frame.count()
    if n:
        land_batch(frame, root, batch_id)
        return n
    rm_stale_partition(root, batch_id)
    return 0


def batch_partitions(
    root: str, prefix: str = "batch_id="
) -> list[tuple[str, int]]:
    """(entry, id) of every ``<prefix><id>`` partition directly under
    root; [] when root is absent. One top-level listing, never a
    recursive walk of the part files. Routes through fsio, NOT os.path:
    a URL-form root (file:///...) is a path Spark's writers accept, and
    an os.path check on it would be silently empty forever."""
    fs, path = fsio.url_to_fs(root)
    if not fs.exists(path):
        return []
    found = []
    for entry in fs.ls(path, detail=False):
        name = str(entry).rstrip("/").rsplit("/", 1)[-1]
        if name.startswith(prefix):
            try:
                found.append((entry, int(name[len(prefix):])))
            except ValueError:
                continue
    return found


def sweep_stale_batches(
    out_dir: str, max_id: int, prefix: str = "batch_id="
) -> int:
    """Remove ``<prefix><id>`` partitions with id > max_id under out_dir
    (rule 4). Returns the number of partitions removed. No-op if out_dir
    is absent."""
    fs, path = fsio.url_to_fs(out_dir)
    if not fs.exists(path):
        return 0
    stale = [e for e, bid in batch_partitions(out_dir, prefix) if bid > max_id]
    for entry in stale:
        fs.rm(entry, recursive=True)
    if prefix == "batch_id=":
        # the swept batches' landing times must go with them, or a
        # renumbered replay would inherit the dead incarnation's clock.
        # UNCONDITIONAL: an empty micro-batch records a landing time but
        # writes no partition, so gating this on removed>0 would let a
        # dead incarnation's empty-batch times survive and misdirect
        # timestamp resolution.
        from doc2dataset_spark.operators.time_travel import (
            drop_batch_times_above,
        )

        drop_batch_times_above(out_dir, max_id)
    return len(stale)


def _refuse_compacted(root: str) -> None:
    from doc2dataset_spark.operators.index_maintenance import (
        compaction_horizon,
    )

    fs, p = fsio.url_to_fs(root)
    if fs.exists(p) and compaction_horizon(fs, p) is not None:
        raise RuntimeError(
            f"{root!r} has a compaction horizon (its history was "
            "finalized by a compaction) — a fresh-checkpoint replay is "
            "not supported on a compacted log: it would re-land finalized "
            "batches under renumbered ids and its stale-batch sweep would "
            "delete the folded history; keep the original checkpoint or "
            "rebuild from the source"
        )


def run_batchwise(
    stream: DataFrame,
    checkpoint_dir: str,
    step: Callable[[DataFrame, int], None],
    sweep_roots: Sequence[str],
    prefix: str = "batch_id=",
    offset: int = 0,
    output_mode: str | None = None,
    refuse_roots: Sequence[str] = (),
) -> list[int]:
    """Drive ``stream`` to completion, calling ``step(batch_df, n)`` per
    micro-batch with ``n = batch_id + offset`` (the index families land
    stream batch 0 as ``batch_id=1``; batch 0 is their initial build).

    On a fresh checkpoint, refuses if any of ``refuse_roots`` is
    compacted (rule 5) and, after the drain, sweeps every ``<prefix><id>``
    partition above the max landed id from each of ``sweep_roots``
    (rule 4). ``output_mode`` is passed to the stream writer when set
    (a stateful aggregation emitting updates). Blocks until drained;
    returns the landed ids of the batches that fired, in order."""
    ckpt_fs, ckpt_path = fsio.url_to_fs(checkpoint_dir)
    fresh_checkpoint = not ckpt_fs.exists(ckpt_path)
    if fresh_checkpoint:
        for root in refuse_roots:
            _refuse_compacted(root)
    fired: list[int] = []

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        fired.append(batch_id + offset)
        step(batch_df, batch_id + offset)

    writer = stream.writeStream
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    q = (
        writer.foreachBatch(one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if fresh_checkpoint and fired:
        for root in sweep_roots:
            sweep_stale_batches(root, max(fired), prefix)
    return fired
