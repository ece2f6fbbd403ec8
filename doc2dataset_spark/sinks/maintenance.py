"""Table-maintenance operators (round 6): the housekeeping a long-lived
100 TB parquet corpus needs between pipeline runs.

The small-files problem is the canonical one: a resume-driven pipeline
(append-mode shard-partitioned writes, sinks/writer.py) accretes one file
per (shard, run) — thousands of KB-sized files whose per-file open/footer
cost eventually dominates every scan. ``compact_parquet`` rewrites a
directory to ~target-sized files, preserving hive partitioning, and
publishes the rewrite through the engine's one compaction protocol
(operators/index_maintenance docstring).

No reference twin: the reference's output is one feather/parquet per
shard forever (`writer.py:60-80`); compaction is an engine extension in
the Delta/Iceberg OPTIMIZE family, implemented here for plain parquet
directories.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from doc2dataset_spark.operators.index_maintenance import (
    compaction_fs,
    publish_compaction,
)

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # the classic HDFS-block target


def _dir_bytes(fs, path: str) -> int:
    total = 0
    for f in fs.find(path):
        if f.endswith(".parquet"):
            try:
                with fs.open(f, "rb") as fh:
                    fh.seek(0, 2)
                    total += fh.tell()
            except OSError:
                continue
    return total


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    partition_by: list[str] | None = None,
) -> dict:
    """Rewrite a parquet directory into ~``target_bytes`` files.

    Published through the compaction protocol (operators/
    index_maintenance docstring; no horizon: this is not a batch log).
    The swap is renames, NOT one atomic operation: during it a
    concurrent reader sees the dataset path missing — run compaction
    when the path is quiesced (the OPTIMIZE model) or behind a catalog
    pointer. A hard crash inside the swap is finished or rolled back by
    ``recover_compaction(path)``.

    Sizing: file count = ceil(on-disk bytes / target). Parquet re-encodes
    with the same codec so output sizes track input sizes closely; a
    ``repartition(n)`` round-robin shuffle gives uniformly-sized files
    (coalesce would inherit input skew and can't raise parallelism).
    With ``partition_by``, rows are repartitioned by the partition
    columns so each hive partition is written by the tasks that own it.
    A hive-partitioned directory MUST be compacted with its
    ``partition_by`` — without it the rewrite flattens the layout
    (partition values become plain columns; data intact, pruning lost).

    Returns {files_before, files_after, bytes}."""
    fs, p = compaction_fs(path)
    files_before = sum(
        1 for f in fs.find(p) if f.endswith(".parquet")
    )
    total = _dir_bytes(fs, p)
    n_files = max(1, math.ceil(total / target_bytes))

    # mergeSchema: a long-lived directory may have evolved (later batches
    # added columns); the default single-footer schema pick would silently
    # DROP those columns from the compacted copy depending on which file
    # wins — a compactor must always unify
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if partition_by:
        from pyspark.sql import functions as F

        writer = df.repartition(
            n_files, *[F.col(c) for c in partition_by]
        ).write.partitionBy(*partition_by)
    else:
        writer = df.repartition(n_files).write
    publish_compaction(
        path, lambda tmp_url: writer.mode("overwrite").parquet(tmp_url)
    )

    files_after = sum(1 for f in fs.find(p) if f.endswith(".parquet"))
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total,
    }
