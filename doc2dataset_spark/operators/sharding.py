"""Sharding and key assignment (reference P1/P3/P4).

The reference slices the url table into contiguous 10k-row shards written as
feather files (`reader.py:125-145`) and builds a global sample key
``(10^oom)*shard_id + row_in_shard`` zero-padded to
``oom_sample_per_shard + oom_shard_count`` digits
(`downloader.py:69-75,293,308`).

Spark mapping: the shard is a *logical* key, not a materialized file — the
shuffle plays the ``_tmp`` role. Global contiguity is not semantically
required (only key uniqueness and the digit layout are observable), so we
derive ``shard_id`` from a monotonic id without a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from doc2dataset_spark.config import DownloadConfig


def _mid_pid(col: str = "_mid"):
    """Partition index from a monotonically_increasing_id value.

    Integer shift, NOT float division: ``_mid / 2^33`` goes through
    double and rounds once ``_mid >= 2^53`` (partition index ~2^20 —
    the ~1M-partition regime the dense-index path targets)."""
    return F.shiftright(col, 33)


def _mid_local(col: str = "_mid"):
    """Partition-local row index: low 33 bits, integer mask."""
    return F.col(col).bitwiseAND((1 << 33) - 1)


def assign_keys(df: DataFrame, cfg: DownloadConfig) -> DataFrame:
    """Add ``shard_id`` and the zero-padded ``key`` string.

    Computes a DENSE global index without a global sort (the zipWithIndex
    shape): per-partition row counts (one aggregation, one row per
    partition on the driver) turned into per-partition offsets, plus the
    partition-local index carried in ``monotonically_increasing_id``'s
    low 33 bits. Raw monotonic ids would NOT work here — partition 1
    starts at 2^33, so ``shard_id * 10^oom`` would blow past the fixed
    zero-pad width the reference's key layout contract requires.

    The checkpoint is lazy: the counts query materialises it, so it costs
    no job of its own, and the key expressions below read the same ids.
    The offsets ride the plan as one literal array indexed by partition
    id — no offsets frame, so no join and no Python job to build one."""
    n_per_shard = cfg.number_sample_per_shard
    width = cfg.oom_sample_per_shard + cfg.oom_shard_count
    mid = F.monotonically_increasing_id()
    df = df.withColumn("_mid", mid).localCheckpoint(eager=False)
    # _mid layout: (partition_index << 33) | partition_local_row
    pid = _mid_pid()
    counts = dict(df.groupBy(pid.alias("_pid")).count().collect())
    offsets, acc = [], 0
    for p in range(max(counts, default=0) + 1):
        offsets.append(acc)
        acc += counts.get(p, 0)
    # one string literal, not one py4j call per partition; constant
    # folding turns split + cast into a literal array before execution
    off = F.split(F.lit(",".join(map(str, offsets))), ",").cast("array<bigint>")
    df = df.withColumn(
        "_rid", F.element_at(off, (pid + 1).cast("int")) + _mid_local()
    ).drop("_mid")
    df = df.withColumn(
        "shard_id", F.expr(f"_rid DIV {n_per_shard}")
    ).withColumn(
        "key",
        F.format_string(
            f"%0{width}d",
            F.col("shard_id") * (10 ** cfg.oom_sample_per_shard)
            + F.col("_rid") % n_per_shard,
        ),
    )
    return df.drop("_rid")


def filter_done_shards(df: DataFrame, done_shards) -> DataFrame:
    """Incremental resume (reference P4, `main.py:138-151`): drop rows whose
    shard already has a stats record. The reference re-derives done shards
    by globbing ``*.json`` filenames; here ``done_shards`` holds the
    ``shard_id``s of the ``_stats`` manifest (None: nothing to resume) —
    same semantics, no filename parsing. A literal IN list, not a join:
    the manifest is already on the driver, so the filter costs no job."""
    if not done_shards:
        return df
    return df.filter(~F.col("shard_id").isin(sorted(set(done_shards))))
