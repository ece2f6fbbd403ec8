"""Per-shard statistics (reference A1-A5, `logger.py`).

The reference runs a monitor *process* polling per-shard JSON files every
5 seconds (`logger.py:224-276`); here stats are one aggregation over the
result frame, collected to the driver once and persisted as the
``_stats`` manifest that also drives incremental resume (P4). The
roll-up across shards runs on that manifest in driver memory.

Semantics corrections vs the reference (SURVEY §2.1 quirks): no
ZeroDivision when a doc has zero successful pages (`downloader.py:217`),
counts are exact, and the persisted field name ``failed_to_resize`` (an
img2dataset vestige for what is really failed_to_extract,
`logger.py:162-191`) is kept for schema parity.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOP_K_ERRORS = 10


def _tally(status: str):
    return F.sum(F.when(F.col("status") == status, 1).otherwise(0))


def shard_stats(pages: DataFrame) -> DataFrame:
    """count / successes / failures / error histogram per shard.

    One shape: a count per (shard, error message), then one row per shard.
    The counters are sums of the per-message counts, and the A2/A3 top-k
    error histogram sorts each shard's messages by count desc, then
    message asc, and keeps the first ``TOP_K_ERRORS`` — exact (the
    reference's CappedCounter is a memory-bound approximation,
    `logger.py:13-43`). The message list is per shard, so it is bounded
    by the shard's size. ``status_dict`` is null for a shard with no
    errors."""
    per_msg = pages.groupBy("shard_id", "error_message").agg(
        F.count("*").alias("n"),
        _tally("success").alias("s"),
        _tally("failed_to_download").alias("d"),
        _tally("failed_to_extract").alias("e"),
    )
    errors = F.collect_list(
        F.when(
            F.col("error_message").isNotNull(),
            F.struct((-F.col("n")).alias("rank"), "error_message", "n"),
        )
    )
    top = F.slice(F.array_sort(errors), 1, TOP_K_ERRORS)
    hist = F.map_from_entries(
        F.transform(top, lambda e: F.struct(e["error_message"], e["n"]))
    )
    return (
        per_msg.groupBy("shard_id")
        .agg(
            # coalesce keeps count non-nullable, as count(*) is
            F.coalesce(F.sum("n"), F.lit(0)).alias("count"),
            F.sum("s").alias("successes"),
            F.sum("d").alias("failed_to_download"),
            F.sum("e").alias("failed_to_resize"),  # reference's legacy name
            F.when(F.size(top) > 0, hist).alias("status_dict"),
        )
        .withColumn(
            "success_ratio",
            F.round(F.col("successes") / F.col("count"), 4),
        )
    )


def rollup(stats):
    """A4/A5: the one-row roll-up across shards (the monitor's summary),
    over a ``_stats`` manifest held as a pyarrow Table."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def total(col):
        return pc.sum(stats[col]).as_py()

    count, ok = total("count"), total("successes")
    ratio = None
    if count:
        # Spark's round(): HALF_UP on the shortest decimal form
        ratio = float(
            Decimal(repr(ok / count)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        )
    longs = {
        "n_shards": stats.num_rows,
        "count": count,
        "successes": ok,
        "failed_to_download": total("failed_to_download"),
        "failed_to_extract": total("failed_to_resize"),
    }
    cols = {k: pa.array([v], pa.int64()) for k, v in longs.items()}
    cols["success_ratio"] = pa.array([ratio], pa.float64())
    return pa.table(cols)


def global_rollup(stats: DataFrame) -> DataFrame:
    """``rollup`` of a stats frame, as a one-row frame."""
    return stats.sparkSession.createDataFrame(rollup(stats.toArrow()))
