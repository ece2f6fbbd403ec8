"""Structured Streaming over the events table.

Batch analogs of these queries are oracle-gated (Q30 tumbling buckets, Q31
sessionization); the streaming forms add watermarks and incremental state —
DuckDB cannot oracle a stream, so the tests assert streaming results equal
the batch results on the same (finite) input, which is the strongest
available check.

The events parquet carries TIMESTAMP(NANOS); the stream reader applies the
same nanos→µs conversion as the batch loader (session.load_table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2dataset_spark.operators.time_travel import land_batch
from doc2dataset_spark.streaming.util import run_batchwise


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (one-file micro-batch source —
    in production this is Kafka/Kinesis; the transformations are
    source-agnostic)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    import os

    batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # the sf dir holds the other tables too: pathGlobFilter scopes the
    # stream to the events file
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    from doc2dataset_spark.session import normalize_ts

    # withWatermark rejects both bigint-nanos and TIMESTAMP_NTZ; the shared
    # helper applies the same normalization the batch loader uses, so
    # stream==batch equivalence can't be broken by an encoding change
    return normalize_ts(stream)


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-hour tumbling window counts + value sums with late-data watermark
    (streaming twin of q30_time_bucket)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(38,6)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionize_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """session_window sessionization (streaming twin of q31_sessionize's
    lag+cumsum — the native stateful operator: sessions close when no event
    arrives within `gap`)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def run_to_memory(
    spark: SparkSession, agg: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a finite stream to completion into an in-memory table
    (the local smoke harness: no checkpoint, nothing to replay)."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup via dropDuplicatesWithinWatermark: drops every
    record whose (user_id, event_type, ts) was already seen within the
    watermark horizon — the streaming twin of dedup_exact, with state
    bounded by the watermark instead of growing forever (the property that
    makes exactly-once ingestion dedup viable on an unbounded 100 TB/day
    stream; plain dropDuplicates would accumulate state without bound)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )


def run_foreach_batch_upsert(
    spark: SparkSession, agg: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Micro-batch sink with idempotent-by-batch-id semantics: each
    micro-batch of the aggregation's update-mode output overwrites ONLY
    its own ``batch_id=<n>`` partition, so a batch replayed after a
    failure rewrites the same files instead of duplicating them —
    exactly-once output on top of an at-least-once stream, the standard
    production pattern when the target (plain parquet here) has no
    transactions (replay rules: streaming/util.py). Blocks until
    drained."""
    run_batchwise(
        agg,
        checkpoint_dir,
        lambda df, bid: land_batch(df, out_dir, bid),
        [out_dir],
        output_mode="update",
    )


def interval_join_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stream-stream interval join: every view event joined to the same
    user's click events landing within 30 minutes AFTER the view — the
    attribution join (impression→conversion) that, on a real pipeline,
    runs over two unbounded Kafka topics.

    Both sides carry a watermark and the join condition carries an
    explicit time range; together they bound the join state Spark must
    keep (views older than watermark+30min can never match a future
    click and are evicted — without the range condition the state would
    grow forever, the stream-stream-join scale trap). Inner join +
    append mode: a result row is emitted once both sides are final.

    The batch twin is the identical join on the static table; the test
    asserts equality, the strongest oracle a stream has."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    return views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


def sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """2-hour windows sliding every hour (streaming twin of the batch
    events_sliding_counts query): window() assigns each event to
    width/slide = 2 overlapping windows; the watermark bounds state to
    the windows still receiving events. Window starts are emitted as
    epoch hours so the batch twin's (win_start, event_type, n) rows are
    directly comparable."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.expr("unix_micros(w.start) DIV 3600000000").alias("win_start"),
            "event_type",
            "n",
        )
    )


def interval_join_stream_outer(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: like
    ``interval_join_stream`` but views with NO click inside their
    30-minute window are ALSO emitted, null-extended — the attribution
    join that accounts for non-converting impressions.

    The outer side makes the watermark semantics visible: an unmatched
    view row can only be emitted once the watermark guarantees no
    matching click can still arrive (wm > v_ts + 30min) — so, unlike the
    inner join, the tail of the stream (younger than the final
    watermark) is HELD BACK, and a finite replay emits the unmatched
    rows only up to max(event_ts) - watermark_delay - 30min. The test
    pins exactly that: matched rows equal the batch join; null rows
    sandwich between the strict and lax boundary interpretations of the
    final watermark. On an unbounded stream this is invisible (the
    watermark keeps moving); on a bounded one it is the honest
    semantics, documented rather than papered over."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    return views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )
