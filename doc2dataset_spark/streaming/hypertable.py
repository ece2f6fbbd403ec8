"""Incremental hypertable continuous aggregate: the hourly-partial LOG.

``queries/timeseries_hypertable.events_hypertable_rollup`` proves the
granularity chain (hour → day → month re-aggregation is lossless) but
recomputes the hourly partials FROM RAW on every call. A 100 TB cagg
never does that: new events land as per-batch HOURLY PARTIALS
(count + exact-decimal sum — map-side combinable, ≤ |hours touched|
rows per batch regardless of batch size), the served rollup folds the
partial log per hour (decimal addition is exact and associative, so
fold-of-partials == one-pass recompute, bit for bit), and day/month
re-aggregate the folded hours exactly as the batch query does. Raw
events are read once — at ingest.

Pieces, each on an established idiom:

- ``run_hypertable_ingest``   one ``hourly/batch_id=<n>`` partition
                              per micro-batch (the replay rules in
                              streaming/util.py's module docstring).
- ``serve_hypertable``        fold partials per hour, emit the
                              hour/day/month union — SHARED expressions
                              with the batch query (imported from
                              timeseries_hypertable), so stream ==
                              batch is structural.
- ``compact_hypertable_partials``  merge batches ``<= upto`` into ONE
                              folded ``batch_id=upto`` partition (the
                              log stays O(hours), not O(hours×batches))
                              through the compaction publish protocol
                              (operators/index_maintenance docstring).

Batch twins live in queries/timeseries_hypertable (``rollup_hypertable_
incremental`` / ``_compacted``), both hash-matched against the SAME
direct-from-raw DuckDB oracle as events_hypertable_rollup — the
external proof that N incremental batches, folded (and compacted),
equal one batch recompute.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2dataset_spark import fsio
from doc2dataset_spark.operators.time_travel import (
    clear_batch,
    forget_batch_time,
    land_batch,
    list_batches,
    read_snapshot,
)
from doc2dataset_spark.queries.timeseries_hypertable import _ht_emit, _ht_level
from doc2dataset_spark.streaming.util import run_batchwise


def hourly_partial(events: DataFrame) -> DataFrame:
    """One batch's hourly partials: (bucket, n_events, dec_total) with
    the sum kept DECIMAL(38,6) — the exact-mergeable partial the whole
    module rests on (identical expressions to the batch query's hourly
    level, timeseries_hypertable.events_hypertable_rollup)."""
    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("decimal(38,6)")
        .alias("dec_total"),
    )


def _hourly_path(out_dir: str) -> str:
    return posixpath.join(out_dir, "hourly")


def run_hypertable_ingest(
    spark: SparkSession,
    events_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Land one hourly-partials frame per micro-batch through
    ``ingest_hypertable_batch``. A fresh-checkpoint replay over a
    COMPACTED partial log refuses up front. Blocks until drained."""
    hdir = _hourly_path(out_dir)
    run_batchwise(
        events_stream,
        checkpoint_dir,
        lambda df, bid: ingest_hypertable_batch(df, out_dir, bid),
        [hdir],
        refuse_roots=[hdir],
    )


def ingest_hypertable_batch(
    batch_df: DataFrame, out_dir: str, batch_id: int
) -> int:
    """ONE batch through the unbounded ingest — the step of
    run_hypertable_ingest and of the batch-side log builder
    (queries/timeseries_hypertable): the batch's hourly partials land
    exactly under ``hourly/batch_id=<n>`` with their landing time (a
    zero-row recompute clears the partition and forgets the time).
    Returns the partial rows landed."""
    return land_batch(
        hourly_partial(batch_df),
        _hourly_path(out_dir),
        batch_id,
        record_time=True,
    )


def fold_hourly(partials: DataFrame) -> DataFrame:
    """Collapse the partial log to one row per hour — exact decimal
    addition, so the fold equals the one-pass hourly aggregate no
    matter how the batches sliced the events."""
    return partials.groupBy("bucket").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("dec_total").cast("decimal(38,6)").alias("dec_total"),
    )


def _serve_levels(partials: DataFrame) -> DataFrame:
    """Fold raw partials per hour and emit the hour/day/month union —
    ONE serve chain shared by the live and as-of reads, so a future
    change (new level, rounding, checkpoint tweak) can never make a
    snapshot diverge from the live serve."""
    hourly = fold_hourly(partials).localCheckpoint(eager=False)
    daily = _ht_level(hourly, "bucket", "day").localCheckpoint(eager=False)
    monthly = _ht_level(daily, "bucket", "month")
    return (
        _ht_emit(hourly, "hour")
        .unionByName(_ht_emit(daily, "day"))
        .unionByName(_ht_emit(monthly, "month"))
    )


def serve_hypertable(spark: SparkSession, out_dir: str) -> DataFrame:
    """The served cagg: hour/day/month from the folded partial log —
    raw events are never touched. Column-identical to
    events_hypertable_rollup (shared emit/level helpers)."""
    return _serve_levels(
        spark.read.parquet(_hourly_path(out_dir)).drop("batch_id")
    )


def compact_hypertable_partials(
    spark: SparkSession, out_dir: str, upto_batch: int
) -> dict:
    """Fold batches ``<= upto_batch`` into ONE ``batch_id=upto_batch``
    partition holding one row per hour; later batches' partition dirs
    are renamed in untouched (cost O(head)). Unlike
    compact_index_history this REDUCES rows (partials of the same hour
    merge), which is exactly why the serve-side fold stays cheap as
    batches accumulate. Published through the compaction protocol
    (operators/index_maintenance docstring), horizon upto_batch.

    Returns {batches_before, batches_after, rows_before, rows_after}.
    """
    from doc2dataset_spark.operators.index_maintenance import (
        compaction_fs,
        publish_compaction,
    )

    hdir = _hourly_path(out_dir)
    fs, p = compaction_fs(hdir)
    batches = list_batches(hdir)

    log = spark.read.parquet(hdir)
    rows_before = log.count()
    head = fold_hourly(
        log.filter(F.col("batch_id") <= upto_batch).drop("batch_id")
    ).withColumn("batch_id", F.lit(upto_batch))
    publish_compaction(
        hdir,
        lambda tmp_url: (
            head.repartition(1, F.col("batch_id"))
            .write.partitionBy("batch_id")
            .parquet(tmp_url)
        ),
        [b for b in batches if b > upto_batch],
        horizon=upto_batch,
    )
    rows_after = spark.read.parquet(hdir).count()
    # head-size sidecar for decide_hypertable_compaction: the folded
    # head's row count (= hours covered, one row per hour) via a
    # partition-pruned count of the one folded partition. Counting the
    # WRITTEN partition (O(hours) parquet rows) is deliberately cheaper
    # than counting the in-memory `head` frame, whose lineage re-runs
    # the whole-log fold. Best-effort, refreshed every compaction — a
    # crash before this write just means the next auto decision
    # re-counts the head the same way.
    head_rows = (
        spark.read.parquet(hdir)
        .filter(F.col("batch_id") == upto_batch)
        .count()
    )
    _write_compact_stats(fs, p, upto_batch, head_rows)
    return {
        "batches_before": len(batches),
        "batches_after": len(list_batches(hdir)),
        "rows_before": rows_before,
        "rows_after": rows_after,
    }


def _compact_stats_marker(hourly_path: str) -> str:
    return f"{hourly_path.rstrip('/')}__compact_stats.json"


def _write_compact_stats(fs, hourly_path: str, upto: int, head_rows: int):
    fsio.write_json_sidecar(
        fs,
        _compact_stats_marker(hourly_path),
        {"upto": int(upto), "head_rows": int(head_rows)},
    )


def decide_hypertable_compaction(
    spark: SparkSession,
    out_dir: str,
    factor: int = 8,
    min_tail_batches: int = 2,
) -> dict:
    """The ``compact="auto"`` cadence decision (round-14 verdict, Next
    round #6), derived from the log's OWN sidecar counters — never a
    data scan: fire when the serve-side fold input (folded head rows +
    the per-batch ``n_partial_rows`` counters the watermarked ingest
    records in its wm snapshots) exceeds ``factor`` × the estimated
    hour count. The hour estimate is max(head rows, largest single
    batch's partial rows) — each is a lower bound on the true hour
    count (the head holds one row per covered hour; one batch's
    partials are ≤ one row per hour it touched), so the estimate only
    DELAYS firing, never fires early. This is exactly the knee the
    ht-depth pricing table measured (BASELINE.md): fold input pinned
    near O(hours) keeps the serve flat; letting it grow to
    O(hours × batches) doubles the serve by depth 200.

    Cost: one read of the wm sidecar (one tiny row per batch) + the
    compact-stats sidecar (one JSON); the first decision after a
    pre-stats compaction falls back to ONE partition-pruned count of
    the folded head. Legacy wm snapshots without the counter return
    fire=False (reason "legacy") — the caller compacts manually.

    Returns {fire, fold_input_rows, hours_est, head_rows, tail_rows,
    tail_batches, horizon, reason}.
    """
    import json

    from doc2dataset_spark.operators.index_maintenance import (
        compaction_horizon,
    )

    hdir = _hourly_path(out_dir)
    fs, p = fsio.url_to_fs(hdir)
    out = {
        "fire": False,
        "fold_input_rows": None,
        "hours_est": None,
        "head_rows": 0,
        "tail_rows": 0,
        "tail_batches": 0,
        "horizon": None,
        "reason": "",
    }
    wdir = _wm_path(out_dir)
    wfs, wp = fsio.url_to_fs(wdir)
    if not wfs.exists(wp):
        out["reason"] = "no wm sidecar (unbounded ingest) — compact manually"
        return out
    horizon = compaction_horizon(fs, p) if fs.exists(p) else None
    out["horizon"] = horizon

    head_rows = 0
    if horizon is not None:
        marker = _compact_stats_marker(p)
        if fs.exists(marker):
            with fs.open(marker, "rb") as fh:
                st = json.loads(fh.read().decode())
            if int(st["upto"]) == horizon:
                head_rows = int(st["head_rows"])
        if head_rows == 0:
            # pre-stats compaction: one partition-pruned head count
            head_rows = (
                spark.read.parquet(hdir)
                .filter(F.col("batch_id") == horizon)
                .count()
            )
    out["head_rows"] = head_rows

    wm_df = spark.read.option("mergeSchema", "true").parquet(wdir)
    if "n_partial_rows" not in wm_df.columns:
        # a FULLY pre-round-15 sidecar: mergeSchema can only surface the
        # column if at least one file carries it, so selecting it would
        # crash instead of reaching the per-row legacy guard below
        out["reason"] = (
            "legacy wm snapshots lack n_partial_rows — compact manually"
        )
        return out
    snaps = wm_df.select("batch_id", "n_partial_rows").collect()
    tail = [
        r
        for r in snaps
        if horizon is None or int(r["batch_id"]) > horizon
    ]
    if any(r["n_partial_rows"] is None for r in tail):
        out["reason"] = (
            "legacy wm snapshots lack n_partial_rows — compact manually"
        )
        return out
    tail_rows = sum(int(r["n_partial_rows"]) for r in tail)
    max_batch = max(
        (int(r["n_partial_rows"]) for r in tail), default=0
    )
    hours_est = max(head_rows, max_batch, 1)
    fold_input = head_rows + tail_rows
    out.update(
        fold_input_rows=fold_input,
        hours_est=hours_est,
        tail_rows=tail_rows,
        tail_batches=len(tail),
    )
    if len(tail) < min_tail_batches:
        out["reason"] = f"only {len(tail)} tail batches — nothing to fold"
        return out
    if fold_input <= factor * hours_est:
        out["reason"] = (
            f"fold input {fold_input} <= {factor} x {hours_est} hours"
        )
        return out
    out["fire"] = True
    out["reason"] = (
        f"fold input {fold_input} > {factor} x {hours_est} hours"
    )
    return out


def serve_hypertable_asof(
    spark: SparkSession, out_dir: str, as_of_batch: int
) -> DataFrame:
    """The cagg as it stood after partial batch N landed: the same
    hour/day/month fold restricted to ``batch_id <= N`` — a
    partition-pruned prefix read of the hourly log, composing the
    hypertable with the time-travel surface (operators/time_travel.py).
    Refuses when N predates the compaction horizon (those partials were
    folded; the finalized-history contract every log family shares)."""
    from doc2dataset_spark.operators.time_travel import read_postings_asof

    return _serve_levels(
        read_postings_asof(spark, _hourly_path(out_dir), as_of_batch).drop(
            "batch_id"
        )
    )


def serve_hypertable_asof_ts(
    spark: SparkSession, out_dir: str, as_of_ts_us: int
) -> DataFrame:
    """serve_hypertable_asof addressed by wall/event time, resolved
    through the hourly log's landing-time manifest (written per batch by
    run_hypertable_ingest and the batch-side builder)."""
    from doc2dataset_spark.operators.time_travel import resolve_asof_ts

    return serve_hypertable_asof(
        spark, out_dir, resolve_asof_ts(_hourly_path(out_dir), as_of_ts_us)
    )


# ---------------------------------------------------------------------------
# Late-data handling: watermarked ingest + bucket finality
# (round-13 verdict, Next round #1)
# ---------------------------------------------------------------------------
#
# The plain ingest needs no arrival order for CORRECTNESS — hourly
# partials merge associatively (exact decimal sums), so any arrival
# order folds to the same rollup (tests pin a reversed-time stream).
# What it cannot offer is FINALITY: a downstream consumer can never
# cache an hour's row, because the next batch may legally carry events
# for any hour, forever. TimescaleDB's cagg answers this with a
# materialization threshold plus an invalidation log; Spark's own
# watermarked aggregations answer it with a lateness bound. This is
# that surface on the partial-log idiom:
#
# - the caller declares a LATENESS BOUND L: an event with timestamp t
#   may arrive any time before max-event-time reaches t + L (the same
#   contract Spark watermarks make);
# - per batch the watermark advances to (max ts seen) − L, persisted in
#   a ``wm/batch_id=<n>`` sidecar (the replay-correct snapshot-per-batch
#   idiom of streaming/asof.py) together with the batch's invalidation
#   accounting: how many rows arrived late (below the prior max) and
#   how many hour buckets they RE-OPENED — TimescaleDB's invalidation
#   log, as numbers instead of ranges, because the re-fold itself is
#   free here (fold_hourly is per-hour and associative; a re-opened
#   bucket just gains one more partial row — "invalidated-bucket
#   re-fold" is the serve-side fold, compaction unchanged);
# - an hour bucket is SEALED once the watermark passes its end: every
#   event that could land in it has provably arrived, so its folded row
#   is FINAL — cache it forever (serve_hypertable_final);
# - a batch whose min ts is BELOW the prior watermark violates the
#   bound and RAISES: it would silently change a bucket a consumer was
#   promised is final (the run_asof_attribution refusal discipline,
#   aimed at the watermark instead of the running max).
#
# stream == batch under any in-bound arrival order: the full serve
# (serve_hypertable) still hash-matches the direct-from-raw oracle —
# queries/timeseries_hypertable.rollup_hypertable_late replays an out-of-order
# slicing through this exact per-batch core.


def _wm_path(out_dir: str) -> str:
    return posixpath.join(out_dir, "wm")


def _rejected_path(out_dir: str) -> str:
    return posixpath.join(out_dir, "rejected")


def hypertable_wm_state(
    spark: SparkSession, out_dir: str, before_batch: int | None = None
) -> dict | None:
    """{max_ts_us, wm_us, n_late_rows, n_reopened_hours} from the newest
    wm snapshot (optionally strictly before ``before_batch`` — the
    replay-correct read), or None before any event has been seen."""
    snap = read_snapshot(spark, _wm_path(out_dir), before_batch)
    if snap is None:
        return None
    d = snap.first().asDict()
    return {
        "max_ts_us": int(d["max_ts_us"]),
        "wm_us": int(d["wm_us"]),
        "n_late_rows": int(d["n_late_rows"]),
        "n_reopened_hours": int(d["n_reopened_hours"]),
        # absent in pre-deadletter logs (refuse-mode only): default 0
        "n_dropped_rows": int(d.get("n_dropped_rows", 0)),
        # absent in pre-round-15 logs (no auto-compaction counters):
        # None = unknown, and decide_hypertable_compaction won't fire
        "n_partial_rows": (
            None
            if d.get("n_partial_rows") is None
            else int(d["n_partial_rows"])
        ),
    }


def ingest_hypertable_late_batch(
    batch_df: DataFrame,
    out_dir: str,
    batch_id: int,
    lateness_us: int,
    on_late: str = "refuse",
) -> dict:
    """ONE batch through the watermarked ingest — the shared core of the
    streaming per-batch step and the batch-side log builder
    (queries/timeseries_hypertable), so stream == batch is structural.

    ``on_late`` decides what happens to events below the PRIOR
    watermark (the lateness contract violated — their hour buckets were
    already promised final):

    - ``"refuse"`` (default): RAISE on the whole batch — the
      stop-the-pipeline posture for feeds that are supposed to honor
      the bound, where a violation means something upstream broke.
    - ``"drop"``: Spark's own watermark semantics made auditable — the
      too-late rows are diverted to a ``rejected/batch_id=<n>``
      DEAD-LETTER log (never folded into partials; sealed buckets stay
      immutable), counted in the wm sidecar (``n_dropped_rows``), and
      the rest of the batch proceeds normally. The dead letters keep
      their full rows, so an operator can inspect, re-window, or
      replay them into a wider-bound table later.

    Lands the (kept) batch's hourly partials (land_batch — zero-row
    replays delete the stale partition) and the advanced wm
    snapshot with this batch's invalidation accounting. Returns the wm
    snapshot dict it persisted (zeros/None fields for an empty batch,
    which advances nothing)."""
    if on_late not in ("refuse", "drop"):
        raise ValueError(f"on_late={on_late!r}: pass 'refuse' or 'drop'")
    s = batch_df.sparkSession
    batch_df = batch_df.localCheckpoint(eager=True)
    # one job for count AND ts bounds — this runs per micro-batch on
    # the streaming hot path (count(*) counts rows; min/max skip NULLs)
    bounds = batch_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).first()
    n_rows = int(bounds["n"])
    prior = hypertable_wm_state(s, out_dir, before_batch=batch_id)
    hdir = _hourly_path(out_dir)
    wdir = _wm_path(out_dir)
    rdir = _rejected_path(out_dir)

    # empty means ZERO ROWS, not zero non-NULL timestamps: min/max
    # ignore NULLs, so an all-NULL-ts batch has lo=None yet must land
    # its NULL-bucket partials exactly as every other path does (the
    # round-14 advice fix) — branching on bounds here would silently
    # discard it AND delete a live incarnation's partition.
    if n_rows == 0:
        # empty recompute: clear any dead incarnation's partitions for
        # this id — its partials would double-count, its wm snapshot
        # would raise spurious lateness errors against the new stream,
        # and its landing time would clamp the next real batch's time
        # upward and misdirect timestamp resolution
        for root in (hdir, wdir, rdir):
            clear_batch(root, batch_id)
        return {
            "max_ts_us": None,
            "wm_us": None,
            "n_late_rows": 0,
            "n_reopened_hours": 0,
            "n_dropped_rows": 0,
            "n_partial_rows": 0,
        }

    lo = None if bounds["lo"] is None else int(bounds["lo"])
    hi = None if bounds["hi"] is None else int(bounds["hi"])
    n_dropped = 0
    # lo=None (all NULL ts) skips the lateness check: a NULL-ts row has
    # no event time to compare, so it is never provably late
    if prior is not None and lo is not None and lo < prior["wm_us"]:
        if on_late == "refuse":
            raise RuntimeError(
                f"batch {batch_id} violates the lateness bound: its min "
                f"event ts ({lo} us) is below the watermark "
                f"({prior['wm_us']} us = prior max {prior['max_ts_us']} - "
                f"lateness {lateness_us}). Hour buckets at or below the "
                "watermark are SEALED — serve_hypertable_final already "
                "promised them immutable to downstream consumers. Widen "
                "the lateness bound, route this feed through the "
                "unbounded run_hypertable_ingest (no finality surface), "
                "or use on_late='drop' to dead-letter the violators"
            )
        wm_prior = prior["wm_us"]
        dropped = batch_df.filter(F.unix_micros("ts") < F.lit(wm_prior))
        n_dropped = land_batch(dropped, rdir, batch_id)
        # NULL-ts rows are NOT provably late (no event time to compare)
        # and must not silently vanish between the two filters: keep
        # them, folding into the NULL hour bucket exactly as the
        # first-batch / refuse-mode / unbounded paths do
        batch_df = batch_df.filter(
            (F.unix_micros("ts") >= F.lit(wm_prior))
            | F.col("ts").isNull()
        ).localCheckpoint(eager=True)
        kept = batch_df.agg(
            F.min(F.unix_micros("ts")).alias("lo"),
            F.max(F.unix_micros("ts")).alias("hi"),
        ).first()
        hi = None if kept["hi"] is None else int(kept["hi"])
    else:
        # replay correctness: a prior incarnation may have dead-lettered
        # rows under this id that the recompute no longer drops
        clear_batch(rdir, batch_id)

    n_late = n_reopened = 0
    if prior is not None and hi is not None:
        # invalidation accounting: (kept) rows below the prior max
        # re-open their (not-yet-sealed) hour buckets for the
        # serve-side re-fold; dead-lettered rows are counted separately
        late = batch_df.filter(
            F.unix_micros("ts") < F.lit(prior["max_ts_us"])
        )
        row = late.agg(
            F.count("*").alias("n"),
            F.countDistinct(F.date_trunc("hour", F.col("ts"))).alias("h"),
        ).first()
        n_late, n_reopened = int(row["n"]), int(row["h"])

    # no `or`-floor on the running max: pre-epoch timestamps are
    # negative µs (the round-13 advice lesson from the as-of sidecar).
    # hi is None when drop mode dead-lettered the ENTIRE batch or when
    # every row's ts is NULL — the wm then carries the prior state
    # forward unchanged; with no prior either, there is no event-time
    # knowledge yet and no wm snapshot is written (see below).
    if hi is None:
        max_ts = None if prior is None else prior["max_ts_us"]
    else:
        max_ts = hi if prior is None else max(hi, prior["max_ts_us"])
    if max_ts is None:
        wm = None
    else:
        wm = max_ts - int(lateness_us)
        if prior is not None:
            # monotone clamp (round-14 advice): a restart with a WIDER
            # lateness bound (or a typo) must not move the watermark
            # backward — events below the old wm would then be accepted
            # and mutate buckets serve_hypertable_final already promised
            # immutable to downstream caches. Mirrors the max_ts clamp.
            wm = max(wm, prior["wm_us"])

    # zero kept rows (all dead-lettered) clear the partition and forget
    # its landing time
    n_partial_rows = ingest_hypertable_batch(batch_df, out_dir, batch_id)
    snap = {
        "max_ts_us": max_ts,
        "wm_us": wm,
        "n_late_rows": n_late,
        "n_reopened_hours": n_reopened,
        "n_dropped_rows": n_dropped,
        # the auto-compaction counter: how many partial rows this batch
        # landed (decide_hypertable_compaction sums these — never a
        # data scan)
        "n_partial_rows": n_partial_rows,
    }
    if max_ts is None:
        # NULL-ts-only FIRST batch: the NULL-bucket partials landed
        # above, but no event time has ever been seen, so no watermark
        # exists yet — writing a NULL snapshot would crash every reader.
        # Clear any dead incarnation's snapshot for this id and return.
        clear_batch(wdir, batch_id)
        return snap
    land_batch(
        s.createDataFrame(
            [(max_ts, wm, n_late, n_reopened, n_dropped, n_partial_rows)],
            "max_ts_us bigint, wm_us bigint, "
            "n_late_rows bigint, n_reopened_hours bigint, "
            "n_dropped_rows bigint, n_partial_rows bigint",
        ),
        wdir,
        batch_id,
    )
    return snap


def run_hypertable_ingest_late(
    spark: SparkSession,
    events_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    lateness_us: int,
    on_late: str = "refuse",
    compact: str | None = None,
    compact_factor: int = 8,
) -> None:
    """run_hypertable_ingest with a lateness bound: watermarked partial
    ingest + the bucket-finality surface (module comment above). Same
    replay rules (streaming/util.py), swept over the hourly, wm AND
    rejected logs. Blocks until drained. ``on_late``: see
    ingest_hypertable_late_batch — 'refuse' (default) stops the stream
    on a bound violation; 'drop' dead-letters the violators and keeps
    going.

    ``compact="auto"`` (opt-in): after each batch, fold the log head
    whenever decide_hypertable_compaction's sidecar counters say the
    serve-side fold input exceeded ``compact_factor`` × the hour count
    — the measured ht-depth knee, self-tuned instead of hand-picked.
    Auto-compaction folds up to the PREVIOUS batch only: the current
    batch's checkpoint commit may still be pending, and a crash-replay
    of it must overwrite its own un-folded partition, never the folded
    head (the same-checkpoint replay discipline)."""
    if compact not in (None, "auto"):
        raise ValueError(f"compact={compact!r}: pass None or 'auto'")
    hdir = _hourly_path(out_dir)
    run_batchwise(
        events_stream,
        checkpoint_dir,
        lambda df, bid: ingest_hypertable_late_step(
            df, out_dir, bid, lateness_us, on_late, compact, compact_factor
        ),
        [hdir, _wm_path(out_dir), _rejected_path(out_dir)],
        refuse_roots=[hdir],
    )


def ingest_hypertable_late_step(
    batch_df: DataFrame,
    out_dir: str,
    batch_id: int,
    lateness_us: int,
    on_late: str = "refuse",
    compact: str | None = None,
    compact_factor: int = 8,
) -> dict:
    """run_hypertable_ingest_late's per-batch step, shared with the
    batch-side auto-compaction log builder (queries/
    timeseries_hypertable): ingest_hypertable_late_batch, then with
    ``compact="auto"`` fold the head up to the PREVIOUS batch whenever
    decide_hypertable_compaction fires. Returns the wm snapshot dict."""
    snap = ingest_hypertable_late_batch(
        batch_df, out_dir, batch_id, lateness_us, on_late=on_late
    )
    if compact == "auto" and batch_id > 0:
        spark = batch_df.sparkSession
        if decide_hypertable_compaction(
            spark, out_dir, factor=compact_factor
        )["fire"]:
            compact_hypertable_partials(
                spark, out_dir, upto_batch=batch_id - 1
            )
    return snap


def _final_before(df: DataFrame, granularity: str, wm_us: int) -> DataFrame:
    """Rows whose bucket END is at or below the watermark — every event
    that could land in them has provably arrived, so they are final."""
    end = F.col("bucket") + F.expr(f"INTERVAL 1 {granularity}")
    return df.filter(F.unix_micros(end) <= F.lit(int(wm_us)))


def _final_levels(partials: DataFrame, wm_us: int) -> DataFrame:
    """The sealed-prefix twin of _serve_levels — ONE chain shared by the
    live final serve and its as-of snapshot, so a future level/rounding
    change cannot make the two (or their unsealed sibling) diverge: the
    SAME fold/level/emit helpers, with the per-level end-≤-wm filter."""
    hourly = fold_hourly(partials).localCheckpoint(eager=False)
    daily = _ht_level(hourly, "bucket", "day").localCheckpoint(eager=False)
    monthly = _ht_level(daily, "bucket", "month")
    return (
        _ht_emit(_final_before(hourly, "hour", wm_us), "hour")
        .unionByName(_ht_emit(_final_before(daily, "day", wm_us), "day"))
        .unionByName(
            _ht_emit(_final_before(monthly, "month", wm_us), "month")
        )
    )


def serve_hypertable_final(spark: SparkSession, out_dir: str) -> DataFrame:
    """The SEALED prefix of the cagg: only buckets the watermark has
    passed, at every granularity (an hour seals when wm crosses its
    end; a day only when its whole day has sealed; a month its whole
    month). These rows are immutable forever — the contract a
    downstream cache or export needs, and exactly what the lateness
    refusal in ingest_hypertable_late_batch protects. Same
    fold/level/emit expressions as serve_hypertable, filtered per level
    by bucket end ≤ wm, so a sealed row equals its live twin bit for
    bit (pytest pins immutability across later late batches)."""
    state = hypertable_wm_state(spark, out_dir)
    if state is None:
        raise ValueError(
            f"no watermark snapshot under {out_dir!r} — was this log "
            "built by run_hypertable_ingest_late / "
            "ingest_hypertable_late_batch? The unbounded ingest has no "
            "finality surface"
        )
    return _final_levels(
        spark.read.parquet(_hourly_path(out_dir)).drop("batch_id"),
        state["wm_us"],
    )


def serve_hypertable_final_asof(
    spark: SparkSession, out_dir: str, as_of_batch: int
) -> DataFrame:
    """The finality surface composed with time travel: the SEALED
    prefix exactly as serve_hypertable_final returned it right after
    partial batch N landed — the wm snapshot at-or-before N applied to
    the ``batch_id <= N`` prefix fold (both partition-pruned reads;
    horizon refusal shared with every as-of reader). Because sealed
    rows are immutable, every row of this snapshot is also a row of
    the LIVE final serve (the containment pytest pins it) — which is
    what makes the finality contract auditable retroactively: a
    consumer can prove the rows it cached at batch N are still served
    bit-identically today."""
    from doc2dataset_spark.operators.time_travel import read_postings_asof

    state = hypertable_wm_state(spark, out_dir, before_batch=as_of_batch + 1)
    if state is None:
        raise ValueError(
            f"no watermark snapshot at or before batch {as_of_batch} "
            f"under {out_dir!r} — was this log built by the watermarked "
            "ingest?"
        )
    return _final_levels(
        read_postings_asof(spark, _hourly_path(out_dir), as_of_batch).drop(
            "batch_id"
        ),
        state["wm_us"],
    )


def rejected_hypertable_rows(spark: SparkSession, out_dir: str) -> DataFrame:
    """The DEAD-LETTER log: every event on_late='drop' diverted, full
    rows with the batch_id that rejected them — inspect, re-window, or
    replay into a wider-bound table. Raises if no batch ever
    dead-lettered (distinguishing 'clean stream' from a typo'd path)."""
    rdir = _rejected_path(out_dir)
    fs, p = fsio.url_to_fs(rdir)
    if not fs.exists(p):
        raise ValueError(
            f"no dead-letter log under {out_dir!r} — no batch has "
            "dropped rows (or this log was built with on_late='refuse')"
        )
    return spark.read.parquet(rdir)


def serve_hypertable_gapfill(spark: SparkSession, out_dir: str) -> DataFrame:
    """TimescaleDB's ``time_bucket_gapfill`` + ``locf`` over the served
    cagg: densify the folded hourly level to a gapless grid (empty
    hours emit n_events=0, total NULL) and carry the last observed
    total forward. ONE chain shared by the batch registry row
    (queries/timeseries_hypertable.rollup_hypertable_gapfill — where the scale
    shape is documented: sequence() grid from the fold's own min/max,
    LOCF as the engine's own BUCKETED backward as-of join, no
    unpartitioned window) and the streaming serve-after-ingest twin
    (tests/test_streaming_hypertable), so the two can never diverge."""
    from doc2dataset_spark.operators.asof import asof_join

    week_us = 7 * 24 * 3600 * 1_000_000
    hourly = fold_hourly(
        spark.read.parquet(_hourly_path(out_dir)).drop("batch_id")
    ).select(
        "bucket",
        "n_events",
        F.round(F.col("dec_total"), 4).cast("double").alias("total"),
    )
    bounds = hourly.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket")
    ).withColumn("__k", F.lit(0))
    filled = asof_join(
        grid,
        hourly.withColumn("__k", F.lit(0)),
        on="bucket",
        by=("__k",),
        direction="backward",
        suffix="h_",
        bucket=week_us,
    )
    return filled.select(
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.when(F.col("asof_gap") == 0, F.col("h_n_events"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_events"),
        F.when(F.col("asof_gap") == 0, F.col("h_total")).alias("total"),
        F.col("h_total").alias("total_locf"),
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten: retroactive deletion vs finality
# (round-14 verdict, Next round #2)
# ---------------------------------------------------------------------------
#
# Every persisted index has an RTBF path (delete_from_postings and its
# per-index wrappers) because postings carry row identity: deletion
# rewrites exactly the partitions holding the doomed keys. The cagg
# does NOT carry row identity — a partial is (hour, count, sum) — so
# lawful erasure is TimescaleDB's decompress-and-invalidate problem:
# the rows to forget must come from the RAW side (the caller's own
# deletion request hands them over), their contribution is SUBTRACTED
# from the affected hours, and — the part finality makes hard — a
# bucket serve_hypertable_final already promised immutable may change.
# That is not a contract violation: GDPR deletion outranks the cache
# promise. What the contract owes downstream consumers instead is an
# AUDIT: a persisted, queryable record distinguishing "sealed" from
# "sealed-then-lawfully-revised", so a cache that pinned a now-revised
# bucket can find out it must refresh (hypertable_rtbf_audit /
# serve_hypertable_final_audited).
#
# History REWRITES on purpose — the contract read_postings_asof already
# states for every RTBF path ("minus any later right-to-be-forgotten
# deletions, which rewrite history"): after forget_hypertable_rows, NO
# serve surface (live, final, or as-of) ever shows the forgotten rows'
# contribution again. Because per-batch attribution of the forgotten
# rows is unknowable from aggregates, the affected hours' per-batch
# history is collapsed into the LATEST batch that touched them (the
# "anchor"): as-of reads at N >= anchor are EXACTLY "first N batches
# minus deletions"; reads at N < anchor simply omit the affected hours
# (conservative — old snapshots under-report rather than ever serving
# pre-deletion values). Untouched hours and untouched batch partitions
# are never read or rewritten.
#
# Crash safety rides the compaction publish protocol
# (operators/index_maintenance docstring; the manifest is tagged
# ``rtbf_request``, no horizon) plus a sibling
# ``__rtbf_log.json`` journal written BEFORE the swap as "pending" and
# flipped to "applied" after. Siblings survive every swap (the horizon
# and batch-times precedent). The pending record pins the affected
# hours' exact PRE and POST fold values (decimal strings — exact), so
# a retry after ANY crash window is decided by STATE, not by guesswork:
# live fold == post → the swap had published, flip to applied and
# no-op; live fold == pre → re-apply; neither → refuse (something else
# wrote in between; single-writer contract broken). Re-running an
# applied request_id is a no-op — RTBF-then-replay idempotence.


def _rtbf_marker(hourly_path: str) -> str:
    return f"{hourly_path.rstrip('/')}__rtbf_log.json"


def _read_rtbf_log(fs, hourly_path: str) -> list[dict]:
    marker = _rtbf_marker(hourly_path)
    if not fs.exists(marker):
        return []
    import json

    with fs.open(marker, "rb") as fh:
        return json.loads(fh.read().decode())["requests"]


def _write_rtbf_log(fs, hourly_path: str, records: list[dict]) -> None:
    fsio.write_json_sidecar(
        fs, _rtbf_marker(hourly_path), {"requests": records}
    )


def _rtbf_bucket_cond(us_list: list[int], has_null: bool):
    """Affected-hours membership as a Column, NULL-bucket aware: plain
    ``isin`` returns NULL for a NULL bucket and a negated NULL filters
    the row out — exactly the silent loss this helper prevents."""
    cond = F.lit(False)
    if us_list:
        cond = F.unix_micros(F.col("bucket")).isin(*us_list)
    if has_null:
        cond = cond | F.col("bucket").isNull()
    return F.coalesce(cond, F.lit(False))


def _rtbf_fold_hours(
    log: DataFrame, us_list: list[int], has_null: bool
) -> dict:
    """{bucket_us_or_None: (n_events, Decimal)} — the exact fold of the
    affected hours as the log currently serves them."""
    rows = (
        fold_hourly(
            log.filter(_rtbf_bucket_cond(us_list, has_null)).drop("batch_id")
        )
        .select(
            F.unix_micros("bucket").alias("b"), "n_events", "dec_total"
        )
        .collect()
    )
    return {
        (None if r["b"] is None else int(r["b"])): (
            int(r["n_events"]),
            r["dec_total"],
        )
        for r in rows
    }


def _rtbf_summary(rec: dict) -> dict:
    return {
        "request_id": rec["request_id"],
        "status": rec["status"],
        "n_forgotten_rows": sum(b["n_forgotten"] for b in rec["buckets"]),
        "n_buckets_revised": len(rec["buckets"]),
        "n_sealed_buckets_revised": sum(
            1 for b in rec["buckets"] if b["was_sealed"]
        ),
        "anchor_batch": rec.get("anchor"),
        "noop": rec.get("noop", False),
        "n_rejected_purged": rec.get("n_rejected_purged", 0),
    }


def forget_hypertable_rows(
    spark: SparkSession,
    out_dir: str,
    forget_events: DataFrame,
    request_id: str,
    key_col: str | None = None,
) -> dict:
    """Lawfully erase ``forget_events``' contribution from the cagg
    (module comment above): subtract their hourly partials from the
    affected hours, collapse those hours' per-batch history into the
    latest touched batch, journal the revision — including which
    revised buckets were SEALED at the time (the finality audit) — and
    publish via the transactional compaction swap.

    ``forget_events``: the raw event rows to erase (``ts`` + ``value``
    are the columns the cagg aggregates), handed over by the raw
    store's own deletion path. Rows that were never ingested REFUSE
    (their subtraction would corrupt the fold): every forgotten hour
    must exist in the log with at least the forgotten count, and an
    hour whose count reaches zero must also sum to zero.

    Cost at 100 TB: one column-pruned (bucket, batch_id) scan finds the
    touched partitions (parquet min/max skips the rest); only touched
    partitions are read and rewritten; untouched partitions are renamed
    in (metadata ops). Driver-side state is O(affected hours) — the
    same bounded-artifact budget every collect() in this repo obeys.

    ``key_col``: the DEAD-LETTER hole. Partials hold only aggregates,
    but an ``on_late="drop"`` log retains the diverted events as FULL
    ROWS under ``rejected/`` — personal data the partial-side erasure
    never touches. When a dead-letter log exists, this function REFUSES
    to run without ``key_col`` (the row-identity column, e.g.
    ``event_id``): pass it and the doomed keys are purged from the
    rejected log too (delete_from_postings — partition-scoped rewrite,
    emptied partitions removed, idempotent), or pass the erasure over a
    refuse-mode log (no rejected dir) where the hole cannot exist.
    Purge-then-subtract ordering makes every crash window safe: the
    purge is a re-runnable no-op once the keys are gone.

    Idempotent per ``request_id`` (an applied request no-ops and
    returns its recorded summary); crash-recoverable by state
    comparison (module comment). The watermark never moves: erasure
    revises history, it does not un-see event time.

    Returns {request_id, status, n_forgotten_rows, n_buckets_revised,
    n_sealed_buckets_revised, anchor_batch, noop, n_rejected_purged}.
    """
    from decimal import Decimal

    from doc2dataset_spark.operators.index_maintenance import (
        compaction_fs,
        publish_compaction,
    )

    hdir = _hourly_path(out_dir)
    fs, p = compaction_fs(hdir)
    if not fs.exists(p):
        raise ValueError(f"no hourly partial log under {out_dir!r}")
    rdir = _rejected_path(out_dir)
    rfs, rp = fsio.url_to_fs(rdir)
    has_deadletter = rfs.exists(rp)
    if has_deadletter and key_col is None:
        raise ValueError(
            f"{out_dir!r} has an on_late='drop' dead-letter log: the "
            "diverted events sit there as FULL ROWS that the "
            "partial-side erasure never touches. Pass key_col=<row "
            "identity column, e.g. 'event_id'> so the doomed keys are "
            "purged from rejected/ too — refusing to erase only the "
            "aggregates would silently retain the subject's raw data"
        )
    records = _read_rtbf_log(fs, p)
    mine = next(
        (r for r in records if r["request_id"] == request_id), None
    )
    if mine is not None and mine["status"] == "applied":
        return _rtbf_summary(mine)

    log = spark.read.parquet(hdir)

    if mine is None:
        # fresh request: pin the forgotten contribution and the exact
        # pre/post fold of every affected hour into a "pending" journal
        # entry BEFORE any mutation — the retry decider.
        # A subject's rows can be split between the partials (accepted)
        # and the dead-letter log (dropped, never folded): only the
        # accepted part subtracts from partials — the dropped part is
        # purged from rejected/ at apply. Assumes key_col is a true row
        # identity (an event is accepted XOR dead-lettered).
        contribution = forget_events
        if has_deadletter:
            contribution = forget_events.join(
                spark.read.parquet(rdir).select(key_col),
                on=key_col,
                how="left_anti",
            )
        fp_rows = (
            hourly_partial(contribution)
            .select(
                F.unix_micros("bucket").alias("b"), "n_events", "dec_total"
            )
            .collect()
        )
        if not fp_rows:
            # nothing to subtract from partials — but the request may
            # still have dead letters to purge (e.g. every one of the
            # subject's rows was dropped)
            n_purged = 0
            if has_deadletter:
                from doc2dataset_spark.operators.index_maintenance import (
                    delete_from_postings,
                )

                n_purged = int(
                    delete_from_postings(
                        spark,
                        rdir,
                        forget_events.select(key_col),
                        key_col=key_col,
                    )["rows_deleted"]
                )
            mine = {
                "request_id": request_id,
                "status": "applied",
                "noop": n_purged == 0,
                "anchor": None,
                "touched": [],
                "buckets": [],
                "n_rejected_purged": n_purged,
            }
            _write_rtbf_log(fs, p, [*records, mine])
            return _rtbf_summary(mine)
        fp = {
            (None if r["b"] is None else int(r["b"])): (
                int(r["n_events"]),
                r["dec_total"],
            )
            for r in fp_rows
        }
        us_list = [b for b in fp if b is not None]
        has_null = None in fp
        pre = _rtbf_fold_hours(log, us_list, has_null)

        def _dsub(d_p, d_f):
            # SUM over all-NULL values is NULL on both engines: a None
            # forgotten sum subtracts nothing; subtracting a real sum
            # from a None fold is the not-a-subset inconsistency below
            if d_f is None:
                return d_p
            if d_p is None:
                raise ValueError(
                    f"RTBF request {request_id!r}: forget set claims a "
                    f"non-NULL sum {d_f} for a bucket whose fold is "
                    "NULL — not a subset of what was ingested"
                )
            return d_p - d_f

        for b, (n_f, d_f) in fp.items():
            if b not in pre:
                raise ValueError(
                    f"RTBF request {request_id!r}: hour bucket "
                    f"{b} has no partials in the log — these rows were "
                    "never ingested here (wrong table, or already "
                    "forgotten under a different request_id)"
                )
            n_p, d_p = pre[b]
            residual = _dsub(d_p, d_f)
            if n_p - n_f < 0 or (
                n_p - n_f == 0 and (residual or 0) != 0
            ):
                raise ValueError(
                    f"RTBF request {request_id!r}: hour bucket {b} "
                    f"holds {n_p} events summing {d_p}, but the forget "
                    f"set claims {n_f} events summing {d_f} — the "
                    "forget set is not a subset of what was ingested"
                )
        wm_state = hypertable_wm_state(spark, out_dir)
        wm_us = None if wm_state is None else wm_state["wm_us"]

        def _sealed(bucket_us) -> bool:
            if bucket_us is None or wm_us is None:
                return False
            return bucket_us + 3600 * 1_000_000 <= wm_us

        touched = sorted(
            r["batch_id"]
            for r in log.filter(_rtbf_bucket_cond(us_list, has_null))
            .select("batch_id")
            .distinct()
            .collect()
        )
        mine = {
            "request_id": request_id,
            "status": "pending",
            "anchor": int(touched[-1]),
            "touched": [int(t) for t in touched],
            "wm_us_at_apply": wm_us,
            "buckets": [
                {
                    "bucket_us": b,
                    "n_forgotten": n_f,
                    "dec_forgotten": None if d_f is None else str(d_f),
                    "pre_n": pre[b][0],
                    "pre_dec": (
                        None if pre[b][1] is None else str(pre[b][1])
                    ),
                    "post_n": pre[b][0] - n_f,
                    "post_dec": (
                        None
                        if _dsub(pre[b][1], d_f) is None
                        else str(_dsub(pre[b][1], d_f))
                    ),
                    "was_sealed": _sealed(b),
                }
                for b, (n_f, d_f) in sorted(
                    fp.items(), key=lambda kv: (kv[0] is None, kv[0] or 0)
                )
            ],
        }
        _write_rtbf_log(fs, p, [*records, mine])
        records = [*records, mine]
    else:
        # pending journal entry from a crashed attempt: decide by STATE
        us_list = [
            b["bucket_us"] for b in mine["buckets"] if b["bucket_us"] is not None
        ]
        has_null = any(b["bucket_us"] is None for b in mine["buckets"])
        live = _rtbf_fold_hours(log, us_list, has_null)

        def _dec(s):
            return None if s is None else Decimal(s)

        post = {
            b["bucket_us"]: (b["post_n"], _dec(b["post_dec"]))
            for b in mine["buckets"]
            if b["post_n"] > 0
        }
        pre_state = {
            b["bucket_us"]: (b["pre_n"], _dec(b["pre_dec"]))
            for b in mine["buckets"]
        }
        if live == post:
            # the crashed run's swap had already published. Finish the
            # post-swap bookkeeping it may have died before: vanished
            # batches' landing times (idempotent — forget_batch_time on
            # an absent entry is a no-op) and the journal flip.
            surviving = set(list_batches(hdir))
            for b in sorted(set(mine["touched"]) - surviving):
                forget_batch_time(hdir, b)
            mine["status"] = "applied"
            _write_rtbf_log(fs, p, records)
            return _rtbf_summary(mine)
        if live != pre_state:
            raise RuntimeError(
                f"RTBF request {request_id!r} is pending but the "
                "affected hours match neither its recorded pre- nor "
                "post-deletion state — another writer touched them "
                "mid-request (outside the single-writer contract); "
                "reconcile by hand before retrying"
            )
        # live == pre: the swap never published — fall through, re-apply

    # ---- apply: purge the dead-letter log FIRST (re-runnable no-op
    # once the keys are gone — every later crash window retries it
    # safely), then rewrite touched partitions, rename in the rest ----
    if has_deadletter:
        from doc2dataset_spark.operators.index_maintenance import (
            delete_from_postings,
        )

        purged = delete_from_postings(
            spark,
            rdir,
            forget_events.select(key_col),
            key_col=key_col,
        )
        # a crash-window retry purges 0 (the keys are already gone):
        # keep the first attempt's audit count — and persist it into the
        # still-pending journal entry NOW, so a crash anywhere after the
        # purge cannot lose the count (round-15 close review)
        n_purged = max(
            int(mine.get("n_rejected_purged", 0)),
            int(purged["rows_deleted"]),
        )
        if n_purged != mine.get("n_rejected_purged"):
            mine["n_rejected_purged"] = n_purged
            _write_rtbf_log(fs, p, records)

    touched = set(mine["touched"])
    anchor = mine["anchor"]
    us_list = [
        b["bucket_us"] for b in mine["buckets"] if b["bucket_us"] is not None
    ]
    has_null = any(b["bucket_us"] is None for b in mine["buckets"])
    in_h = _rtbf_bucket_cond(us_list, has_null)
    keep = log.filter(
        F.col("batch_id").isin(*[int(t) for t in touched])
    ).filter(~in_h)
    folded_rows = [
        (
            b["bucket_us"],
            b["post_n"],
            None if b["post_dec"] is None else Decimal(b["post_dec"]),
            int(anchor),
        )
        for b in mine["buckets"]
        if b["post_n"] > 0
    ]
    folded = spark.createDataFrame(
        folded_rows,
        "bucket_us bigint, n_events bigint, "
        "dec_total decimal(38,6), batch_id int",
    ).select(
        F.timestamp_micros("bucket_us").alias("bucket"),
        "n_events",
        "dec_total",
        "batch_id",
    )
    new_touched = keep.select(
        "bucket", "n_events", "dec_total", "batch_id"
    ).unionByName(folded)

    tail = [b for b in list_batches(hdir) if b not in touched]
    publish_compaction(
        hdir,
        lambda tmp_url: (
            new_touched.repartition(max(len(touched), 1), F.col("batch_id"))
            .write.partitionBy("batch_id")
            .parquet(tmp_url)
        ),
        tail,
        extra={"rtbf_request": request_id},
        # python-level swap failure: the swap rolled itself back — the
        # log is pre-deletion again, so drop the pending journal entry
        # (a hard crash instead leaves it pending for the state-decided
        # retry)
        on_rollback=lambda: _write_rtbf_log(
            fs, p, [r for r in records if r["request_id"] != request_id]
        ),
    )

    # a touched partition whose every row was an affected-hour row (and
    # that isn't the anchor) vanished from the rewrite — its landing
    # time must not survive it (the sweep_stale_batches rationale)
    surviving = set(list_batches(hdir))
    for b in sorted(touched - surviving):
        forget_batch_time(hdir, b)

    mine["status"] = "applied"
    _write_rtbf_log(fs, p, records)
    return _rtbf_summary(mine)


def recover_hypertable_rtbf(out_dir: str) -> dict:
    """Crash recovery for forget_hypertable_rows: finish or roll back an
    interrupted swap (recover_compaction — the manifest's
    ``rtbf_request`` tag names the request), then re-running
    forget_hypertable_rows with the same request_id settles the pending
    journal entry by state comparison. Returns recover_compaction's
    action dict with the tagged request_id (None for non-RTBF debris)."""
    from doc2dataset_spark.operators.index_maintenance import (
        compaction_manifest,
        recover_compaction,
    )

    hdir = _hourly_path(out_dir)
    fs, p = fsio.url_to_fs(hdir)
    import json

    manifest = compaction_manifest(p)
    req = None
    if fs.exists(manifest):
        with fs.open(manifest, "rb") as fh:
            req = json.loads(fh.read().decode()).get("rtbf_request")
    out = recover_compaction(hdir)
    out["rtbf_request"] = req
    return out


def hypertable_rtbf_audit(spark: SparkSession, out_dir: str) -> DataFrame:
    """The RTBF journal as a DataFrame — one row per (request, revised
    hour bucket): what was forgotten, how much, and whether the bucket
    was SEALED when the revision landed (``was_sealed`` — the flag that
    turns 'immutable forever' into 'immutable until the law says
    otherwise, auditably'). Raises if no RTBF request was ever applied
    (distinguishing a clean log from a typo'd path). Driver-side: the
    journal is O(requests × affected hours) — bounded by deletion
    activity, not corpus size."""
    fs, p = fsio.url_to_fs(_hourly_path(out_dir))
    records = [
        r for r in _read_rtbf_log(fs, p) if r["status"] == "applied"
    ]
    if not records:
        raise ValueError(
            f"no applied RTBF request under {out_dir!r} — nothing was "
            "ever forgotten from this cagg (or this is the wrong path)"
        )
    rows = [
        (
            r["request_id"],
            b["bucket_us"],
            int(b["n_forgotten"]),
            b["dec_forgotten"],
            bool(b["was_sealed"]),
        )
        for r in records
        for b in r["buckets"]
    ]
    return spark.createDataFrame(
        rows,
        "request_id string, bucket_us bigint, n_forgotten bigint, "
        "dec_forgotten string, was_sealed boolean",
    ).select(
        "request_id",
        F.date_format(F.timestamp_micros("bucket_us"), _RTBF_FMT).alias(
            "bucket"
        ),
        "n_forgotten",
        F.round(F.col("dec_forgotten").cast("decimal(38,6)"), 4)
        .cast("double")
        .alias("total_forgotten"),
        "was_sealed",
    )


def serve_hypertable_final_audited(
    spark: SparkSession, out_dir: str
) -> DataFrame:
    """serve_hypertable_final plus a ``revised`` column: True on every
    sealed bucket — at every granularity — whose hour(s) were lawfully
    revised AFTER sealing by an applied RTBF request. A downstream
    cache holding 'immutable' rows joins this surface to learn exactly
    which pins to refresh; everything else keeps the plain finality
    contract. The revised set is built driver-side from the journal
    (bounded by deletion activity) and broadcast-joined — no shuffle."""
    import datetime as _dt

    fs, p = fsio.url_to_fs(_hourly_path(out_dir))
    hours_us = sorted(
        {
            b["bucket_us"]
            for r in _read_rtbf_log(fs, p)
            if r["status"] == "applied"
            for b in r["buckets"]
            if b["was_sealed"] and b["bucket_us"] is not None
        }
    )
    base = serve_hypertable_final(spark, out_dir)
    if not hours_us:
        return base.withColumn("revised", F.lit(False))
    marks = set()
    epoch = _dt.datetime(1970, 1, 1)
    for us in hours_us:
        t = epoch + _dt.timedelta(microseconds=us)
        marks.add(("hour", t.strftime("%Y-%m-%d %H:%M:%S")))
        d = t.replace(hour=0, minute=0, second=0, microsecond=0)
        marks.add(("day", d.strftime("%Y-%m-%d %H:%M:%S")))
        m = d.replace(day=1)
        marks.add(("month", m.strftime("%Y-%m-%d %H:%M:%S")))
    rev = spark.createDataFrame(
        [(g, bkt, True) for g, bkt in sorted(marks)],
        "granularity string, bucket string, revised boolean",
    )
    return (
        base.join(
            F.broadcast(rev), on=["granularity", "bucket"], how="left"
        )
        .withColumn("revised", F.coalesce("revised", F.lit(False)))
        .select(*base.columns, "revised")
    )


_RTBF_FMT = "yyyy-MM-dd HH:mm:ss"
