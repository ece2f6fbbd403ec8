"""Streaming AS-OF attribution: the as-of join at ingest time.

Batch side: ``queries/timeseries_asof.events_asof_join`` attributes every
purchase to the user's last at-or-before view with one ordered carry
(``operators/asof.asof_join``). Production wants the same answer as
events ARRIVE: each micro-batch's purchases attributed immediately,
against views from this batch AND every batch before it.

State is the established upsert-log idiom (streaming/cdc.py,
operators/cluster_state.py): per micro-batch, land THIS batch's
per-user latest view under ``views/batch_id=<n>`` (``land_batch`` —
replay rewrites exactly its own partition), and seed the next batch's
carry with the latest-wins fold of the STRICTLY PRIOR batches
(``batch_id < n``, the replay-correct read: a replayed batch sees
exactly the state it saw the first time). Attributed purchases land
under ``attributed/batch_id=<n>`` the same way.

Tie determinism: the batch query collapses duplicate (user, ts) views
with ``max_by(value, event_id)``. Every streaming fold carries ``ev``
(the winning event_id) and merges with the SAME argmax, so per-batch
dedup composed across batches equals the global dedup — stream ==
batch is structural, not coincidental, including cross-batch (user, ts)
ties.

Stream contract (documented, asserted by the equality test): micro-
batches arrive in event-time order — batch n+1's events are all at-or-
after batch n's. Under that contract a future purchase can only ever
need each user's LATEST prior view, so the state is one row per user
(entity-count-sized, not event-count-sized), and

    union of per-batch attributed outputs == the batch as-of join

exactly (``tests/test_streaming_asof.py`` pins it, plus same-checkpoint
replay idempotence). Out-of-order arrival is handled by the watermarked
variant below (``run_asof_attribution_late``) — the same trade Flink's
temporal join makes, with the lateness bound explicit.

Scale shape per batch: one asof_join carry over (batch purchases +
batch views + |users-seen| seed rows) — the seed is the served state,
a max_by fold of the view log, compactable once the log grows past the
replay window.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2dataset_spark import fsio
from doc2dataset_spark.operators.asof import asof_join
from doc2dataset_spark.operators.index_maintenance import (
    _old_compact,
    compaction_manifest,
)
from doc2dataset_spark.operators.time_travel import (
    clear_batch,
    land_batch,
    latest_batch,
    list_batches,
    read_snapshot,
)
from doc2dataset_spark.streaming.util import run_batchwise

# views state rows (both variants): the winning view per (user, ts)
# plus its event id, the tie-break every fold re-uses
_VIEWS_SCHEMA = "user_id bigint, ts timestamp, v_value double, ev bigint"
_ATTR_SCHEMA = (
    "event_id bigint, user_id bigint, p_ts timestamp, "
    "purchase_value double, v_ts timestamp, last_view_value double, "
    "gap_us bigint"
)
_PENDING_SCHEMA = (
    "event_id bigint, user_id bigint, ts timestamp, purchase_value double"
)


def _views_path(out_dir: str) -> str:
    return posixpath.join(out_dir, "views")


def _attributed_path(out_dir: str) -> str:
    return posixpath.join(out_dir, "attributed")


def _maxts_path(out_dir: str) -> str:
    return posixpath.join(out_dir, "maxts")


def _read_batches(
    spark: SparkSession, root: str, schema: str
) -> DataFrame:
    """The whole batch-partitioned log under root — or an EMPTY frame of
    the declared schema (plus batch_id) when no batch has landed yet.
    Guards every log read against the zero-rows write behavior of
    dynamic overwrite: an empty micro-batch writes no partition (and no
    schema), so a bare spark.read.parquet would fail on 'unable to
    infer schema' exactly when a batch happened to carry no rows.

    REFUSES over compaction debris (round-12 advice): a crashed
    compact_view_state swap can leave root absent (or mid-publish) with
    a ``__old_compact`` sibling + manifest behind. Treating the missing
    dir as an empty log here would make subsequent sealing attribute
    every purchase against ZERO views — silent all-NULL matches instead
    of a loud failure. One recover_compaction() call reassembles."""
    fs, p = fsio.url_to_fs(root)
    debris = [_old_compact(p), compaction_manifest(p)]
    if any(fs.exists(d) for d in debris):
        raise RuntimeError(
            f"{root!r} has compaction debris ({' / '.join(debris)}) "
            "from an interrupted compact_view_state swap — run "
            f"recover_compaction({root!r}) before reading; an empty or "
            "partial log here would silently mis-attribute instead of "
            "failing"
        )
    if not list_batches(root):
        return spark.createDataFrame([], schema + ", batch_id bigint")
    return spark.read.parquet(root)


def _batch_views(batch_events: DataFrame) -> DataFrame:
    """This batch's views, collapsed per (user, ts) exactly as the
    batch query collapses them: value of the max event_id, the id kept
    as ``ev`` so later folds can re-apply the same argmax."""
    return (
        batch_events.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("value", "event_id").alias("v_value"),
            F.max("event_id").alias("ev"),
        )
    )


def _merge_views(views: DataFrame) -> DataFrame:
    """Collapse duplicate (user, ts) rows across batches/seed with the
    SAME argmax (max ev wins) — composition equals the global dedup."""
    return views.groupBy("user_id", "ts").agg(
        F.max_by("v_value", "ev").alias("v_value"),
        F.max("ev").alias("ev"),
    )


def _attribute(purchases: DataFrame, views: DataFrame) -> DataFrame:
    """The identical asof_join + projection the batch query runs."""
    j = asof_join(
        purchases,
        views.select("user_id", "ts", "v_value"),
        on="ts",
        by=("user_id",),
        direction="backward",
        how="left",
        suffix="v_",
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("ts").alias("p_ts"),
        "purchase_value",
        "v_ts",
        F.col("v_v_value").alias("last_view_value"),
        F.col("asof_gap").alias("gap_us"),
    )


def serve_view_state(
    spark: SparkSession, out_dir: str, before_batch: int | None = None
) -> DataFrame:
    """(user_id, ts, v_value, ev): each user's latest landed view — the
    carry seed. ``before_batch`` restricts to strictly-prior batches
    (the replay-correct read); None serves the full log. Ties on ts
    resolve by ev, mirroring the batch dedup."""
    log = _read_batches(spark, _views_path(out_dir), _VIEWS_SCHEMA)
    if before_batch is not None:
        log = log.filter(F.col("batch_id") < F.lit(before_batch))
    picked = log.groupBy("user_id").agg(
        F.expr(
            "max_by(struct(ts, v_value, ev), struct(ts, ev))"
        ).alias("w")
    )
    return picked.select(
        "user_id",
        F.col("w.ts").alias("ts"),
        F.col("w.v_value").alias("v_value"),
        F.col("w.ev").alias("ev"),
    )


def _maxts_state(
    spark: SparkSession, out_dir: str, before_batch: int | None
) -> int | None:
    """Max event ts (µs) across batches strictly before ``before_batch``
    (None = all), from the per-batch maxts sidecar — or None before any
    non-empty batch has landed. Each snapshot carries the running max,
    so only the newest one is read."""
    snap = read_snapshot(spark, _maxts_path(out_dir), before_batch)
    return None if snap is None else int(snap.first()["max_ts_us"])


def attribute_batch(
    batch_events: DataFrame, seed_views: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """(attributed purchases, this batch's per-user latest view).

    The attribution runs the SAME asof_join the batch query uses, over
    this batch's (user, ts)-deduped views unioned with the seed —
    identity of expressions, so stream == batch is structural. The
    returned state rows are BATCH-LOCAL (one per user seen in this
    batch): serve_view_state folds across partitions, so re-writing the
    whole seed every batch would only bloat the log O(batches x users)."""
    views = _batch_views(batch_events)
    carry_views = (
        _merge_views(views.unionByName(seed_views))
        if seed_views is not None
        else views
    )
    purchases = batch_events.filter(
        F.col("event_type") == "purchase"
    ).select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    attributed = _attribute(purchases, carry_views)
    latest = views.groupBy("user_id").agg(
        F.expr(
            "max_by(struct(ts, v_value, ev), struct(ts, ev))"
        ).alias("w")
    ).select(
        "user_id",
        F.col("w.ts").alias("ts"),
        F.col("w.v_value").alias("v_value"),
        F.col("w.ev").alias("ev"),
    )
    return attributed, latest


def run_asof_attribution(
    spark: SparkSession,
    events_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drive the attribution over a micro-batch stream of events
    (event_id, ts, user_id, event_type, value). Lands
    ``attributed/batch_id=<n>`` and ``views/batch_id=<n>`` per batch,
    both idempotent under replay (zero-row recomputations delete the
    stale partition — land_batch).

    The event-time-ordered-arrival contract is ENFORCED, not just
    documented (round-12 advice): each batch's max event ts is
    persisted under ``maxts/batch_id=<n>`` (the replay-correct
    snapshot-per-batch idiom), and a batch whose min ts precedes the
    prior max RAISES instead of silently mis-attributing — the per-user
    latest-view seed would hide the older view a late purchase needs,
    and views arriving after a purchase's batch are never consulted.
    Out-of-order feeds belong on run_asof_attribution_late."""
    vdir = _views_path(out_dir)
    adir = _attributed_path(out_dir)
    mdir = _maxts_path(out_dir)

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        bounds = batch_df.agg(
            F.min(F.unix_micros("ts")).alias("lo"),
            F.max(F.unix_micros("ts")).alias("hi"),
        ).first()
        prior_max = _maxts_state(s, out_dir, before_batch=batch_id)
        if (
            bounds["lo"] is not None
            and prior_max is not None
            and int(bounds["lo"]) < prior_max
        ):
            raise RuntimeError(
                f"batch {batch_id} violates the ordered-arrival "
                f"contract: its min event ts ({int(bounds['lo'])} us) "
                f"precedes the prior batches' max ({prior_max} us). "
                "run_asof_attribution seals against per-user LATEST "
                "views only, so out-of-order events would silently "
                "mis-attribute — use run_asof_attribution_late with an "
                "explicit lateness bound for this feed"
            )
        seed = serve_view_state(s, out_dir, before_batch=batch_id)
        attributed, latest = attribute_batch(batch_df, seed)
        land_batch(attributed, adir, batch_id)
        land_batch(latest, vdir, batch_id)
        if bounds["hi"] is not None:
            # no `or 0` floor: pre-epoch event times are NEGATIVE µs, and
            # flooring the running max at 0 would make every later batch
            # of valid negative timestamps raise a spurious ordered-
            # arrival error (round-13 advice)
            hi = int(bounds["hi"])
            new_max = hi if prior_max is None else max(hi, prior_max)
            land_batch(
                s.createDataFrame([(new_max,)], "max_ts_us bigint"),
                mdir,
                batch_id,
            )
        else:
            # empty recompute: a dead incarnation's maxts for this id
            # would otherwise survive and raise spurious ordered-arrival
            # errors against the NEW stream's (valid) timestamps
            clear_batch(mdir, batch_id)

    run_batchwise(events_stream, checkpoint_dir, one_batch, [adir, vdir, mdir])


def attributed_purchases(spark: SparkSession, out_dir: str) -> DataFrame:
    """The stream's cumulative output: every attributed purchase so far
    (one row per purchase — batches partition purchases, so the union
    is disjoint by construction)."""
    return _read_batches(
        spark, _attributed_path(out_dir), _ATTR_SCHEMA
    ).drop("batch_id")


# ---------------------------------------------------------------------------
# Out-of-order arrival: watermarked attribution (run_asof_attribution_late)
# ---------------------------------------------------------------------------
#
# The ordered-arrival operator above seals every purchase the moment its
# batch lands. Real feeds are LATE: an event with timestamp t may arrive
# any time before max-event-time reaches t + L (the lateness bound — the
# same contract Spark's own watermarks make). Under that bound:
#
# - a purchase is SEALED once the watermark (max ts seen - L) passes it:
#   every view that could precede it has provably arrived;
# - unsealed purchases wait in a PENDING snapshot, rewritten per batch
#   (bounded by purchase volume inside one lateness window); the wm
#   sidecar records the pending COUNT, so an emptied pending set is
#   distinguishable from a batch that wrote no snapshot (dynamic
#   overwrite writes nothing for zero rows);
# - the view state must keep ALL views (not per-user latest): a pending
#   purchase older than a user's newest view needs the newest view AT OR
#   BEFORE ITS OWN ts. The full view log is the price of lateness —
#   exactly Flink's temporal-join state — and compact_view_state() below
#   prunes it back to (views newer than the watermark) + (each user's
#   single newest older view) once batches seal.
#
# Same stream == batch contract, now under ANY arrival order within the
# bound: union of sealed outputs (+ finalize for the tail) == the batch
# as-of join, pinned by tests/test_streaming_asof.py's disordered run.


def _allviews_path(out_dir: str) -> str:
    return posixpath.join(out_dir, "allviews")


def _pending_path(out_dir: str) -> str:
    return posixpath.join(out_dir, "pending")


def _wm_path(out_dir: str) -> str:
    return posixpath.join(out_dir, "wm")


def _wm_state(
    spark: SparkSession, out_dir: str, before_batch: int | None
) -> tuple[int, int, int] | None:
    """(max_ts_us, wm_us, n_pending) from the newest wm snapshot, or
    None before any event has been seen."""
    snap = read_snapshot(spark, _wm_path(out_dir), before_batch)
    if snap is None:
        return None
    row = snap.first()
    return int(row["max_ts_us"]), int(row["wm_us"]), int(row["n_pending"])


def _pending_state(
    spark: SparkSession, out_dir: str, before_batch: int | None
) -> DataFrame:
    """The pending-purchase snapshot matching the newest wm snapshot —
    empty (with schema) when the count it recorded is zero, so an
    emptied pending set never silently falls back to an older one.
    Every batch after the first event lands a wm snapshot, and lands its
    pending snapshot (none at zero pending) just before it, so the
    newest pending snapshot is the newest wm snapshot's own."""
    wm = _wm_state(spark, out_dir, before_batch)
    if wm is None or wm[2] == 0:
        return spark.createDataFrame([], _PENDING_SCHEMA)
    return read_snapshot(
        spark, _pending_path(out_dir), before_batch
    ).drop("batch_id")


def _all_views(spark: SparkSession, out_dir: str) -> DataFrame:
    """The full view log folded per (user, ts) by the shared argmax."""
    return _merge_views(
        _read_batches(
            spark, _allviews_path(out_dir), _VIEWS_SCHEMA
        ).drop("batch_id")
    )


def run_asof_attribution_late(
    spark: SparkSession,
    events_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    lateness_us: int,
) -> None:
    """Watermarked attribution over an out-of-order event stream.

    Per micro-batch n: fold the batch's views into the full view log
    (``allviews/batch_id=n``), advance the watermark to (max event ts
    seen through n) − ``lateness_us``, seal every pending-or-new
    purchase at-or-below it against the view log (backward as-of —
    identical expression to the batch query), land sealed rows under
    ``attributed/batch_id=n`` and the still-unsealed purchase SNAPSHOT
    under ``pending/batch_id=n`` (its row count in the wm sidecar). All
    logs land through ``land_batch``, so a same-checkpoint replay
    rewrites exactly its own partitions against exactly its original
    inputs."""
    vdir, adir = _allviews_path(out_dir), _attributed_path(out_dir)
    pdir, wdir = _pending_path(out_dir), _wm_path(out_dir)

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)

        land_batch(_batch_views(batch_df), vdir, batch_id)

        prior = _wm_state(s, out_dir, before_batch=batch_id)
        prev_max = prior[0] if prior is not None else None
        batch_max = batch_df.agg(
            F.max(F.unix_micros("ts")).alias("m")
        ).first()["m"]
        max_ts = max(
            [v for v in (prev_max, batch_max) if v is not None],
            default=None,
        )
        if max_ts is None:
            # empty batch before any event: nothing to advance, and
            # nothing of a dead incarnation's batch n may survive
            for root in (adir, pdir, wdir):
                clear_batch(root, batch_id)
            return
        wm = max_ts - lateness_us

        new_p = batch_df.filter(F.col("event_type") == "purchase").select(
            "event_id",
            "user_id",
            "ts",
            F.col("value").alias("purchase_value"),
        )
        allp = _pending_state(s, out_dir, before_batch=batch_id).unionByName(
            new_p
        )
        sealed = allp.filter(F.unix_micros("ts") <= F.lit(wm))
        pending = allp.filter(F.unix_micros("ts") > F.lit(wm))

        land_batch(_attribute(sealed, _all_views(s, out_dir)), adir, batch_id)
        # an emptied pending set lands no snapshot; the wm sidecar's
        # n_pending=0 already makes it unreadable
        n_pending = land_batch(pending, pdir, batch_id)
        land_batch(
            s.createDataFrame(
                [(int(max_ts), int(wm), int(n_pending))],
                "max_ts_us bigint, wm_us bigint, n_pending bigint",
            ),
            wdir,
            batch_id,
        )

    # compact_view_state finalizes pre-watermark view history, so a
    # fresh-checkpoint replay onto a compacted view log is refused
    run_batchwise(
        events_stream,
        checkpoint_dir,
        one_batch,
        [vdir, adir, pdir, wdir],
        refuse_roots=[vdir],
    )


def finalize_asof_attribution(spark: SparkSession, out_dir: str) -> DataFrame:
    """End-of-stream drain: attribute the purchases still pending (the
    watermark never passed them) and return the COMPLETE attribution —
    sealed batches plus the drained tail. Mirrors the final emit a
    watermarked aggregation performs on stream end. Safe on streams
    where nothing ever sealed (or nothing was ever pending): every log
    read is schema-explicit."""
    sealed = attributed_purchases(spark, out_dir)
    pending = _pending_state(spark, out_dir, before_batch=None)
    return sealed.unionByName(
        _attribute(pending, _all_views(spark, out_dir))
    )


def compact_view_state(spark: SparkSession, out_dir: str) -> dict:
    """Prune the full view log back to what future sealing can still
    need: every view newer than the last persisted WATERMARK (pending
    purchases all sit above it, and may match any of those views), plus
    each user's single newest view at or below it (a purchase above the
    watermark never needs the second-newest view below it — ts ties
    resolved by ev, the same argmax as serving, so compaction keeps
    exactly the row serving would have picked). Rewrites the log as one
    ``batch_id=<max>`` partition through the compaction publish
    protocol (operators/index_maintenance docstring), horizon = that
    max batch; the crash debris it can leave is what _read_batches
    refuses over and recover_compaction reassembles."""
    from doc2dataset_spark.operators.index_maintenance import (
        compaction_fs,
        publish_compaction,
    )

    vdir = _allviews_path(out_dir)
    # before _read_batches, which refuses over any manifest: benign
    # debris (a crash before the first rename) is reclaimed here
    compaction_fs(vdir)
    state = _wm_state(spark, out_dir, before_batch=None)
    if state is None:
        raise ValueError(f"no watermark snapshot under {out_dir!r} yet")
    wm = state[1]
    top = latest_batch(_wm_path(out_dir))
    log = _read_batches(spark, vdir, _VIEWS_SCHEMA).drop("batch_id")
    n_before = log.count()
    fresh = log.filter(F.unix_micros("ts") > F.lit(wm))
    older_latest = (
        log.filter(F.unix_micros("ts") <= F.lit(wm))
        .groupBy("user_id")
        .agg(
            F.expr(
                "max_by(struct(ts, v_value, ev), struct(ts, ev))"
            ).alias("w")
        )
        .select(
            "user_id",
            F.col("w.ts").alias("ts"),
            F.col("w.v_value").alias("v_value"),
            F.col("w.ev").alias("ev"),
        )
    )
    kept = fresh.unionByName(older_latest)

    def write(tmp_url: str) -> int:
        kept.withColumn("batch_id", F.lit(top)).write.partitionBy(
            "batch_id"
        ).parquet(tmp_url)
        return spark.read.parquet(tmp_url).count()  # the written files

    n_after = publish_compaction(vdir, write, horizon=top)
    return {"views_before": n_before, "views_after": n_after, "wm_us": int(wm)}
