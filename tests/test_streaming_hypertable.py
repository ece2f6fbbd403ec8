"""Incremental hypertable cagg (streaming/hypertable.py): the served
hour/day/month rollup folded from per-micro-batch hourly partials must
equal the batch recompute exactly, a same-checkpoint replay must not
change the answer, and partial-log compaction must be invisible to
readers while actually shrinking the log."""

from __future__ import annotations

import glob as _glob
import os
import shutil as _shutil
import time as _time

from pyspark.sql import functions as F

from doc2dataset_spark.queries.timeseries_hypertable import (
    events_hypertable_rollup,
)
from doc2dataset_spark.session import load_table
from doc2dataset_spark.streaming.hypertable import (
    compact_hypertable_partials,
    run_hypertable_ingest,
    serve_hypertable,
)

SF = "/root/testdata/sf0.001"
COLS = ["event_id", "ts", "user_id", "event_type", "value"]


def _land_slices(spark, tmp_path, slices, name):
    """Write each slice as one parquet file into a watched dir, mtimes
    spaced so maxFilesPerTrigger=1 feeds them as ordered micro-batches —
    the one load-bearing arrival-order trick, kept in ONE place."""
    src = tmp_path / name
    os.makedirs(src, exist_ok=True)
    for i, frame in enumerate(slices):
        d = tmp_path / f"{name}_slice_{i}"
        frame.coalesce(1).write.mode("overwrite").parquet(d.as_posix())
        dst = (src / f"b{i}.parquet").as_posix()
        _shutil.copy(_glob.glob((d / "part-*.parquet").as_posix())[0], dst)
        os.utime(dst, (_time.time() + 2 * i, _time.time() + 2 * i))
    return src


def _split_stream(spark, tmp_path):
    """Three event_id-mod slices (every hour overlaps every batch, so
    the serve-side fold merges cross-batch partials for every row)."""
    e = load_table(spark, SF, "events").select(*COLS)
    return _land_slices(
        spark,
        tmp_path,
        [e.filter(F.pmod("event_id", F.lit(3)) == i) for i in range(3)],
        "ht_stream",
    )


def _run(spark, tmp_path):
    src = _split_stream(spark, tmp_path)
    out = (tmp_path / "ht_out").as_posix()
    ckpt = (tmp_path / "ht_ckpt").as_posix()

    def go():
        stream = (
            spark.readStream.schema(
                load_table(spark, SF, "events").select(*COLS).schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src.as_posix())
        )
        run_hypertable_ingest(spark, stream, out, ckpt)

    return out, go


def _rows(df):
    return sorted(
        (r["granularity"], r["bucket"], r["n_events"], r["total"])
        for r in df.collect()
    )


def test_streaming_hypertable_equals_batch(spark, tmp_path):
    out, go = _run(spark, tmp_path)
    go()
    partials = spark.read.parquet(os.path.join(out, "hourly"))
    assert partials.select("batch_id").distinct().count() >= 2, (
        "stream collapsed into one micro-batch — the fold is not real"
    )
    # cross-batch merge is real: some hour appears in several batches
    assert (
        partials.groupBy("bucket")
        .count()
        .filter(F.col("count") > 1)
        .count()
        > 0
    )
    got = _rows(serve_hypertable(spark, out))
    want = _rows(events_hypertable_rollup(spark, SF))
    assert got == want


def test_streaming_hypertable_replay_is_idempotent(spark, tmp_path):
    out, go = _run(spark, tmp_path)
    go()
    first = _rows(serve_hypertable(spark, out))
    go()  # same checkpoint: committed batches must not re-land
    assert _rows(serve_hypertable(spark, out)) == first


def test_hypertable_compaction_invisible_and_smaller(spark, tmp_path):
    out, go = _run(spark, tmp_path)
    go()
    want = _rows(serve_hypertable(spark, out))
    stats = compact_hypertable_partials(spark, out, upto_batch=1)
    # head (batches 0-1) folded into one partition; batch 2 is the tail
    assert stats["batches_before"] == 3 and stats["batches_after"] == 2
    # the fold REDUCED rows (same hour's partials merged)
    assert stats["rows_after"] < stats["rows_before"]
    assert _rows(serve_hypertable(spark, out)) == want
    # appends keep working after compaction: land a fake batch 3 with
    # one extra event and the serve must reflect exactly it
    from doc2dataset_spark.streaming.hypertable import hourly_partial

    one = load_table(spark, SF, "events").select(*COLS).limit(1)
    (
        hourly_partial(one)
        .withColumn("batch_id", F.lit(3))
        .write.mode("append")
        .partitionBy("batch_id")
        .parquet(os.path.join(out, "hourly"))
    )
    served = {
        (r[0], r[1]): r[2] for r in _rows(serve_hypertable(spark, out))
    }
    base = {(r[0], r[1]): r[2] for r in want}
    bumped = [k for k in served if served[k] != base.get(k)]
    assert bumped and all(served[k] == base[k] + 1 for k in bumped)


def test_fresh_checkpoint_on_compacted_log_refuses(spark, tmp_path):
    """Round-13 self-review: a fresh-checkpoint replay renumbers batches
    from 0 and its stale sweep would delete the folded batch_id=<horizon>
    partition — the entire pre-compaction history. Must refuse up front,
    like index ingest and the as-of view log."""
    import pytest as _pytest

    out, go = _run(spark, tmp_path)
    go()
    compact_hypertable_partials(spark, out, upto_batch=1)
    _shutil.rmtree((tmp_path / "ht_ckpt").as_posix())
    with _pytest.raises(RuntimeError, match="compaction horizon"):
        go()


def test_empty_batch_clears_stale_partial_partition(spark, tmp_path):
    """Zero-row replay guard at the ingest level: a batch that computes
    ZERO partials must delete a stale same-id partition rather than
    leave the dead incarnation's partials double-counting."""
    e = load_table(spark, SF, "events").select(*COLS)
    src = _land_slices(
        spark,
        tmp_path,
        [
            e.filter(F.pmod("event_id", F.lit(2)) == 0),
            e.limit(0),  # the empty batch
            e.filter(F.pmod("event_id", F.lit(2)) == 1),
        ],
        "ht_stream2",
    )
    out = (tmp_path / "ht2_out").as_posix()
    # plant a dead incarnation's partial under the id the empty batch
    # will recompute
    from doc2dataset_spark.streaming.hypertable import hourly_partial

    (
        hourly_partial(e.limit(5))
        .withColumn("batch_id", F.lit(1))
        .write.partitionBy("batch_id")
        .parquet(os.path.join(out, "hourly"))
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    run_hypertable_ingest(
        spark, stream, out, (tmp_path / "ht2_ckpt").as_posix()
    )
    assert not os.path.exists(os.path.join(out, "hourly", "batch_id=1"))
    got = _rows(serve_hypertable(spark, out))
    want = _rows(events_hypertable_rollup(spark, SF))
    assert got == want


def test_hypertable_asof_prefix_and_ts(spark, tmp_path):
    """Cagg time travel: the as-of-batch fold equals a from-scratch
    rollup over the prefix corpus; the timestamp twin resolves through
    the landing manifest; compaction forecloses pre-horizon snapshots
    loudly."""
    import pytest as _pytest

    from doc2dataset_spark.operators.time_travel import batch_times
    from doc2dataset_spark.streaming.hypertable import (
        serve_hypertable_asof,
        serve_hypertable_asof_ts,
    )

    out, go = _run(spark, tmp_path)
    go()
    e = load_table(spark, SF, "events").select(*COLS)
    # prefix truth: direct rollup over batches 0-1's events (mod slices)
    from doc2dataset_spark.queries.timeseries_hypertable import (
        _ht_emit,
        _ht_level,
    )
    from doc2dataset_spark.streaming.hypertable import hourly_partial

    prefix = e.filter(F.pmod("event_id", F.lit(3)) <= 1)
    hourly = hourly_partial(prefix).localCheckpoint(eager=False)
    daily = _ht_level(hourly, "bucket", "day").localCheckpoint(eager=False)
    want = _rows(
        _ht_emit(hourly, "hour")
        .unionByName(_ht_emit(daily, "day"))
        .unionByName(_ht_emit(_ht_level(daily, "bucket", "month"), "month"))
    )
    assert _rows(serve_hypertable_asof(spark, out, 1)) == want
    # timestamp twin: any ts at-or-after batch 1's landing, before 2's
    t = batch_times(os.path.join(out, "hourly"))
    assert _rows(serve_hypertable_asof_ts(spark, out, t[1])) == want
    # compaction forecloses the pre-horizon snapshot loudly
    compact_hypertable_partials(spark, out, upto_batch=1)
    with _pytest.raises(ValueError, match="compaction horizon"):
        serve_hypertable_asof(spark, out, 0)
    # at the horizon: still exact
    assert _rows(serve_hypertable_asof(spark, out, 1)) == want


def test_hypertable_is_arrival_order_insensitive(spark, tmp_path):
    """The cagg needs no watermark FOR CORRECTNESS: hourly partials
    merge associatively (exact decimal sums), so ANY arrival order —
    here reversed event time, every batch older than the previous one —
    folds to the same served rollup as the batch recompute. Unlike the
    as-of attribution (where matching depends on what has arrived), a
    commutative-monoid aggregate cannot mis-attribute. What the
    unbounded ingest cannot offer is FINALITY — that is what the
    watermarked variant (run_hypertable_ingest_late, round 14) adds,
    not a correctness fix."""
    e = load_table(spark, SF, "events").select(*COLS)
    cuts = (
        e.select(F.expr("percentile(unix_micros(ts), array(0.34, 0.67))"))
        .first()[0]
    )
    lo, hi = int(cuts[0]), int(cuts[1])
    src = _land_slices(
        spark,
        tmp_path,
        [  # NEWEST slice arrives FIRST
            e.filter(F.unix_micros("ts") > hi),
            e.filter(
                (F.unix_micros("ts") > lo) & (F.unix_micros("ts") <= hi)
            ),
            e.filter(F.unix_micros("ts") <= lo),
        ],
        "ht_rev_stream",
    )
    out = (tmp_path / "ht_rev_out").as_posix()
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    run_hypertable_ingest(
        spark, stream, out, (tmp_path / "ht_rev_ckpt").as_posix()
    )
    got = _rows(serve_hypertable(spark, out))
    want = _rows(events_hypertable_rollup(spark, SF))
    assert got == want


def test_batch_built_log_serves_by_timestamp(spark, tmp_path):
    """Round-13 review finding: the batch-side log builder
    (_build_ht_log) must record landing times like the streaming ingest
    does, or serve_hypertable_asof_ts refuses on every batch-built log
    despite its docstring."""
    from doc2dataset_spark.operators.time_travel import batch_times
    from doc2dataset_spark.queries.timeseries_hypertable import _build_ht_log
    from doc2dataset_spark.streaming.hypertable import (
        serve_hypertable_asof,
        serve_hypertable_asof_ts,
    )

    out = (tmp_path / "ht_batchlog").as_posix()
    _build_ht_log(spark, SF, out)
    t = batch_times(os.path.join(out, "hourly"))
    assert sorted(t) == [0, 1, 2, 3]
    got = _rows(serve_hypertable_asof_ts(spark, out, t[2]))
    assert got == _rows(serve_hypertable_asof(spark, out, 2))


# ---------------------------------------------------------------------------
# round 14: watermarked late-data ingest + bucket finality
# ---------------------------------------------------------------------------


def test_late_ingest_stream_equals_batch_on_disordered_feed(spark, tmp_path):
    """run_hypertable_ingest_late over event_id-mod slices (every batch
    after the first is almost entirely late): the full serve still
    equals the batch recompute, and the wm sidecar's invalidation
    accounting proves the disorder was real."""
    from doc2dataset_spark.streaming.hypertable import (
        hypertable_wm_state,
        run_hypertable_ingest_late,
    )

    e = load_table(spark, SF, "events").select(*COLS)
    src = _land_slices(
        spark,
        tmp_path,
        [e.filter(F.pmod("event_id", F.lit(3)) == i) for i in range(3)],
        "htl_stream",
    )
    out = (tmp_path / "htl_out").as_posix()
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    run_hypertable_ingest_late(
        spark,
        stream,
        out,
        (tmp_path / "htl_ckpt").as_posix(),
        lateness_us=60 * 24 * 3600 * 1_000_000,
    )
    got = _rows(serve_hypertable(spark, out))
    want = _rows(events_hypertable_rollup(spark, SF))
    assert got == want
    state = hypertable_wm_state(spark, out)
    assert state["n_late_rows"] > 0 and state["n_reopened_hours"] > 0
    assert state["wm_us"] == state["max_ts_us"] - 60 * 24 * 3600 * 1_000_000


def _ts_frame(spark, rows):
    """(event_id, 'HH:MM' on 2024-03-01, value) triples -> events frame."""
    return spark.createDataFrame(
        [
            (i, f"2024-03-01 {hhmm}:00", "purchase", float(v))
            for i, hhmm, v in rows
        ],
        "event_id bigint, ts_s string, event_type string, value double",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        F.lit(1).alias("user_id"),
        "event_type",
        "value",
    )


def test_late_batch_refuses_below_watermark(spark, tmp_path):
    """An event below the prior watermark violates the lateness bound —
    it would mutate a bucket already promised final — and must raise,
    not silently re-open it."""
    import pytest as _pytest

    from doc2dataset_spark.streaming.hypertable import (
        ingest_hypertable_late_batch,
    )

    out = (tmp_path / "htr_out").as_posix()
    two_h = 2 * 3600 * 1_000_000
    ingest_hypertable_late_batch(
        _ts_frame(spark, [(1, "01:00", 5), (2, "03:30", 7)]),
        out,
        batch_id=0,
        lateness_us=two_h,
    )
    # wm = 03:30 - 2h = 01:30; an 01:15 event is below it
    with _pytest.raises(RuntimeError, match="lateness bound"):
        ingest_hypertable_late_batch(
            _ts_frame(spark, [(3, "01:15", 1)]),
            out,
            batch_id=1,
            lateness_us=two_h,
        )
    # an in-window late event (02:10 < prior max 03:30, above wm) lands
    snap = ingest_hypertable_late_batch(
        _ts_frame(spark, [(4, "02:10", 2), (5, "05:00", 3)]),
        out,
        batch_id=1,
        lateness_us=two_h,
    )
    assert snap["n_late_rows"] == 1 and snap["n_reopened_hours"] == 1


def test_final_rows_are_immutable_and_include_late_refolds(spark, tmp_path):
    """The finality contract end to end: a bucket served by
    serve_hypertable_final never changes in any later batch, and a
    bucket re-opened by an in-window late event seals WITH that event
    folded in."""
    from doc2dataset_spark.streaming.hypertable import (
        ingest_hypertable_late_batch,
        serve_hypertable_final,
    )

    out = (tmp_path / "htf_out").as_posix()
    two_h = 2 * 3600 * 1_000_000
    ingest_hypertable_late_batch(
        _ts_frame(spark, [(1, "00:10", 5), (2, "01:20", 4), (3, "03:30", 7)]),
        out,
        batch_id=0,
        lateness_us=two_h,
    )
    # wm = 01:30: only hour 00 (end 01:00) is sealed
    final0 = _rows(serve_hypertable_final(spark, out))
    assert [(g, b) for g, b, *_ in final0] == [
        ("hour", "2024-03-01 00:00:00")
    ]
    # batch 1: late event into hour 02 (in-window), fresh event at 06:00
    ingest_hypertable_late_batch(
        _ts_frame(spark, [(4, "02:10", 2), (5, "06:00", 3)]),
        out,
        batch_id=1,
        lateness_us=two_h,
    )
    # wm = 04:00: hours 00-03 sealed; hour 02 sealed WITH the late row
    final1 = {(g, b): (n, t) for g, b, n, t in _rows(
        serve_hypertable_final(spark, out)
    )}
    assert final1[("hour", "2024-03-01 02:00:00")] == (1, 2.0)
    # immutability: every batch-0 final row is served identically later
    for g, b, n, t in final0:
        assert final1[(g, b)] == (n, t)


def test_final_requires_a_watermarked_log(spark, tmp_path):
    """serve_hypertable_final over a log built by the UNBOUNDED ingest
    must refuse — without a lateness bound no bucket is ever provably
    complete, so serving 'final' rows would be a false promise."""
    import pytest as _pytest

    from doc2dataset_spark.streaming.hypertable import (
        hourly_partial,
        serve_hypertable_final,
    )

    out = (tmp_path / "htn_out").as_posix()
    (
        hourly_partial(_ts_frame(spark, [(1, "01:00", 5)]))
        .withColumn("batch_id", F.lit(0))
        .write.partitionBy("batch_id")
        .parquet(os.path.join(out, "hourly"))
    )
    with _pytest.raises(ValueError, match="watermark snapshot"):
        serve_hypertable_final(spark, out)


def test_late_ingest_empty_batch_clears_stale_state(spark, tmp_path):
    """A zero-row recompute must clear BOTH a dead incarnation's partial
    partition and its wm snapshot — a stale wm would raise spurious
    lateness errors against the new stream's valid timestamps."""
    from doc2dataset_spark.streaming.hypertable import (
        hourly_partial,
        hypertable_wm_state,
        ingest_hypertable_late_batch,
    )
    from doc2dataset_spark.operators.time_travel import land_batch

    out = (tmp_path / "hte_out").as_posix()
    two_h = 2 * 3600 * 1_000_000
    # dead incarnation's debris under batch_id=0: partials + a wm far
    # in the future of the new stream
    land_batch(
        hourly_partial(_ts_frame(spark, [(9, "23:00", 9)])),
        os.path.join(out, "hourly"),
        0,
    )
    land_batch(
        spark.createDataFrame(
            [(10**18, 10**18 - two_h, 0, 0)],
            "max_ts_us bigint, wm_us bigint, "
            "n_late_rows bigint, n_reopened_hours bigint",
        ),
        os.path.join(out, "wm"),
        0,
    )
    snap = ingest_hypertable_late_batch(
        _ts_frame(spark, []).limit(0), out, batch_id=0, lateness_us=two_h
    )
    assert snap["max_ts_us"] is None
    assert hypertable_wm_state(spark, out) is None
    assert not os.path.exists(os.path.join(out, "hourly", "batch_id=0"))
    # the new stream's (older) timestamps are now accepted
    ok = ingest_hypertable_late_batch(
        _ts_frame(spark, [(1, "01:00", 5)]), out, batch_id=1,
        lateness_us=two_h,
    )
    assert ok["n_late_rows"] == 0


def test_final_asof_equals_snapshot_and_is_contained_in_live(spark, tmp_path):
    """Finality × time travel: serve_hypertable_final_asof(N) must equal
    what serve_hypertable_final returned right after batch N landed, and
    every sealed row must still be served bit-identically by the LIVE
    final serve (immutability makes snapshots containment-auditable)."""
    import pytest as _pytest

    from doc2dataset_spark.streaming.hypertable import (
        ingest_hypertable_late_batch,
        serve_hypertable_final,
        serve_hypertable_final_asof,
    )

    out = (tmp_path / "hta_out").as_posix()
    two_h = 2 * 3600 * 1_000_000
    batches = [
        [(1, "00:10", 5), (2, "01:20", 4), (3, "03:30", 7)],
        [(4, "02:10", 2), (5, "06:00", 3)],
        [(6, "04:40", 1), (7, "09:00", 8)],
    ]
    snapshots = []
    for i, rows in enumerate(batches):
        ingest_hypertable_late_batch(
            _ts_frame(spark, rows), out, batch_id=i, lateness_us=two_h
        )
        snapshots.append(_rows(serve_hypertable_final(spark, out)))
    for i, snap in enumerate(snapshots):
        assert _rows(serve_hypertable_final_asof(spark, out, i)) == snap
    live = {(g, b): (n, t) for g, b, n, t in snapshots[-1]}
    for snap in snapshots:
        for g, b, n, t in snap:
            assert live[(g, b)] == (n, t)
    # pre-watermarked-history refusal: no wm snapshot can precede batch 0
    from doc2dataset_spark.operators.time_travel import clear_batch

    clear_batch((tmp_path / "hta_out" / "wm").as_posix(), 0)
    with _pytest.raises(ValueError, match="watermark snapshot"):
        serve_hypertable_final_asof(spark, out, 0)


def test_drop_mode_dead_letters_and_preserves_sealed_buckets(spark, tmp_path):
    """on_late='drop': too-late rows divert to the rejected log (full
    rows, counted in the sidecar), the serve equals a rollup over the
    KEPT rows only, and the previously-sealed bucket stays immutable —
    the exact promise the refusal mode protects, now kept while the
    stream keeps flowing."""
    import pytest as _pytest

    from doc2dataset_spark.streaming.hypertable import (
        hypertable_wm_state,
        ingest_hypertable_late_batch,
        rejected_hypertable_rows,
        serve_hypertable,
        serve_hypertable_final,
    )

    out = (tmp_path / "htd_out").as_posix()
    two_h = 2 * 3600 * 1_000_000
    ingest_hypertable_late_batch(
        _ts_frame(spark, [(1, "00:10", 5), (2, "06:00", 7)]),
        out,
        batch_id=0,
        lateness_us=two_h,
        on_late="drop",
    )
    final0 = _rows(serve_hypertable_final(spark, out))
    # wm = 04:00; batch 1 carries one too-late row (01:30) + one valid
    snap = ingest_hypertable_late_batch(
        _ts_frame(spark, [(3, "01:30", 9), (4, "07:00", 3)]),
        out,
        batch_id=1,
        lateness_us=two_h,
        on_late="drop",
    )
    assert snap["n_dropped_rows"] == 1
    dead = rejected_hypertable_rows(spark, out).collect()
    assert [(r.event_id, r.batch_id) for r in dead] == [(3, 1)]
    assert hypertable_wm_state(spark, out)["n_dropped_rows"] == 1
    # the dropped row never reaches the fold: hour 01 keeps ONLY the
    # batch-0 content (none here — it was empty), and sealed rows from
    # batch 0 are served identically
    served = {(g, b): (n, t) for g, b, n, t in _rows(serve_hypertable(spark, out))}
    assert ("hour", "2024-03-01 01:00:00") not in served
    final1 = {(g, b): (n, t) for g, b, n, t in _rows(
        serve_hypertable_final(spark, out)
    )}
    for g, b, n, t in final0:
        assert final1[(g, b)] == (n, t)
    # an ENTIRELY too-late batch carries the wm forward and drops all
    snap2 = ingest_hypertable_late_batch(
        _ts_frame(spark, [(5, "02:00", 1)]),
        out,
        batch_id=2,
        lateness_us=two_h,
        on_late="drop",
    )
    assert snap2["n_dropped_rows"] == 1
    assert snap2["max_ts_us"] == snap["max_ts_us"]
    assert rejected_hypertable_rows(spark, out).count() == 2
    # refuse mode on the same feed still raises
    with _pytest.raises(RuntimeError, match="lateness bound"):
        ingest_hypertable_late_batch(
            _ts_frame(spark, [(6, "02:30", 1)]),
            out,
            batch_id=3,
            lateness_us=two_h,
        )
    # bogus mode refused loudly
    with _pytest.raises(ValueError, match="on_late"):
        ingest_hypertable_late_batch(
            _ts_frame(spark, [(7, "08:00", 1)]),
            out,
            batch_id=3,
            lateness_us=two_h,
            on_late="ignore",
        )
    # clean log refuses the dead-letter reader with a clear message
    with _pytest.raises(ValueError, match="dead-letter"):
        rejected_hypertable_rows(spark, (tmp_path / "nolog").as_posix())


def test_drop_mode_through_the_real_stream(spark, tmp_path):
    """on_late='drop' through foreachBatch end to end: a disordered
    file stream whose final slice is far below the watermark keeps
    flowing (no refusal), dead-letters exactly that slice, and serves
    the rollup over the kept rows — stream == batch for the dead-letter
    contract, not just the per-batch core."""
    from doc2dataset_spark.queries.timeseries_hypertable import (
        _ht_emit,
        _ht_level,
    )
    from doc2dataset_spark.streaming.hypertable import (
        hourly_partial,
        rejected_hypertable_rows,
        run_hypertable_ingest_late,
        serve_hypertable,
    )

    e = load_table(spark, SF, "events").select(*COLS)
    cuts = e.select(
        F.expr("percentile(unix_micros(ts), array(0.34, 0.67))")
    ).first()[0]
    lo, hi = int(cuts[0]), int(cuts[1])
    mid = (F.unix_micros("ts") > lo) & (F.unix_micros("ts") <= hi)
    src = _land_slices(
        spark,
        tmp_path,
        [  # oldest slice arrives LAST — far below wm by then
            e.filter(mid),
            e.filter(F.unix_micros("ts") > hi),
            e.filter(F.unix_micros("ts") <= lo),
        ],
        "htdl_stream",
    )
    out = (tmp_path / "htdl_out").as_posix()
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    run_hypertable_ingest_late(
        spark,
        stream,
        out,
        (tmp_path / "htdl_ckpt").as_posix(),
        lateness_us=24 * 3600 * 1_000_000,  # 1 day << the ~10-day gap
        on_late="drop",
    )
    dead = rejected_hypertable_rows(spark, out)
    n_old = e.filter(F.unix_micros("ts") <= lo).count()
    # the whole oldest slice was dead-lettered (1-day bound vs ~10-day
    # regression in event time), nothing else
    assert dead.count() == n_old
    assert dead.agg(F.max(F.unix_micros("ts"))).first()[0] <= lo
    kept = e.filter(F.unix_micros("ts") > lo)
    hourly = hourly_partial(kept).localCheckpoint(eager=False)
    daily = _ht_level(hourly, "bucket", "day").localCheckpoint(eager=False)
    want = _rows(
        _ht_emit(hourly, "hour")
        .unionByName(_ht_emit(daily, "day"))
        .unionByName(_ht_emit(_ht_level(daily, "bucket", "month"), "month"))
    )
    assert _rows(serve_hypertable(spark, out)) == want


def test_drop_mode_keeps_null_ts_rows(spark, tmp_path):
    """Review fix: NULL-ts rows are not provably late — they must fold
    into the NULL hour bucket (as every other path does), never vanish
    between the dropped and kept filters."""
    from doc2dataset_spark.streaming.hypertable import (
        ingest_hypertable_late_batch,
        serve_hypertable,
    )

    out = (tmp_path / "htn2_out").as_posix()
    two_h = 2 * 3600 * 1_000_000
    ingest_hypertable_late_batch(
        _ts_frame(spark, [(1, "01:00", 5), (2, "06:00", 7)]),
        out, batch_id=0, lateness_us=two_h, on_late="drop",
    )
    null_row = _ts_frame(spark, [(4, "07:00", 3)]).unionByName(
        _ts_frame(spark, [(3, "01:00", 9)]).withColumn(
            "ts", F.lit(None).cast("timestamp")
        )
    )
    snap = ingest_hypertable_late_batch(
        null_row, out, batch_id=1, lateness_us=two_h, on_late="drop"
    )
    assert snap["n_dropped_rows"] == 0
    served = {
        r["bucket"]: r["n_events"]
        for r in serve_hypertable(spark, out).collect()
        if r["granularity"] == "hour"
    }
    assert served.get(None) == 1  # the NULL bucket holds the NULL-ts row


def test_empty_recompute_forgets_landing_time(spark, tmp_path):
    """Review fix: a zero-row (or fully dead-lettered) recompute deletes
    the batch's partitions AND its landing-time entry — a surviving
    dead-incarnation time would clamp the next real batch's clock."""
    from doc2dataset_spark.operators.time_travel import (
        batch_times,
        record_batch_time,
    )
    from doc2dataset_spark.streaming.hypertable import (
        hourly_partial,
        ingest_hypertable_late_batch,
    )
    from doc2dataset_spark.operators.time_travel import land_batch

    out = (tmp_path / "htt_out").as_posix()
    hdir = os.path.join(out, "hourly")
    two_h = 2 * 3600 * 1_000_000
    # dead incarnation: partials + a far-future landing time for id 0
    land_batch(hourly_partial(_ts_frame(spark, [(9, "23:00", 9)])), hdir, 0)
    record_batch_time(hdir, 0, ts_us=10**18)
    snap = ingest_hypertable_late_batch(
        _ts_frame(spark, []).limit(0), out, batch_id=0, lateness_us=two_h
    )
    assert snap["max_ts_us"] is None
    assert 0 not in batch_times(hdir)
    # the next real batch records its own clock, unclamped
    ingest_hypertable_late_batch(
        _ts_frame(spark, [(1, "01:00", 5)]), out, batch_id=1,
        lateness_us=two_h,
    )
    assert batch_times(hdir)[1] < 10**18
    # all-dropped recompute also forgets its landing time
    ingest_hypertable_late_batch(
        _ts_frame(spark, [(2, "09:00", 5)]), out, batch_id=2,
        lateness_us=two_h, on_late="drop",
    )
    t2 = batch_times(hdir)[2]
    assert t2 >= batch_times(hdir)[1]
    snap = ingest_hypertable_late_batch(
        _ts_frame(spark, [(3, "01:30", 5)]), out, batch_id=3,
        lateness_us=two_h, on_late="drop",
    )
    assert snap["n_dropped_rows"] == 1 and snap["n_late_rows"] == 0
    assert 3 not in batch_times(hdir)


def test_all_null_ts_batch_is_not_an_empty_recompute(spark, tmp_path):
    """Round-14 advice (medium): empty means ZERO ROWS, not zero
    non-NULL timestamps. A batch whose rows ALL have NULL ts must land
    its NULL-bucket partials (exactly as the mixed-batch path does) and
    carry the prior watermark forward unchanged — never be treated as
    an empty recompute that silently discards the rows and deletes a
    live partition."""
    from doc2dataset_spark.streaming.hypertable import (
        hypertable_wm_state,
        ingest_hypertable_late_batch,
        serve_hypertable,
    )

    out = (tmp_path / "htnull_out").as_posix()
    two_h = 2 * 3600 * 1_000_000
    snap0 = ingest_hypertable_late_batch(
        _ts_frame(spark, [(1, "01:00", 5), (2, "06:00", 7)]),
        out, batch_id=0, lateness_us=two_h,
    )
    all_null = _ts_frame(spark, [(3, "01:00", 9), (4, "02:00", 4)]).withColumn(
        "ts", F.lit(None).cast("timestamp")
    )
    snap1 = ingest_hypertable_late_batch(
        all_null, out, batch_id=1, lateness_us=two_h
    )
    # wm state carried forward unchanged, nothing dropped or late
    assert snap1["max_ts_us"] == snap0["max_ts_us"]
    assert snap1["wm_us"] == snap0["wm_us"]
    assert snap1["n_dropped_rows"] == 0 and snap1["n_late_rows"] == 0
    assert hypertable_wm_state(spark, out)["wm_us"] == snap0["wm_us"]
    served = {
        r["bucket"]: r["n_events"]
        for r in serve_hypertable(spark, out).collect()
        if r["granularity"] == "hour"
    }
    assert served.get(None) == 2  # both NULL-ts rows folded, not vanished
    # drop mode takes the same path: NULL ts is never provably late
    snap2 = ingest_hypertable_late_batch(
        all_null.withColumn("event_id", F.col("event_id") + 10),
        out, batch_id=2, lateness_us=two_h, on_late="drop",
    )
    assert snap2["n_dropped_rows"] == 0
    served = {
        r["bucket"]: r["n_events"]
        for r in serve_hypertable(spark, out).collect()
        if r["granularity"] == "hour"
    }
    assert served.get(None) == 4


def test_all_null_ts_first_batch_defers_the_watermark(spark, tmp_path):
    """An all-NULL-ts FIRST batch has no event time to watermark: its
    NULL-bucket partials land, no wm snapshot is written (readers would
    crash on NULL bounds), and the first real-ts batch establishes the
    watermark normally."""
    from doc2dataset_spark.streaming.hypertable import (
        hypertable_wm_state,
        ingest_hypertable_late_batch,
        serve_hypertable,
    )

    out = (tmp_path / "htnull0_out").as_posix()
    two_h = 2 * 3600 * 1_000_000
    all_null = _ts_frame(spark, [(1, "01:00", 5)]).withColumn(
        "ts", F.lit(None).cast("timestamp")
    )
    snap = ingest_hypertable_late_batch(
        all_null, out, batch_id=0, lateness_us=two_h
    )
    assert snap["max_ts_us"] is None and snap["wm_us"] is None
    assert hypertable_wm_state(spark, out) is None
    served = {
        r["bucket"]: r["n_events"]
        for r in serve_hypertable(spark, out).collect()
        if r["granularity"] == "hour"
    }
    assert served.get(None) == 1  # the partials are there all the same
    snap1 = ingest_hypertable_late_batch(
        _ts_frame(spark, [(2, "06:00", 7)]), out, batch_id=1,
        lateness_us=two_h,
    )
    assert snap1["wm_us"] == snap1["max_ts_us"] - two_h
    assert hypertable_wm_state(spark, out)["wm_us"] == snap1["wm_us"]


def test_watermark_never_moves_backward_on_widened_bound(spark, tmp_path):
    """Round-14 advice (low): lateness_us is a per-call parameter, so a
    restart with a WIDER bound (or a typo) would compute a LOWER wm and
    re-open buckets serve_hypertable_final already promised immutable.
    The monotone clamp pins wm to max(computed, prior wm): sealed stays
    sealed, and events below the old watermark still refuse."""
    import pytest as _pytest

    from doc2dataset_spark.streaming.hypertable import (
        hypertable_wm_state,
        ingest_hypertable_late_batch,
        serve_hypertable_final,
    )

    out = (tmp_path / "htwm_out").as_posix()
    two_h = 2 * 3600 * 1_000_000
    snap0 = ingest_hypertable_late_batch(
        _ts_frame(spark, [(1, "01:00", 5), (2, "08:00", 7)]),
        out, batch_id=0, lateness_us=two_h,
    )
    sealed0 = _rows(serve_hypertable_final(spark, out))
    assert sealed0  # hour 01 sealed under the 2h bound (wm = 06:00)
    # restart the feed with a 10x wider bound: without the clamp the wm
    # would regress from 06:00 to 12:00-20:00 < 0 → unsealing hour 01
    snap1 = ingest_hypertable_late_batch(
        _ts_frame(spark, [(3, "09:00", 1)]),
        out, batch_id=1, lateness_us=10 * two_h,
    )
    assert snap1["wm_us"] >= snap0["wm_us"]
    assert hypertable_wm_state(spark, out)["wm_us"] == snap1["wm_us"]
    # every previously-sealed row is still served, bit-identical
    sealed1 = _rows(serve_hypertable_final(spark, out))
    for row in sealed0:
        assert row in sealed1
    # and a row below the ORIGINAL watermark still refuses: the widened
    # bound did not re-open the sealed prefix for mutation
    with _pytest.raises(RuntimeError, match="lateness bound"):
        ingest_hypertable_late_batch(
            _ts_frame(spark, [(4, "01:30", 2)]),
            out, batch_id=2, lateness_us=10 * two_h,
        )


def test_streaming_gapfill_locf_twin(spark, tmp_path):
    """serve_hypertable_gapfill over a log built by the REAL watermarked
    stream equals the same serve over a one-batch log of the identical
    events (stream == batch), and the gap semantics are pinned: a
    missing hour emits n_events=0 / total NULL with total_locf carried
    from the last observed hour — the round-14 gapfill+LOCF serve gains
    its streaming twin (round-14 verdict, Next round #5)."""
    from doc2dataset_spark.streaming.hypertable import (
        ingest_hypertable_late_batch,
        run_hypertable_ingest_late,
        serve_hypertable_gapfill,
    )

    # hours 00/01/03/06 observed, 02/04/05 are gaps; batch 1 is LATE
    # for hour 01 (below batch 0's max), re-opening it inside the bound
    rows0 = [(1, "00:10", 4), (2, "01:20", 6), (3, "03:05", 10)]
    rows1 = [(4, "01:40", 2), (5, "06:30", 8)]
    bound = 12 * 3600 * 1_000_000
    src = _land_slices(
        spark,
        tmp_path,
        [_ts_frame(spark, rows0), _ts_frame(spark, rows1)],
        "gf_stream",
    )
    out = (tmp_path / "gf_out").as_posix()
    stream = (
        spark.readStream.schema(_ts_frame(spark, rows0).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    run_hypertable_ingest_late(
        spark, stream, out, (tmp_path / "gf_ckpt").as_posix(),
        lateness_us=bound,
    )
    twin = (tmp_path / "gf_twin").as_posix()
    ingest_hypertable_late_batch(
        _ts_frame(spark, rows0 + rows1), twin, batch_id=0,
        lateness_us=bound,
    )

    def gf(d):
        return sorted(
            (r["bucket"], r["n_events"], r["total"], r["total_locf"])
            for r in serve_hypertable_gapfill(spark, d).collect()
        )

    got, want = gf(out), gf(twin)
    assert got == want
    # gapless grid over the observed span: hours 00..06 inclusive
    assert [b[11:13] for b, _, _, _ in got] == [
        "00", "01", "02", "03", "04", "05", "06",
    ]
    by_hour = {b[11:13]: (n, t, locf) for b, n, t, locf in got}
    assert by_hour["01"] == (2, 8.0, 8.0)  # late re-fold folded in
    assert by_hour["02"] == (0, None, 8.0)  # gap: LOCF carries hour 01
    assert by_hour["04"] == (0, None, 10.0)  # gap: carries hour 03
    assert by_hour["05"] == (0, None, 10.0)
    assert by_hour["06"] == (1, 8.0, 8.0)


def test_auto_compaction_fires_at_the_counter_knee(spark, tmp_path):
    """compact='auto' (round-14 verdict, Next round #6): the cadence is
    derived from the wm sidecar's own n_partial_rows counters — the log
    folds itself whenever the serve-side fold input exceeds factor x
    the estimated hour count, keeping the fold input pinned near
    O(hours) with no hand-picked compact_every, and the serve stays
    equal to the batch recompute throughout."""
    from doc2dataset_spark.streaming.hypertable import (
        decide_hypertable_compaction,
        run_hypertable_ingest_late,
    )
    from doc2dataset_spark.operators.index_maintenance import (
        compaction_horizon,
    )
    from doc2dataset_spark import fsio

    n = 8
    e = load_table(spark, SF, "events").select(*COLS)
    src = _land_slices(
        spark,
        tmp_path,
        [e.filter(F.pmod("event_id", F.lit(n)) == i) for i in range(n)],
        "ac_stream",
    )
    out = (tmp_path / "ac_out").as_posix()
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    run_hypertable_ingest_late(
        spark,
        stream,
        out,
        (tmp_path / "ac_ckpt").as_posix(),
        lateness_us=60 * 24 * 3600 * 1_000_000,
        compact="auto",
        compact_factor=3,
    )
    # the serve is still exactly the batch recompute
    got = _rows(serve_hypertable(spark, out))
    want = _rows(events_hypertable_rollup(spark, SF))
    assert got == want
    # auto-compaction actually fired (mod slices touch ~every hour per
    # batch, so the 3x knee is crossed repeatedly across 8 batches)
    hdir = os.path.join(out, "hourly")
    fs, p = fsio.url_to_fs(hdir)
    horizon = compaction_horizon(fs, p)
    assert horizon is not None and horizon >= 3
    # and it kept the fold input pinned: the post-run decision's fold
    # input is well below the uncompacted O(hours x batches) total, and
    # the hour estimate is a true LOWER bound (it can only delay a
    # fire, never trigger one early)
    d = decide_hypertable_compaction(spark, out, factor=3)
    hours = len([r for r in got if r[0] == "hour"])
    uncompacted_total = sum(
        int(r["n_partial_rows"])
        for r in spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(out, "wm"))
        .collect()
    )
    assert d["hours_est"] <= hours
    assert d["fold_input_rows"] < uncompacted_total
    assert d["head_rows"] > 0  # the folded head is what the serve reads


def test_decide_compaction_refuses_to_guess(spark, tmp_path):
    """No wm sidecar (unbounded ingest) and single-batch logs must not
    fire; the decision explains itself either way."""
    from doc2dataset_spark.streaming.hypertable import (
        decide_hypertable_compaction,
        ingest_hypertable_late_batch,
    )

    out, go = _run(spark, tmp_path)
    go()
    d = decide_hypertable_compaction(spark, out)
    assert d["fire"] is False and "no wm sidecar" in d["reason"]

    out2 = (tmp_path / "one").as_posix()
    ingest_hypertable_late_batch(
        _ts_frame(spark, [(1, "00:10", 1), (2, "05:10", 2)]),
        out2,
        batch_id=0,
        lateness_us=3600 * 1_000_000,
    )
    d2 = decide_hypertable_compaction(spark, out2, factor=1)
    assert d2["fire"] is False and "tail batches" in d2["reason"]


def test_decide_compaction_legacy_sidecar_refuses_not_crashes(spark, tmp_path):
    """A fully pre-round-15 wm sidecar (no n_partial_rows column in ANY
    file) must produce the documented fire=False 'legacy' result —
    mergeSchema cannot surface a column no file carries, so the select
    used to crash (round-15 close review)."""
    from doc2dataset_spark.streaming.hypertable import (
        decide_hypertable_compaction,
        hourly_partial,
    )
    from doc2dataset_spark.operators.time_travel import land_batch

    out = (tmp_path / "legacy").as_posix()
    for i in range(3):
        frame = _ts_frame(spark, [(10 * i + j, f"0{i}:1{j}", j + 1) for j in range(3)])
        land_batch(hourly_partial(frame), os.path.join(out, "hourly"), i)
        # the OLD 5-column wm snapshot shape, pre-n_partial_rows
        land_batch(
            spark.createDataFrame(
                [(1000 + i, 900 + i, 0, 0, 0)],
                "max_ts_us bigint, wm_us bigint, n_late_rows bigint, "
                "n_reopened_hours bigint, n_dropped_rows bigint",
            ),
            os.path.join(out, "wm"),
            i,
        )
    d = decide_hypertable_compaction(spark, out, factor=1)
    assert d["fire"] is False and "legacy" in d["reason"]
