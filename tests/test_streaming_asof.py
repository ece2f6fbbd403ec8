"""Streaming as-of attribution (streaming/asof.py): the union of
per-micro-batch attributed purchases must equal the batch as-of join
exactly when batches arrive in event-time order, and a same-checkpoint
replay must not change the answer."""

from __future__ import annotations

import glob as _glob
import os
import shutil as _shutil
import time as _time

from pyspark.sql import functions as F

from doc2dataset_spark.queries.timeseries_asof import _asof_carried
from doc2dataset_spark.session import load_table
from doc2dataset_spark.streaming.asof import (
    attributed_purchases,
    run_asof_attribution,
)

SF = "/root/testdata/sf0.001"
SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double"
)


def _write_stream_files(spark, tmp_path):
    """Three contiguous event-time slices of the events table, one file
    each, mtime-ordered so maxFilesPerTrigger=1 feeds them as three
    ordered micro-batches."""
    e = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    cuts = (
        e.select(F.expr("percentile(unix_micros(ts), array(0.34, 0.67))"))
        .first()[0]
    )
    lo, hi = int(cuts[0]), int(cuts[1])
    slices = [
        e.filter(F.unix_micros("ts") <= lo),
        e.filter(
            (F.unix_micros("ts") > lo) & (F.unix_micros("ts") <= hi)
        ),
        e.filter(F.unix_micros("ts") > hi),
    ]
    src = tmp_path / "asof_stream"
    os.makedirs(src, exist_ok=True)
    for i, frame in enumerate(slices):
        d = tmp_path / f"slice_{i}"
        frame.coalesce(1).write.mode("overwrite").parquet(d.as_posix())
        dst = (src / f"b{i}.parquet").as_posix()
        _shutil.copy(_glob.glob((d / "part-*.parquet").as_posix())[0], dst)
        os.utime(dst, (_time.time() + 2 * i, _time.time() + 2 * i))
    return src


def _rows(df):
    return sorted(
        (
            r.event_id,
            r.user_id,
            r.p_ts,
            r.purchase_value,
            r.v_ts,
            r.last_view_value,
            r.gap_us,
        )
        for r in df.collect()
    )


def _run(spark, tmp_path):
    src = _write_stream_files(spark, tmp_path)
    out = (tmp_path / "asof_out").as_posix()
    ckpt = (tmp_path / "asof_ckpt").as_posix()

    def go():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src.as_posix())
        )
        run_asof_attribution(spark, stream, out, ckpt)

    return out, go


def test_stream_equals_batch_asof(spark, tmp_path):
    out, go = _run(spark, tmp_path)
    go()
    landed = spark.read.parquet((tmp_path / "asof_out/attributed").as_posix())
    assert landed.select("batch_id").distinct().count() >= 2, (
        "stream collapsed into one micro-batch — cross-batch state untested"
    )
    got = _rows(attributed_purchases(spark, out))
    want = _rows(_asof_carried(spark, SF))
    assert got == want
    # cross-batch carries actually happened: some purchase in a LATER
    # batch matched a view landed by an EARLIER batch
    first_max = (
        landed.filter(F.col("batch_id") == 0)
        .agg(F.max(F.unix_micros("p_ts")))
        .first()[0]
    )
    later_matched_earlier = landed.filter(
        (F.col("batch_id") > 0)
        & F.col("v_ts").isNotNull()
        & (F.unix_micros("v_ts") <= F.lit(first_max))
    ).count()
    assert later_matched_earlier > 0


def test_stream_replay_is_idempotent(spark, tmp_path):
    out, go = _run(spark, tmp_path)
    go()
    before = _rows(attributed_purchases(spark, out))
    go()  # same checkpoint: no new files, nothing may change
    assert _rows(attributed_purchases(spark, out)) == before


# ---------------------------------------------------------------------------
# watermarked late-data attribution (run_asof_attribution_late)
# ---------------------------------------------------------------------------

from doc2dataset_spark.streaming.asof import (  # noqa: E402
    compact_view_state,
    finalize_asof_attribution,
    run_asof_attribution_late,
)

LATENESS_US = 5 * 24 * 3600 * 1_000_000  # 5 days


def _write_disordered_files(spark, tmp_path):
    """Batches that are NOT event-time ordered: a deterministic hash
    displaces ~25% of boundary-adjacent events into the NEXT slice, so
    every batch contains events older than the previous batch's maximum.
    The displacement honors the lateness contract: only events within 4
    days of their slice's upper cut may arrive late — after slice k
    lands, the watermark is (max ts ≈ cut_k) − 5 days, so a late event
    at cut_k − 4 days is still ahead of it; nothing arrives after the
    watermark passed its timestamp."""
    e = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    cuts = (
        e.select(F.expr("percentile(unix_micros(ts), array(0.34, 0.67))"))
        .first()[0]
    )
    lo, hi = int(cuts[0]), int(cuts[1])
    base = (
        F.when(F.unix_micros("ts") <= lo, 0)
        .when(F.unix_micros("ts") <= hi, 1)
        .otherwise(2)
    )
    margin = 4 * 24 * 3600 * 1_000_000  # 4 days < LATENESS_US
    near_cut = (
        (base == 0) & (F.unix_micros("ts") > F.lit(lo - margin))
    ) | ((base == 1) & (F.unix_micros("ts") > F.lit(hi - margin)))
    late = (
        (F.crc32(F.col("event_id").cast("string")) % 4 == 0)
        & (base < 2)
        & near_cut
    )
    e = e.withColumn("slice", base + late.cast("int"))
    src = tmp_path / "late_stream"
    os.makedirs(src, exist_ok=True)
    for i in range(3):
        d = tmp_path / f"lslice_{i}"
        (
            e.filter(F.col("slice") == i)
            .drop("slice")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(d.as_posix())
        )
        dst = (src / f"b{i}.parquet").as_posix()
        _shutil.copy(_glob.glob((d / "part-*.parquet").as_posix())[0], dst)
        os.utime(dst, (_time.time() + 2 * i, _time.time() + 2 * i))
    return src


def _run_late(spark, tmp_path):
    src = _write_disordered_files(spark, tmp_path)
    out = (tmp_path / "late_out").as_posix()
    ckpt = (tmp_path / "late_ckpt").as_posix()

    def go():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src.as_posix())
        )
        run_asof_attribution_late(spark, stream, out, ckpt, LATENESS_US)

    return out, go


def test_late_stream_equals_batch_after_finalize(spark, tmp_path):
    """Disordered arrival within the lateness bound: sealed batches plus
    the finalize drain must equal the batch as-of join exactly — late
    views included, late purchases included."""
    out, go = _run_late(spark, tmp_path)
    go()
    got = _rows(finalize_asof_attribution(spark, out))
    want = _rows(_asof_carried(spark, SF))
    assert got == want
    # the watermark actually held some purchases back (pending was real)
    sealed = spark.read.parquet(
        (tmp_path / "late_out/attributed").as_posix()
    )
    assert sealed.count() < len(want)
    # and some purchases were sealed before the stream ended
    assert sealed.count() > 0


def test_late_replay_is_idempotent(spark, tmp_path):
    out, go = _run_late(spark, tmp_path)
    go()
    before = _rows(finalize_asof_attribution(spark, out))
    go()
    assert _rows(finalize_asof_attribution(spark, out)) == before


def test_view_state_compaction_preserves_finalize(spark, tmp_path):
    """compact_view_state prunes the full view log to (post-watermark
    views + each user's newest pre-watermark view); the drained answer
    must be unchanged, and a fresh-checkpoint rerun must refuse."""
    import pytest as _pytest

    out, go = _run_late(spark, tmp_path)
    go()
    want = _rows(finalize_asof_attribution(spark, out))
    stats = compact_view_state(spark, out)
    assert stats["views_after"] < stats["views_before"]
    assert _rows(finalize_asof_attribution(spark, out)) == want
    # fresh checkpoint onto the compacted log: refused up front
    _shutil.rmtree((tmp_path / "late_ckpt").as_posix())
    with _pytest.raises(RuntimeError, match="compaction horizon"):
        go()


# ---------------------------------------------------------------------------
# edge regressions: views-less batches, pending emptied mid-stream
# ---------------------------------------------------------------------------

import datetime as _dt


def _synth_stream(spark, tmp_path, ordered=False):
    """Hand-built batches covering the hazards the natural fixture never
    hits: batch 0 carries NO views (the view log must read as empty-
    with-schema, not crash on schema inference), and the pending set
    EMPTIES at batch 3 before a new purchase arrives at batch 4 (a
    reader that falls back to the newest non-empty pending snapshot
    would re-seal purchase 2100 a second time).

    ``ordered=True`` shifts view 11 from t=100 to t=300 so every batch's
    min ts is at-or-after the prior batch's max — the contract
    run_asof_attribution now ENFORCES (the default disordered shape is
    what its enforcement test feeds it)."""
    t0 = _dt.datetime(2024, 1, 1)

    def ev(eid, t, typ, val=1.0):
        return (eid, t0 + _dt.timedelta(seconds=t), 1, typ, float(val))

    batches = [
        [ev(10, 200, "purchase", 20.0)],
        [ev(11, 300 if ordered else 100, "view", 1.0),
         ev(12, 950, "view", 9.5),
         ev(13, 900, "purchase", 90.0)],
        [ev(14, 2000, "view", 2.0), ev(15, 2100, "purchase", 21.0)],
        [ev(16, 3000, "view", 3.0)],
        [ev(17, 5000, "purchase", 50.0)],
    ]
    src = tmp_path / ("synth_stream_o" if ordered else "synth_stream")
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        d = tmp_path / f"sslice_{i}"
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d.as_posix())
        dst = (src / f"b{i}.parquet").as_posix()
        _shutil.copy(_glob.glob((d / "part-*.parquet").as_posix())[0], dst)
        os.utime(dst, (_time.time() + 2 * i, _time.time() + 2 * i))
    return src


def test_late_synthetic_edges_no_crash_no_resurrection(spark, tmp_path):
    src = _synth_stream(spark, tmp_path)
    out = (tmp_path / "synth_out").as_posix()
    ckpt = (tmp_path / "synth_ckpt").as_posix()
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    run_asof_attribution_late(
        spark, stream, out, ckpt, lateness_us=300 * 1_000_000
    )
    t0 = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc).timestamp()
    got = {
        r.event_id: (
            None if r.v_ts is None else int(r.v_ts.timestamp() - t0)
        )
        for r in finalize_asof_attribution(spark, out).collect()
    }
    # each purchase exactly once (no resurrection after pending emptied),
    # each matched to the correct latest at-or-before view
    assert got == {10: 100, 13: 100, 15: 2000, 17: 3000}


def test_ordered_stream_survives_viewless_first_batch(spark, tmp_path):
    """The ordered variant reads its view log before the first view has
    ever landed — must serve an empty seed, not crash."""
    src = _synth_stream(spark, tmp_path, ordered=True)
    out = (tmp_path / "ord_out").as_posix()
    ckpt = (tmp_path / "ord_ckpt").as_posix()
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    run_asof_attribution(spark, stream, out, ckpt)
    got = attributed_purchases(spark, out)
    assert got.count() == 4  # all purchases attributed (batches ts-ordered)
    # and correctly: purchase 13 (t=900) matches view 11 (t=300)
    t0 = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc).timestamp()
    matches = {
        r.event_id: (
            None if r.v_ts is None else int(r.v_ts.timestamp() - t0)
        )
        for r in got.collect()
    }
    assert matches == {10: None, 13: 300, 15: 2000, 17: 3000}


def test_ordered_variant_rejects_out_of_order_batch(spark, tmp_path):
    """Round-12 advice: the ordered-arrival contract was documented but
    never enforced — a single out-of-order batch silently mis-attributed
    (here: view 11 at t=100 arrives AFTER purchase 10 at t=200 landed,
    so the batch oracle matches purchase 10 to it but the stream never
    would). The variant must now raise, pointing at the late variant."""
    import pytest as _pytest

    src = _synth_stream(spark, tmp_path)  # disordered by construction
    out = (tmp_path / "ooo_out").as_posix()
    ckpt = (tmp_path / "ooo_ckpt").as_posix()
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    with _pytest.raises(Exception, match="ordered-arrival"):
        run_asof_attribution(spark, stream, out, ckpt)


def test_ordered_variant_zero_row_replay_clears_stale_partition(
    spark, tmp_path
):
    """Round-12 advice: dynamic overwrite writes nothing for a zero-row
    frame, so a replay whose recomputed attributed set is empty used to
    leave the prior run's partition in place. land_batch must delete
    it."""
    from doc2dataset_spark.operators.time_travel import land_batch

    adir = (tmp_path / "attributed").as_posix()
    frame = spark.createDataFrame(
        [(1, 1, _dt.datetime(2024, 1, 1), 1.0, None, None, None)],
        "event_id bigint, user_id bigint, p_ts timestamp, "
        "purchase_value double, v_ts timestamp, last_view_value double, "
        "gap_us bigint",
    )
    assert land_batch(frame, adir, 3) == 1
    assert os.path.isdir(os.path.join(adir, "batch_id=3"))
    # the replay recomputes batch 3 as EMPTY: the stale partition must go
    assert land_batch(frame.limit(0), adir, 3) == 0
    assert not os.path.exists(os.path.join(adir, "batch_id=3"))


def test_compact_view_state_failed_swap_rolls_back(
    spark, tmp_path, monkeypatch
):
    """Round-12 advice (medium): compact_view_state's swap had no
    rollback — a failure between its renames left NO live view log and
    sealing silently attributed against zero views. It now uses
    swap_in_compacted's try/rollback; a failed swap must leave the log
    byte-intact, roll the pre-written horizon back, and a retry must
    complete."""
    import pytest as _pytest

    import doc2dataset_spark.operators.index_maintenance as im
    from doc2dataset_spark import fsio

    out, go = _run_late(spark, tmp_path)
    go()
    want = _rows(finalize_asof_attribution(spark, out))

    real_swap = im.swap_in_compacted

    def boom(*a, **k):
        raise RuntimeError("injected swap failure")

    monkeypatch.setattr(im, "swap_in_compacted", boom)
    with _pytest.raises(RuntimeError, match="injected swap"):
        compact_view_state(spark, out)
    monkeypatch.setattr(im, "swap_in_compacted", real_swap)

    vdir = (tmp_path / "late_out/allviews").as_posix()
    fs, vp = fsio.url_to_fs(vdir)
    # horizon rolled back: a fresh-checkpoint replay of the (still
    # uncompacted) log stays legal
    assert im.compaction_horizon(fs, vp) is None
    # the log is intact: the drained answer is unchanged
    assert _rows(finalize_asof_attribution(spark, out)) == want
    # a clean retry compacts for real and preserves the answer
    stats = compact_view_state(spark, out)
    assert stats["views_after"] < stats["views_before"]
    assert im.compaction_horizon(fs, vp) is not None
    assert _rows(finalize_asof_attribution(spark, out)) == want


def test_compact_view_state_crash_debris_refused_then_recovered(
    spark, tmp_path
):
    """A hard crash (SIGKILL) between the swap's two renames leaves the
    view log ABSENT with __old_compact + manifest debris. _read_batches
    must REFUSE (serving an empty log would attribute every purchase
    against zero views — all-NULL matches), compact_view_state must
    refuse to run over the debris, and recover_compaction must
    reassemble the original log."""
    import json as _json

    import pytest as _pytest

    from doc2dataset_spark.operators.index_maintenance import (
        recover_compaction,
    )

    out, go = _run_late(spark, tmp_path)
    go()
    want = _rows(finalize_asof_attribution(spark, out))

    vdir = (tmp_path / "late_out/allviews").as_posix()
    # simulate the crash window: manifest written, root renamed away,
    # tmp never published
    tmp = vdir + "__compact_deadbeef"
    os.makedirs(tmp)
    with open(vdir + "__compact_manifest.json", "w") as fh:
        _json.dump({"tmp": tmp, "root": vdir, "tail_dirs": []}, fh)
    os.rename(vdir, vdir + "__old_compact")

    with _pytest.raises(RuntimeError, match="compaction debris"):
        finalize_asof_attribution(spark, out)
    with _pytest.raises(RuntimeError, match="recover_compaction"):
        compact_view_state(spark, out)

    assert recover_compaction(vdir)["action"] == "rolled_back"
    assert _rows(finalize_asof_attribution(spark, out)) == want


def test_stale_maxts_cleared_on_empty_recompute(spark, tmp_path):
    """Round-13 self-review: a dead incarnation's maxts partition for a
    batch the replay recomputes as EMPTY must be deleted, or its max ts
    raises spurious ordered-arrival errors against the new stream's
    perfectly ordered (but earlier) timestamps."""
    src = tmp_path / "mx_stream"
    os.makedirs(src, exist_ok=True)
    batches = [
        [],  # batch 0: empty on this incarnation
        [(20, _dt.datetime(2024, 1, 1, 0, 0, 10), 1, "view", 1.0),
         (21, _dt.datetime(2024, 1, 1, 0, 0, 20), 1, "purchase", 2.0)],
    ]
    for i, rows in enumerate(batches):
        d = tmp_path / f"mxslice_{i}"
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d.as_posix())
        dst = (src / f"b{i}.parquet").as_posix()
        _shutil.copy(_glob.glob((d / "part-*.parquet").as_posix())[0], dst)
        os.utime(dst, (_time.time() + 2 * i, _time.time() + 2 * i))
    out = (tmp_path / "mx_out").as_posix()
    # the dead incarnation saw events far in the future at batch 0
    far = 4_000_000_000_000_000  # ~2096 in µs
    spark.createDataFrame([(far,)], "max_ts_us bigint").withColumn(
        "batch_id", F.lit(0)
    ).write.partitionBy("batch_id").parquet(os.path.join(out, "maxts"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    # without the stale-maxts cleanup this raised "ordered-arrival"
    run_asof_attribution(spark, stream, out, (tmp_path / "mx_ckpt").as_posix())
    got = attributed_purchases(spark, out)
    assert got.count() == 1
    assert not os.path.exists(os.path.join(out, "maxts", "batch_id=0")) or (
        spark.read.parquet(os.path.join(out, "maxts"))
        .agg(F.max("max_ts_us"))
        .first()[0]
        < far
    )
