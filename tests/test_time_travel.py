"""Time travel (operators/time_travel.py): as-of batch reads must equal
a fresh build on the prefix corpus, compaction must foreclose exactly
the finalized snapshots (loudly), right-to-be-forgotten must stay
forgotten in EVERY snapshot, and the label log's upsert/tombstone
semantics must replay at any point of the log."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from doc2dataset_spark.operators.cluster_state import (
    apply_batch,
    forget_docs,
    serve_labels,
)
from doc2dataset_spark.operators.index_maintenance import (
    compact_index_history,
    delete_docs_minhash,
)
from doc2dataset_spark.operators.minhash_index import (
    _bands_path,
    append_minhash_batch,
)
from doc2dataset_spark.operators.time_travel import (
    latest_batch,
    read_postings_asof,
    serve_labels_asof,
)
from doc2dataset_spark.session import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _three_batch_index(spark, sf_dir, path) -> str:
    docs = load_table(spark, sf_dir, "documents")
    for i in range(3):
        append_minhash_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), path, batch_id=i
        )
    return path


def _prefix_index(spark, sf_dir, path) -> str:
    docs = load_table(spark, sf_dir, "documents")
    for i in range(2):
        append_minhash_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), path, batch_id=i
        )
    return path


def test_postings_asof_equals_prefix_build(spark, sf_dir, tmp_path):
    full = _three_batch_index(spark, sf_dir, str(tmp_path / "full"))
    prefix = _prefix_index(spark, sf_dir, str(tmp_path / "prefix"))
    root = _bands_path(full)
    assert latest_batch(root) == 2
    asof = read_postings_asof(spark, root, 1)
    want = spark.read.parquet(_bands_path(prefix))
    assert _rows(asof) == _rows(want)
    # as-of the head batch == the current state
    assert _rows(read_postings_asof(spark, root, 2)) == _rows(
        spark.read.parquet(root)
    )


def test_compaction_forecloses_only_pre_horizon_snapshots(
    spark, sf_dir, tmp_path
):
    full = _three_batch_index(spark, sf_dir, str(tmp_path / "full"))
    prefix = _prefix_index(spark, sf_dir, str(tmp_path / "prefix"))
    root = _bands_path(full)
    compact_index_history(spark, root, upto_batch=1)
    # snapshots at/after the horizon survive compaction content-exact
    # (old rows now carry the merged head's batch id — compare content)
    asof = read_postings_asof(spark, root, 1).drop("batch_id")
    want = spark.read.parquet(_bands_path(prefix)).drop("batch_id")
    assert _rows(asof) == _rows(want)
    # snapshots strictly before the horizon are finalized: loud error
    with pytest.raises(ValueError, match="compaction horizon"):
        read_postings_asof(spark, root, 0)


def test_deletion_is_retroactive_across_snapshots(spark, sf_dir, tmp_path):
    full = _three_batch_index(spark, sf_dir, str(tmp_path / "full"))
    root = _bands_path(full)
    victim = int(
        read_postings_asof(spark, root, 0).agg(F.min("doc_id")).first()[0]
    )
    delete_docs_minhash(spark, full, [victim])
    # RTBF rewrites history: no snapshot may resurrect the doc
    for n in range(3):
        got = read_postings_asof(spark, root, n)
        assert got.filter(F.col("doc_id") == victim).count() == 0
    assert (
        read_postings_asof(spark, root, 2)
        .filter(F.col("doc_id") != victim)
        .count()
        > 0
    )


def _pairs(spark, rows):
    return spark.createDataFrame(rows or [], "da long, db long")


def _ids(spark, rows):
    return spark.createDataFrame([(i,) for i in rows], "doc_id long")


def test_labels_asof_replays_the_upsert_log(spark, tmp_path):
    state = str(tmp_path / "state")
    solo = str(tmp_path / "solo")
    apply_batch(spark, state, _pairs(spark, [(1, 2)]), _ids(spark, [1, 2, 3]),
                batch_id=0)
    apply_batch(spark, state, _pairs(spark, [(3, 4)]), _ids(spark, [4]),
                batch_id=1)
    apply_batch(spark, solo, _pairs(spark, [(1, 2)]), _ids(spark, [1, 2, 3]),
                batch_id=0)
    # as-of batch 0 == a state that only ever saw batch 0
    assert _rows(serve_labels_asof(spark, state, 0)) == _rows(
        serve_labels(spark, solo)
    )
    # as-of the head == current serving
    assert _rows(serve_labels_asof(spark, state, 1)) == _rows(
        serve_labels(spark, state)
    )


def test_labels_asof_respects_tombstones(spark, tmp_path):
    state = str(tmp_path / "state")
    apply_batch(spark, state, _pairs(spark, [(1, 2)]), _ids(spark, [1, 2, 3]),
                batch_id=0)
    apply_batch(spark, state, _pairs(spark, [(3, 4)]), _ids(spark, [4]),
                batch_id=1)

    def no_pairs(members):
        return _pairs(members.sparkSession, [])

    forget_docs(spark, state, [4], no_pairs, batch_id=2)
    before = {r.doc_id for r in serve_labels_asof(spark, state, 1).collect()}
    after = {r.doc_id for r in serve_labels_asof(spark, state, 2).collect()}
    assert 4 in before  # the upsert log still replays pre-forget state
    assert 4 not in after  # the tombstone shadows from its batch onward
    assert after == {1, 2, 3}


# ---------------------------------------------------------------------------
# CDC log time travel (streaming/cdc.cdc_serve_asof)
# ---------------------------------------------------------------------------


def test_cdc_serve_asof_replays_and_compaction_forecloses(spark, tmp_path):
    """The third persisted family: as-of over the CDC changelog equals
    the fold of the batch prefix (tombstones included); cdc_compact
    records its horizon and pre-horizon snapshots raise, while
    at-horizon and current snapshots survive the compaction exactly."""
    from pyspark.sql import functions as SF

    from doc2dataset_spark.streaming.cdc import (
        cdc_compact,
        cdc_serve,
        cdc_serve_asof,
    )

    out = (tmp_path / "cdc").as_posix()

    def land(rows, batch_id):
        df = spark.createDataFrame(
            rows, "doc_id bigint, op string, seq int, text string"
        ).withColumn("batch_id", SF.lit(batch_id))
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(out)

    land([(1, "upsert", 0, "a"), (2, "upsert", 0, "b")], 0)
    land([(2, "upsert", 0, "B"), (3, "upsert", 0, "c")], 1)
    land([(1, "delete", 0, None)], 2)

    def rows(df):
        return sorted((r.doc_id, r.text) for r in df.collect())

    assert rows(cdc_serve_asof(spark, out, 0)) == [(1, "a"), (2, "b")]
    assert rows(cdc_serve_asof(spark, out, 1)) == [
        (1, "a"),
        (2, "B"),
        (3, "c"),
    ]
    assert rows(cdc_serve_asof(spark, out, 2)) == rows(cdc_serve(spark, out))

    stats = cdc_compact(spark, out)
    assert stats["horizon"] == 2
    # at/after the horizon: still exact
    assert rows(cdc_serve_asof(spark, out, 2)) == [(2, "B"), (3, "c")]
    # before it: loud refusal, not silently-served snapshot content
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compaction horizon"):
        cdc_serve_asof(spark, out, 1)
    # the log keeps working past compaction: a later batch still wins
    land([(3, "upsert", 0, "C")], 5)
    assert rows(cdc_serve_asof(spark, out, 5)) == [(2, "B"), (3, "C")]


# ---------------------------------------------------------------------------
# time travel by TIMESTAMP (batch→landing-time manifest)
# ---------------------------------------------------------------------------

from doc2dataset_spark.operators.time_travel import (  # noqa: E402
    batch_times,
    read_postings_asof_ts,
    record_batch_time,
    resolve_asof_ts,
    serve_labels_asof_ts,
)


def test_asof_ts_resolves_between_batches(spark, sf_dir, tmp_path):
    """Every append records its landing time; a timestamp between two
    landings resolves to the earlier batch (the state that existed
    then), an exact landing time to its own batch, and anything before
    the first landing refuses."""
    full = _three_batch_index(spark, sf_dir, str(tmp_path / "full"))
    root = _bands_path(full)
    t = batch_times(root)
    assert sorted(t) == [0, 1, 2]
    assert t[0] <= t[1] <= t[2]
    assert t[0] < t[2], "landings were not separated in time"
    mid = (t[1] + t[2]) // 2
    if mid == t[2]:  # degenerate: landings within one µs
        mid = t[1]
    assert resolve_asof_ts(root, t[0]) == 0
    assert resolve_asof_ts(root, mid) == 1
    assert resolve_asof_ts(root, t[2] + 1) == 2
    assert _rows(read_postings_asof_ts(spark, root, mid)) == _rows(
        read_postings_asof(spark, root, 1)
    )
    with pytest.raises(ValueError, match="predates the first"):
        resolve_asof_ts(root, t[0] - 1)


def test_asof_ts_horizon_refusal_and_manifest_rules(spark, sf_dir, tmp_path):
    full = _three_batch_index(spark, sf_dir, str(tmp_path / "full"))
    root = _bands_path(full)
    t = batch_times(root)
    # first landing wins: re-recording a batch is a no-op (the replay
    # discipline), and a stuttering event clock clamps up (monotone)
    assert record_batch_time(root, 1, ts_us=123) == t[1]
    assert record_batch_time(root, 3, ts_us=t[0] - 50) >= t[2]
    compact_index_history(spark, root, upto_batch=1)
    # a timestamp resolving into finalized history refuses downstream
    with pytest.raises(ValueError, match="compaction horizon"):
        read_postings_asof_ts(spark, root, t[0])
    # at-or-after the horizon's landing: served fine
    assert read_postings_asof_ts(spark, root, t[1]).count() > 0
    # a log with no manifest refuses rather than guessing
    with pytest.raises(ValueError, match="no batch landing times"):
        resolve_asof_ts(str(tmp_path / "nowhere"), 0)


def test_labels_and_cdc_asof_ts(spark, tmp_path):
    """The manifest is wired through ALL log families: labels via
    apply_batch, the CDC changelog via run_cdc_ingest's per-batch
    record (covered here through an explicit record + serve)."""
    from doc2dataset_spark.streaming.cdc import cdc_serve_asof_ts

    state = str(tmp_path / "state")
    apply_batch(spark, state, _pairs(spark, [(1, 2)]), _ids(spark, [1, 2, 3]),
                batch_id=0)
    apply_batch(spark, state, _pairs(spark, [(3, 4)]), _ids(spark, [4]),
                batch_id=1)
    from doc2dataset_spark import fsio

    lroot = fsio.join(state, "labels")
    lt = batch_times(lroot)
    assert sorted(lt) == [0, 1]
    assert _rows(serve_labels_asof_ts(spark, state, lt[0])) == _rows(
        serve_labels_asof(spark, state, 0)
    )
    assert _rows(serve_labels_asof_ts(spark, state, lt[1] + 1)) == _rows(
        serve_labels(spark, state)
    )

    # CDC: land batches directly and record times the way the ingest does
    from pyspark.sql import functions as SF

    out = (tmp_path / "cdc").as_posix()

    def land(rows, batch_id, ts_us):
        df = spark.createDataFrame(
            rows, "doc_id bigint, op string, seq int, text string"
        ).withColumn("batch_id", SF.lit(batch_id))
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(out)
        record_batch_time(out, batch_id, ts_us=ts_us)

    land([(1, "upsert", 0, "a")], 0, 1_000)
    land([(1, "upsert", 1, "A"), (2, "upsert", 0, "b")], 1, 2_000)

    def rows(df):
        return sorted((r.doc_id, r.text) for r in df.collect())

    assert rows(cdc_serve_asof_ts(spark, out, 1_500)) == [(1, "a")]
    assert rows(cdc_serve_asof_ts(spark, out, 2_000)) == [(1, "A"), (2, "b")]


def test_sweep_drops_swept_batch_times(spark, tmp_path):
    from doc2dataset_spark.streaming.util import sweep_stale_batches

    out = (tmp_path / "log").as_posix()
    df = spark.createDataFrame([(1,)], "doc_id bigint")
    for i in range(3):
        df.withColumn("batch_id", F.lit(i)).write.mode("append").partitionBy(
            "batch_id"
        ).parquet(out)
        record_batch_time(out, i, ts_us=1_000 * (i + 1))
    assert sweep_stale_batches(out, 0) == 2
    assert batch_times(out) == {0: 1_000}


def test_sweep_drops_times_even_without_partitions(spark, tmp_path):
    """Round-13 self-review: an empty micro-batch records a landing time
    but writes no partition; the sweep must drop its manifest entry even
    when it removed zero partitions."""
    from doc2dataset_spark.streaming.util import sweep_stale_batches

    out = (tmp_path / "log2").as_posix()
    spark.createDataFrame([(1,)], "doc_id bigint").withColumn(
        "batch_id", F.lit(0)
    ).write.partitionBy("batch_id").parquet(out)
    record_batch_time(out, 0, ts_us=1_000)
    record_batch_time(out, 5, ts_us=6_000)  # empty batch: time, no dir
    assert sweep_stale_batches(out, 0) == 0  # nothing on disk to remove
    assert batch_times(out) == {0: 1_000}


def test_rebuild_resets_landing_times(spark, sf_dir, tmp_path):
    """Round-13 self-review: the manifest sidecar lives OUTSIDE the data
    dir, so a from-scratch rebuild must reset it — otherwise
    first-landing-wins would serve post-rebuild content as pre-rebuild
    history instead of refusing."""
    from doc2dataset_spark.operators.minhash_index import (
        build_minhash_index,
    )

    idx = str(tmp_path / "idx")
    build_minhash_index(spark, sf_dir, idx)
    root = _bands_path(idx)
    docs = load_table(spark, sf_dir, "documents")
    append_minhash_batch(
        spark, docs.filter(F.col("doc_id") % 7 == 0), idx, batch_id=1
    )
    assert sorted(batch_times(root)) == [0, 1]
    first_t0 = batch_times(root)[0]
    build_minhash_index(spark, sf_dir, idx)  # rebuild from scratch
    times = batch_times(root)
    assert sorted(times) == [0]  # the old incarnation's entries are gone
    assert times[0] >= first_t0
    with pytest.raises(ValueError, match="predates the first"):
        resolve_asof_ts(root, first_t0 - 1)


def test_corrupt_batch_times_manifest_refuses_loudly(spark, tmp_path):
    """Round-13 advice: a damaged __batch_times.json must raise with a
    recovery hint, never silently read as {} — resolve_asof_ts would
    answer 'no state existed' over a log that has state. (This module's
    own writes are tmp+rename, so damage means external interference.)"""
    from doc2dataset_spark.operators.time_travel import _times_marker

    out = (tmp_path / "log3").as_posix()
    spark.createDataFrame([(1,)], "doc_id bigint").withColumn(
        "batch_id", F.lit(0)
    ).write.partitionBy("batch_id").parquet(out)
    record_batch_time(out, 0, ts_us=1_000)
    marker = _times_marker(out)
    # simulate a torn write from a NON-tmp+rename writer
    with open(marker, "wb") as fh:
        fh.write(b'{"times": {"0": 10')
    with pytest.raises(RuntimeError, match="unparseable"):
        batch_times(out)
    with pytest.raises(RuntimeError, match="unparseable"):
        resolve_asof_ts(out, 5_000)
    # no tmp sibling is left behind by healthy writes
    assert not (tmp_path / "log3__batch_times.json.tmp").exists()


def test_batch_times_write_leaves_no_tmp_and_survives(spark, tmp_path):
    """The tmp+rename discipline: after any record/drop cycle the marker
    parses and the tmp sibling is gone."""
    from doc2dataset_spark.operators.time_travel import (
        _times_marker,
        drop_batch_times_above,
    )

    out = (tmp_path / "log4").as_posix()
    for i in range(3):
        record_batch_time(out, i, ts_us=1_000 * (i + 1))
    assert drop_batch_times_above(out, 1) == 1
    assert batch_times(out) == {0: 1_000, 1: 2_000}
    import os

    assert not os.path.exists(_times_marker(out) + ".tmp")


def test_value_level_manifest_damage_also_refuses(spark, tmp_path):
    """Review fix: valid-JSON-but-damaged contents (non-numeric times,
    'times' not a dict) must hit the same recovery-hint refusal as a
    truncated file, not a bare ValueError."""
    from doc2dataset_spark.operators.time_travel import _times_marker

    out = (tmp_path / "log5").as_posix()
    record_batch_time(out, 0, ts_us=1_000)
    marker = _times_marker(out)
    for payload in (b'{"times": {"0": "abc"}}', b'{"times": [1, 2]}'):
        with open(marker, "wb") as fh:
            fh.write(payload)
        with pytest.raises(RuntimeError, match="unparseable"):
            batch_times(out)
