"""Streaming CDC materialization: the served latest-wins table must
equal the batch application of the same ordered change set, tombstones
must delete, later batches must win over earlier ones, and a
same-checkpoint replay must not change the answer."""

from __future__ import annotations

import glob as _glob
import os
import shutil as _shutil
import time as _time

from pyspark.sql import functions as F

from doc2dataset_spark.session import load_table
from doc2dataset_spark.streaming.cdc import cdc_serve, run_cdc_ingest

SF = "/root/testdata/sf0.001"
SCHEMA = (
    "doc_id bigint, op string, seq int, text string, lang string, "
    "source string"
)


def _changelog_frames(spark):
    """Two ordered change files derived from documents: file 0 inserts
    every doc; file 1 upper-cases doc_id%10==3 (seq 0) and deletes
    doc_id%17==0 (seq 1 — delete wins over same-batch update)."""
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    inserts = docs.select(
        "doc_id",
        F.lit("upsert").alias("op"),
        F.lit(0).alias("seq"),
        "text",
        "lang",
        "source",
    )
    updates = (
        docs.filter(F.col("doc_id") % 10 == 3)
        .select(
            "doc_id",
            F.lit("upsert").alias("op"),
            F.lit(0).alias("seq"),
            F.upper("text").alias("text"),
            "lang",
            "source",
        )
    )
    deletes = docs.filter(F.col("doc_id") % 17 == 0).select(
        "doc_id",
        F.lit("delete").alias("op"),
        F.lit(1).alias("seq"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
    )
    return inserts, updates.unionByName(deletes)


def _expected(spark):
    """Batch-side truth: base docs, %10==3 upper-cased, %17==0 removed."""
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    return (
        docs.filter(F.col("doc_id") % 17 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 == 3, F.upper("text")
            ).otherwise(F.col("text")),
        )
    )


def _write_stream_files(spark, tmp_path):
    src = tmp_path / "cdc_stream"
    os.makedirs(src, exist_ok=True)
    for i, frame in enumerate(_changelog_frames(spark)):
        d = tmp_path / f"slice_{i}"
        frame.coalesce(1).write.mode("overwrite").parquet(d.as_posix())
        dst = (src / f"b{i}.parquet").as_posix()
        _shutil.copy(
            _glob.glob((d / "part-*.parquet").as_posix())[0], dst
        )
        os.utime(dst, (_time.time() + 2 * i, _time.time() + 2 * i))
    return src


def _rows(df):
    return sorted(
        (r["doc_id"], r["text"], r["lang"], r["source"])
        for r in df.collect()
    )


def test_cdc_serve_equals_batch_apply(spark, tmp_path):
    src = _write_stream_files(spark, tmp_path)
    out = (tmp_path / "cdc_log").as_posix()
    ckpt = (tmp_path / "cdc_ckpt").as_posix()
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    run_cdc_ingest(spark, stream, out, ckpt)

    landed = spark.read.parquet(out)
    assert landed.select("batch_id").distinct().count() >= 2, (
        "stream collapsed into one micro-batch — batch ordering untested"
    )
    assert _rows(cdc_serve(spark, out)) == _rows(_expected(spark))


def test_cdc_replay_is_idempotent(spark, tmp_path):
    src = _write_stream_files(spark, tmp_path)
    out = (tmp_path / "cdc_log").as_posix()
    ckpt = (tmp_path / "cdc_ckpt").as_posix()

    def go():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src.as_posix())
        )
        run_cdc_ingest(spark, stream, out, ckpt)

    go()
    first = _rows(cdc_serve(spark, out))
    go()  # same checkpoint: committed batches must not re-land
    assert _rows(cdc_serve(spark, out)) == first


def test_cdc_compact_preserves_served_state(spark, tmp_path):
    """Compaction collapses the changelog into a batch_id=0 snapshot;
    the served table must be unchanged, the partition count must drop
    to 1, and further changes (a higher batch id) must still win over
    the snapshot."""
    from doc2dataset_spark.streaming.cdc import cdc_compact

    src = _write_stream_files(spark, tmp_path)
    out = (tmp_path / "cdc_log").as_posix()
    ckpt = (tmp_path / "cdc_ckpt").as_posix()
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    run_cdc_ingest(spark, stream, out, ckpt)
    before = _rows(cdc_serve(spark, out))

    info = cdc_compact(spark, out)
    assert info["rows"] == len(before)
    assert (
        spark.read.parquet(out).select("batch_id").distinct().count() == 1
    )
    assert _rows(cdc_serve(spark, out)) == before

    # post-compaction tail: a later batch still beats the snapshot
    some_id = before[0][0]
    tail = spark.createDataFrame(
        [(some_id, "upsert", 0, "NEW TEXT", "en", "tail")],
        SCHEMA,
    ).withColumn("batch_id", F.lit(99))
    tail.write.mode("append").partitionBy("batch_id").parquet(out)
    after = {r[0]: r for r in _rows(cdc_serve(spark, out))}
    assert after[some_id][1] == "NEW TEXT"


def _ingest(spark, tmp_path):
    src = _write_stream_files(spark, tmp_path)
    out = (tmp_path / "cdc_log").as_posix()
    ckpt = (tmp_path / "cdc_ckpt").as_posix()
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    run_cdc_ingest(spark, stream, out, ckpt)
    return out


def test_cdc_compact_horizon_never_lags_publish(spark, tmp_path, monkeypatch):
    """Round-12 advice: cdc_compact used to write the compaction horizon
    only AFTER shutil.rmtree(old) — a crash in that window left a
    compacted batch_id=0 snapshot with no horizon marker, so
    cdc_serve_asof(pre-compaction N) silently served post-compaction
    merged content as the past. The horizon now lands BEFORE the
    publish: even with the cleanup crashed, the refusal holds."""
    import shutil as _sh

    import pytest as _pytest

    from doc2dataset_spark.streaming.cdc import cdc_compact, cdc_serve_asof

    out = _ingest(spark, tmp_path)
    before = _rows(cdc_serve(spark, out))

    def boom(path, *a, **k):
        raise OSError(f"injected rmtree crash for {path}")

    monkeypatch.setattr(_sh, "rmtree", boom)
    with _pytest.raises(OSError, match="injected rmtree"):
        cdc_compact(spark, out)
    monkeypatch.undo()

    # snapshot IS published (the crash hit only the old-dir cleanup)...
    assert _rows(cdc_serve(spark, out)) == before
    # ...and the pre-compaction past already REFUSES instead of serving
    # post-compaction content as history
    with _pytest.raises(ValueError, match="compaction horizon"):
        cdc_serve_asof(spark, out, as_of_batch=0)


def test_cdc_compact_failed_publish_rolls_horizon_back(
    spark, tmp_path, monkeypatch
):
    """The rollback twin: when the PUBLISH rename fails, the old log is
    restored and the pre-written horizon must be rolled back with it —
    otherwise perfectly reconstructable as-of reads get refused."""
    import os as _os

    import pytest as _pytest

    from doc2dataset_spark.streaming.cdc import cdc_compact, cdc_serve_asof

    out = _ingest(spark, tmp_path)
    before = _rows(cdc_serve(spark, out))
    asof0 = _rows(cdc_serve_asof(spark, out, as_of_batch=0))

    # the swap's renames are LocalFS.mv -> os.replace
    real_rename = _os.replace
    calls = {"n": 0}

    def flaky(a, b):
        calls["n"] += 1
        if calls["n"] == 2:  # the tmp -> out_dir publish
            raise OSError("injected publish crash")
        real_rename(a, b)

    monkeypatch.setattr(_os, "replace", flaky)
    with _pytest.raises(OSError, match="injected publish"):
        cdc_compact(spark, out)
    monkeypatch.undo()

    # the log rolled back intact and the as-of past still serves
    assert _rows(cdc_serve(spark, out)) == before
    assert _rows(cdc_serve_asof(spark, out, as_of_batch=0)) == asof0
    # and a clean retry completes end-to-end
    info = cdc_compact(spark, out)
    assert _rows(cdc_serve(spark, out)) == before
    assert info["rows"] == len(before)
