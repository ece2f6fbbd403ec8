"""Incremental streaming near-dup (MinHash-LSH band directory):

1. stream == batch: with arrival order aligned to doc_id order, the
   flagged set must equal the distinct later-side of the batch LSH
   candidate pairs (same 16-perm signatures, same 4×4 banding).
2. replay safety: re-processing a batch id replaces its own directory
   and output partitions — verdicts unchanged, no self-matching.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from doc2dataset_spark.queries.dedup import bands_of
from doc2dataset_spark.session import load_table
from doc2dataset_spark.streaming.neardup import (
    flag_against_directory,
    run_incremental_neardup,
)


@pytest.fixture(scope="module")
def doc_batches(spark, sf_dir, tmp_path_factory):
    """documents split into 3 arrival batches by doc_id range, one parquet
    file each (maxFilesPerTrigger=1 → 3 micro-batches in doc_id order)."""
    root = tmp_path_factory.mktemp("neardup_src")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    cuts = [n // 3, 2 * n // 3, n + 1]
    lo = -1
    for i, hi in enumerate(cuts):
        batch = docs.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi))
        batch.coalesce(1).write.parquet(str(root / f"b{i}"))
        lo = hi
    # one file per batch dir; arrival order follows dir name sort
    files = []
    for i in range(3):
        d = root / f"b{i}"
        files.extend(
            str(d / f) for f in sorted(os.listdir(d)) if f.endswith(".parquet")
        )
    src = root / "arrivals"
    os.makedirs(src)
    for i, f in enumerate(files):
        os.link(f, src / f"{i:03d}.parquet")
    return str(src), docs


def _expected_flags(docs):
    """Batch twin: doc is a near-dup arrival iff an earlier doc_id shares
    an LSH band bucket."""
    bands = bands_of(docs)
    a, b = bands.alias("a"), bands.alias("b")
    later = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    return {r.doc_id for r in later.collect()}


def test_stream_flags_equal_batch_candidates(spark, doc_batches, tmp_path):
    src, docs = doc_batches
    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_incremental_neardup(
        stream,
        state_dir=str(tmp_path / "state"),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == docs.count()  # every doc got a verdict exactly once
    flagged = {r.doc_id for r in got.filter("is_neardup").collect()}
    assert flagged == _expected_flags(docs)
    # directory accumulated all bands
    n_bands = spark.read.parquet(str(tmp_path / "state")).count()
    assert n_bands == docs.count() * 4


def test_replay_is_idempotent(spark, doc_batches, tmp_path):
    src, docs = doc_batches
    first = docs.orderBy("doc_id").limit(50)
    state, out = str(tmp_path / "state"), str(tmp_path / "out")

    # simulate batch 0 delivered twice (crash between write and commit)
    from doc2dataset_spark.streaming import neardup

    for _ in range(2):
        directory = None
        if os.path.isdir(state) and any(
            e.startswith("batch=") for e in os.listdir(state)
        ):
            directory = spark.read.parquet(state).filter(F.col("batch") != 0)
        verdicts, bands = neardup.flag_against_directory(first, directory)
        verdicts.withColumn("batch", F.lit(0)).write.mode("overwrite").parquet(
            os.path.join(out, "batch=0")
        )
        bands.withColumn("batch", F.lit(0)).write.mode("overwrite").parquet(
            os.path.join(state, "batch=0")
        )

    got = spark.read.parquet(out)
    assert got.count() == 50  # replaced, not duplicated
    # no doc matched "earlier" purely because of its own replayed bands
    assert got.filter("matched_earlier").count() == 0


def test_directory_collision_flags_new_arrival(spark):
    olds = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    news = spark.createDataFrame(
        [
            (2, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
            (3, "totally different words entirely novel content here now"),
        ],
        "doc_id long, text string",
    )
    directory = bands_of(olds).withColumn("batch", F.lit(0))
    verdicts, _ = flag_against_directory(news, directory)
    rows = {r.doc_id: (r.matched_earlier, r.is_neardup) for r in verdicts.collect()}
    assert rows[2] == (True, True)
    assert rows[3] == (False, False)


def test_stream_with_url_form_dirs(spark, doc_batches, tmp_path):
    """file:///-form state/out dirs (what Spark writers accept) must not
    silently disable cross-batch detection — the directory check routes
    through fsio, not os.path."""
    from doc2dataset_spark.streaming.util import batch_partitions

    src, docs = doc_batches
    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = f"file://{tmp_path}/state"
    run_incremental_neardup(
        stream,
        state_dir=state,
        out_dir=f"file://{tmp_path}/out",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert batch_partitions(state, "batch=")
    got = spark.read.parquet(f"file://{tmp_path}/out")
    flagged = {r.doc_id for r in got.filter("is_neardup").collect()}
    assert flagged == _expected_flags(docs)
    # cross-batch detection actually fired (not only within-batch)
    assert got.filter("matched_earlier").count() > 0
