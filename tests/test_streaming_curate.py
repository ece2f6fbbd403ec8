"""Streaming curation (quality gate → incremental exact dedup):

1. stream == batch: with arrival order aligned to doc_id order, the
   accepted set equals the batch composition — Gopher keep ∧
   first-occurrence-by-digest (dedup_exact's canonical rule).
2. cross-batch dedup is real: a duplicate text planted in a LATER batch
   is rejected against the digest directory, not just within its batch.
3. replay safety: re-running a batch id replaces its own partitions.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.session import load_table
from doc2dataset_spark.streaming.curate import run_curate_stream


@pytest.fixture(scope="module")
def curate_setup(spark, sf_dir, tmp_path_factory):
    """3 arrival batches in doc_id order; batch 3 additionally replants
    the text of an early accepted doc under a fresh doc_id (the
    cross-batch duplicate)."""
    root = tmp_path_factory.mktemp("curate_src")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    n = len(pdf)
    cut1, cut2 = n // 3, 2 * n // 3
    # keep() flags for planting: replant a doc that passes the gate
    keep = {
        r["doc_id"]: r["keep"]
        for r in REGISTRY["text_gopher_rules"]
        .builder(spark, sf_dir)
        .collect()
    }
    donor = next(
        int(r.doc_id) for _, r in pdf.iloc[:cut1].iterrows() if keep[r.doc_id]
    )
    clone_id = int(pdf.doc_id.max()) + 1
    part3 = pdf.iloc[cut2:].copy()
    part3.loc[len(part3)] = {
        "doc_id": clone_id,
        "text": pdf[pdf.doc_id == donor].text.iloc[0],
    }
    parts = [pdf.iloc[:cut1], pdf.iloc[cut1:cut2], part3]
    for i, part in enumerate(parts):
        p = root / f"b{i}.parquet"
        part.to_parquet(p.as_posix(), index=False)
        os.utime(p, (time.time() + i, time.time() + i))
    return root.as_posix(), docs.schema, donor, clone_id


def _run(spark, src, schema, tmp_path, tag):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = (tmp_path / f"out_{tag}").as_posix()
    state = (tmp_path / f"state_{tag}").as_posix()
    run_curate_stream(
        stream, state, out, (tmp_path / f"ck_{tag}").as_posix()
    )
    return out, state


def test_stream_equals_batch_composition(spark, sf_dir, curate_setup, tmp_path):
    src, schema, donor, clone_id = curate_setup
    out, state = _run(spark, src, schema, tmp_path, "eq")

    verdicts = spark.read.parquet(out)
    accepted = {r.doc_id for r in verdicts.filter("accepted").collect()}

    # batch reference: gopher keep AND first occurrence per sha256(text)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    clone_text = docs.filter(F.col("doc_id") == donor).collect()[0]["text"]
    full = docs.unionByName(
        spark.createDataFrame([(clone_id, clone_text)], schema)
    )
    keep = {
        r["doc_id"]: r["keep"]
        for r in REGISTRY["text_gopher_rules"].builder(spark, sf_dir).collect()
    }
    keep[clone_id] = keep[donor]
    first = {
        r.doc_id
        for r in full.withColumn("digest", F.sha2("text", 256))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("digest").orderBy("doc_id")
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    expect = {d for d in first if keep.get(d)}
    assert accepted == expect

    # the planted cross-batch duplicate was rejected BY THE DIRECTORY
    clone = verdicts.filter(F.col("doc_id") == clone_id).collect()[0]
    assert clone["keep_quality"] and clone["is_dup"] and not clone["accepted"]

    # directory holds exactly the accepted digests (1 row per accepted doc)
    digests = spark.read.parquet(state)
    assert digests.count() == len(accepted)
    assert {r.doc_id for r in digests.collect()} == accepted


def test_streaming_curate_replay_idempotent(spark, curate_setup, tmp_path):
    src, schema, _, _ = curate_setup
    out, state = _run(spark, src, schema, tmp_path, "rp")
    before = sorted(
        map(tuple, spark.read.parquet(out).collect())
    )
    # same checkpoint restart: committed batches are not re-fired, output
    # identical
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_curate_stream(
        stream, state, out, (tmp_path / "ck_rp").as_posix()
    )
    after = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert after == before


def test_streaming_curate_crash_replay_not_self_dup(
    spark, curate_setup, tmp_path
):
    """Crash-replay: batch=N state already on disk when batch N re-fires.

    A FRESH checkpoint over the same state/out dirs re-fires every file
    as batches 0..2 with their own prior ``batch=<id>`` digest
    partitions present.  The directory read must exclude the replayed
    batch's own partition — otherwise every accepted doc is flagged
    dup_earlier against its own digest and its digests are wiped."""
    src, schema, _, _ = curate_setup
    out, state = _run(spark, src, schema, tmp_path, "crash")
    before_out = sorted(map(tuple, spark.read.parquet(out).collect()))
    before_state = sorted(map(tuple, spark.read.parquet(state).collect()))
    assert any(t[-1] for t in before_out)  # sanity: some docs accepted

    # fresh checkpoint => full replay of batches 0..2 with state present
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_curate_stream(
        stream, state, out, (tmp_path / "ck_crash2").as_posix()
    )
    after_out = sorted(map(tuple, spark.read.parquet(out).collect()))
    after_state = sorted(map(tuple, spark.read.parquet(state).collect()))
    assert after_out == before_out
    assert after_state == before_state
