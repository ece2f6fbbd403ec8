"""Streaming model-scored gate (streaming/scored_gate.py): the frozen
model applied per micro-batch must score every document BIT-IDENTICALLY
to corpus-wide batch scoring (features are pure per-document functions;
the model is integer fixed-point), and the keep verdict must be the
persisted training-time threshold, not any per-batch statistic."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from doc2dataset_spark.queries.quality_classifier import (
    fx_score_from,
    save_fx_model,
)
from doc2dataset_spark.session import load_table
from doc2dataset_spark.streaming.scored_gate import (
    load_fx_model,
    run_scored_gate_stream,
)


@pytest.fixture(scope="module")
def gate_setup(spark, sf_dir, tmp_path_factory):
    """A persisted model trained on the corpus + the corpus split into
    3 arrival batches."""
    model_dir = (tmp_path_factory.mktemp("fx_model") / "m").as_posix()
    save_fx_model(spark, sf_dir, model_dir)
    src = tmp_path_factory.mktemp("gate_src")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    n = len(pdf)
    for i, part in enumerate(
        (pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3], pdf.iloc[2 * n // 3 :])
    ):
        p = src / f"b{i}.parquet"
        part.to_parquet(p.as_posix(), index=False)
        os.utime(p, (time.time() + i, time.time() + i))
    return model_dir, src.as_posix(), docs.schema


def test_stream_scores_equal_batch_scores(spark, sf_dir, gate_setup, tmp_path):
    model_dir, src, schema = gate_setup
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = (tmp_path / "out").as_posix()
    run_scored_gate_stream(
        stream, model_dir, out, (tmp_path / "ck").as_posix()
    )

    streamed = {
        r.doc_id: (r.p8, r.score, r.keep)
        for r in spark.read.parquet(out).collect()
    }
    _, _, thr = load_fx_model(spark, model_dir)
    batch = {
        r.doc_id: (r.p8, r.score, float(r.p8) >= thr)
        for r in fx_score_from(spark, sf_dir, model_dir).collect()
    }
    assert streamed == batch
    kept = sum(1 for v in streamed.values() if v[2])
    # the calibrated median threshold keeps the upper half of the
    # TRAINING corpus — and the stream IS that corpus here
    assert 0 < kept < len(streamed)
    assert kept >= len(streamed) // 2


def test_threshold_is_frozen_not_per_batch(spark, gate_setup):
    """A batch consisting ONLY of below-threshold documents must be
    rejected in full — a per-batch median would wrongly pass half of
    it. (Features are per-document, so re-scoring the filtered subset
    cannot move any score.)"""
    from doc2dataset_spark.streaming.scored_gate import score_batch

    model_dir, src, _ = gate_setup
    w, b, thr = load_fx_model(spark, model_dir)
    docs = spark.read.parquet(src)
    verd = score_batch(docs, w, b, thr)
    low_ids = [r.doc_id for r in verd.filter(~F.col("keep")).collect()]
    assert low_ids
    low_docs = docs.filter(F.col("doc_id").isin(low_ids))
    again = score_batch(low_docs, w, b, thr)
    assert again.count() == len(low_ids)
    assert again.filter("keep").count() == 0


def test_featureless_docs_get_explicit_verdicts(spark, gate_setup):
    """A document with < 2 tokens has no bigram features and cannot be
    scored — it must still appear in the batch's audit output, as an
    explicit scoreable=false / keep=false row, never silently vanish
    (round-9 advice: the gate's docstring promises a verdict per
    arriving document)."""
    from doc2dataset_spark.streaming.scored_gate import score_batch

    model_dir, src, _ = gate_setup
    w, b, thr = load_fx_model(spark, model_dir)
    base = spark.read.parquet(src).limit(3)
    tiny_ids = (-1, -2)
    docs = base.union(
        spark.createDataFrame(
            [(tiny_ids[0], "src0", "word"), (tiny_ids[1], "src0", "")],
            base.schema,
        )
    )
    verd = score_batch(docs, w, b, thr).collect()
    assert len(verd) == 5
    by_id = {r.doc_id: r for r in verd}
    for tiny in tiny_ids:
        r = by_id[tiny]
        assert r.scoreable is False and r.keep is False
        assert r.p8 is None and r.score is None
    assert all(by_id[i].scoreable for i in by_id if i not in tiny_ids)
