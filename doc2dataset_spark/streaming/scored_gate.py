"""Streaming model-scored quality gate: apply the trained filter at
ingest.

The batch side trains the fixed-point quality classifier and gates the
corpus at its median score (queries/quality_classifier.curate_corpus_scored);
production then applies that FROZEN model to every arriving batch — the
model is the stream's only state, loaded once from the persisted
artifact (save_fx_model: weights + bias + the threshold calibrated on
the training corpus).

Per micro-batch of (doc_id, source, text):

1. featurize with the SAME hashed-bigram x8 = rha(c*U/n) expressions the
   trainer uses (quality_classifier.fx_features_of — every feature is a
   pure per-document function, so per-batch scoring is bit-identical to
   corpus-wide scoring: no drift between stream and batch by
   construction, pytest-locked);
2. score under the reloaded fixed-point weights (_fx_score — integer
   arithmetic end to end, so the reloaded model reproduces training-time
   scores exactly);
3. verdict keep = score8 >= the frozen threshold;
4. idempotent landing: the batch's verdicts land under ``batch=<id>``
   with overwrite, by the replay rules stated in streaming/util.py's
   module docstring.

Scale: stateless per batch beyond the <= LR_BUCKETS-row broadcast
weights — no state store, no watermark, nothing grows with history. The
expensive path is one aggregate pass over the batch's bigrams.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from doc2dataset_spark.queries.quality_classifier import (
    _fx_score,
    fx_features_of,
)
from doc2dataset_spark.streaming.util import run_batchwise


def load_fx_model(spark, model_dir: str):
    """(weights, bias, threshold): the persisted model. The threshold is
    a single calibrated scalar — a bounded parameter pull, collected
    once at stream start, never per batch."""
    w = spark.read.parquet(posixpath.join(model_dir, "weights"))
    b = spark.read.parquet(posixpath.join(model_dir, "bias"))
    thr = (
        spark.read.parquet(posixpath.join(model_dir, "threshold"))
        .collect()[0]["thr"]
    )
    return w, b, thr


def score_batch(batch_docs: DataFrame, w, b, thr: float) -> DataFrame:
    """(doc_id, source, p8, score, scoreable, keep) — ONE verdict row
    per arriving document. Scoreable docs get the same comparison
    curate_corpus_scored's pass_model stage makes, against the
    training-time threshold instead of a per-batch median (a per-batch
    median would let a batch of uniformly bad documents pass half of
    itself). Documents with < 2 tokens produce no bigram features and
    CANNOT be scored; they are emitted explicitly with scoreable=false,
    keep=false (null p8/score) rather than silently dropped — an ingest
    gate's audit trail must account for every arriving document."""
    docn, dfx, _ = fx_features_of(batch_docs)
    scored = _fx_score(docn, dfx, w, b)
    verdict = scored.select(
        "doc_id",
        "p8",
        "score",
        (F.col("p8").cast("double") >= F.lit(thr)).alias("keep"),
    )
    return (
        batch_docs.select("doc_id", "source")
        .join(verdict, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "p8",
            "score",
            F.col("p8").isNotNull().alias("scoreable"),
            F.coalesce("keep", F.lit(False)).alias("keep"),
        )
    )


def run_scored_gate_stream(
    docs_stream: DataFrame,
    model_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drive the stream: per-batch verdicts → out_dir/batch=<id>,
    overwrite per batch id. Blocks until drained."""
    w, b, thr = load_fx_model(docs_stream.sparkSession, model_dir)

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        score_batch(batch_df, w, b, thr).write.mode("overwrite").parquet(
            posixpath.join(out_dir, f"batch={batch_id}")
        )

    run_batchwise(
        docs_stream, checkpoint_dir, one_batch, [out_dir], prefix="batch="
    )
