"""Persisted IVF index lifecycle: index-served probes must be
bit-identical to the in-query sim_ann_ivf results, and the postings scan
must be partition-pruned to the probed cells."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from doc2dataset_spark.operators.vector_index import (
    build_ivf_index,
    probe_ivf_index,
)
from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.queries.dedup import normalized_embeddings


@pytest.fixture(scope="module")
def index_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivf_index"))
    build_ivf_index(spark, sf_dir, d)
    return d


def test_probe_matches_in_query_ivf(spark, sf_dir, index_dir):
    """nprobe=1 over all corpus vectors == sim_ann_ivf, row for row."""
    queries = normalized_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("qid"), F.col("ne").alias("qne")
    )
    got = {
        (r.qid, r.cid, round(r.cos, 9))
        for r in probe_ivf_index(spark, index_dir, queries).collect()
    }
    want = {
        (r.qid, r.cid, round(r.cos, 9))
        for r in REGISTRY["sim_ann_ivf"].builder(spark, sf_dir).collect()
    }
    assert got == want


def test_probe_prunes_postings_partitions(spark, sf_dir, index_dir):
    """Probing a handful of queries must read only their cells' hive
    partitions: the scan carries a cent_id partition filter, and widening
    nprobe widens the candidate set."""
    queries = (
        normalized_embeddings(spark, sf_dir)
        .filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("qid"), F.col("ne").alias("qne"))
    )
    df = probe_ivf_index(spark, index_dir, queries, nprobe=2, topk=3)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    # static IN-filter on the partition column reaches the scan
    assert "PartitionFilters" in plan
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cent_id" in pf and "IN" in pf.upper()

    n1 = probe_ivf_index(spark, index_dir, queries, nprobe=1, topk=3)
    n2 = df
    # recall knob: nprobe=2 scores at least as many candidates; top-k
    # cosines are >= the nprobe=1 ones per query
    s1 = {(r.qid, r.cid) for r in n1.collect()}
    s2 = {(r.qid, r.cid) for r in n2.collect()}
    assert len(s2) >= len(s1)


def test_incremental_append_equals_full_build(spark, sf_dir, tmp_path):
    """Index built on half the corpus + appended other half must serve
    the same probes as a single full build (frozen saved centroids make
    the quantization identical)."""
    from doc2dataset_spark.operators.vector_index import append_to_ivf_index

    n = normalized_embeddings(spark, sf_dir)
    mid = n.agg(F.max("vec_id")).collect()[0][0] // 2
    inc_dir = str(tmp_path / "inc")
    # full build on the first half only...
    import posixpath

    build_ivf_index(spark, sf_dir, inc_dir)
    # rebuild postings from scratch with only the first half, then append
    first = n.filter(F.col("vec_id") <= mid)
    second = n.filter(F.col("vec_id") > mid)
    from doc2dataset_spark.operators.vector_index import (
        postings_path,
        probe_ivf_index,
    )

    spark.read.parquet(postings_path(inc_dir)).limit(0)  # ensure exists
    # wipe postings, re-add in two stages against the SAME saved centroids
    import shutil

    shutil.rmtree(postings_path(inc_dir))
    append_to_ivf_index(spark, first, inc_dir, batch_id=1)
    append_to_ivf_index(spark, second, inc_dir, batch_id=2)

    full_dir = str(tmp_path / "full")
    build_ivf_index(spark, sf_dir, full_dir)

    queries = n.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("ne").alias("qne")
    )
    got = {
        (r.qid, r.cid, round(r.cos, 9))
        for r in probe_ivf_index(spark, inc_dir, queries).collect()
    }
    want = {
        (r.qid, r.cid, round(r.cos, 9))
        for r in probe_ivf_index(spark, full_dir, queries).collect()
    }
    assert got == want


def test_append_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Re-running an ingest batch id must rewrite its own partitions,
    not duplicate postings (dynamic overwrite on batch_id/cent_id)."""
    from doc2dataset_spark.operators.vector_index import (
        postings_path,
        append_to_ivf_index,
    )

    d = str(tmp_path / "idx")
    build_ivf_index(spark, sf_dir, d)
    n = normalized_embeddings(spark, sf_dir)
    batch = n.filter(F.col("vec_id") < 50)
    before = spark.read.parquet(postings_path(d)).count()
    append_to_ivf_index(spark, batch, d, batch_id=7)
    once = spark.read.parquet(postings_path(d)).count()
    append_to_ivf_index(spark, batch, d, batch_id=7)  # crash-retry replay
    twice = spark.read.parquet(postings_path(d)).count()
    assert once == before + 50
    assert twice == once


def test_streaming_ingest_matches_batch_build(spark, sf_dir, tmp_path):
    """Vectors streamed in two micro-batches into a seeded index must
    serve the same probes as one batch build over the full corpus."""
    import os
    import time as _time

    from doc2dataset_spark.operators.vector_index import postings_path
    from doc2dataset_spark.streaming.index_ingest import run_index_ingest

    n = normalized_embeddings(spark, sf_dir)
    mid = n.agg(F.max("vec_id")).collect()[0][0] // 2

    # seed: index with centroids only (empty postings beyond batch 0 of
    # nothing) — build on the full table for centroids, then wipe
    # postings so ingest provides every vector
    stream_dir = str(tmp_path / "stream_idx")
    build_ivf_index(spark, sf_dir, stream_dir)
    import shutil

    shutil.rmtree(postings_path(stream_dir))

    # source files: the raw embeddings split in two, arriving in order
    raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    src = tmp_path / "vec_src"
    os.makedirs(src, exist_ok=True)
    raw.filter(F.col("vec_id") <= mid).toPandas().to_parquet(
        (src / "b0.parquet").as_posix()
    )
    raw.filter(F.col("vec_id") > mid).toPandas().to_parquet(
        (src / "b1.parquet").as_posix()
    )
    os.utime(src / "b1.parquet", (_time.time() + 2, _time.time() + 2))

    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    run_index_ingest(stream, stream_dir, (tmp_path / "ck").as_posix())

    full_dir = str(tmp_path / "full_idx")
    build_ivf_index(spark, sf_dir, full_dir)
    queries = n.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("ne").alias("qne")
    )
    got = {
        (r.qid, r.cid, round(r.cos, 9))
        for r in probe_ivf_index(spark, stream_dir, queries).collect()
    }
    want = {
        (r.qid, r.cid, round(r.cos, 9))
        for r in probe_ivf_index(spark, full_dir, queries).collect()
    }
    assert got == want

    # Disaster recovery: a FRESH checkpoint replay that ingests
    # everything as ONE micro-batch must sweep the old incarnation's
    # stale higher-numbered batch_id partitions (old batches landed as
    # batch_id 1 and 2; the replay lands everything as batch_id 1), or
    # probes would serve each batch-2 posting twice.
    replay_stream = spark.readStream.schema(raw.schema).parquet(
        src.as_posix()  # no maxFilesPerTrigger: one big batch
    )
    run_index_ingest(
        replay_stream, stream_dir, (tmp_path / "ck_fresh").as_posix()
    )
    post = spark.read.parquet(postings_path(stream_dir))
    assert post.agg(F.max("batch_id")).collect()[0][0] == 1
    assert post.count() == post.select("vec_id").distinct().count()
    got2 = {
        (r.qid, r.cid, round(r.cos, 9))
        for r in probe_ivf_index(spark, stream_dir, queries).collect()
    }
    assert got2 == want


def test_curate_corpus_index_path_is_bit_identical(spark, sf_dir, index_dir):
    """Round-7: the curation chain served from the persisted index must
    equal the in-query-assignment plan row for row — the shared
    quantization rule (max(struct) argmax, sim DESC / cent_id ASC ties)
    guarantees the SemDeDup stage sees the same (vec_id, ne, cent_id)
    either way."""
    from doc2dataset_spark.queries.pipeline_extras import _curate_corpus_plan

    cold = {
        tuple(r)
        for r in _curate_corpus_plan(spark, sf_dir).collect()
    }
    warm = {
        tuple(r)
        for r in _curate_corpus_plan(
            spark, sf_dir, index_dir=index_dir
        ).collect()
    }
    assert warm == cold and len(cold) > 0
