"""Persisted inverted-index lifecycle: index-served BM25 must be
bit-identical to the in-query search_bm25_topk results, the postings
read must prune to the query terms' buckets, and incremental append
must converge to the full build."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from doc2dataset_spark.operators.text_index import (
    postings_path,
    append_to_text_index,
    build_text_index,
    probe_text_index,
)
from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.queries.search_extras import BM25_TOPK, QUERY_TERMS
from doc2dataset_spark.session import load_table


@pytest.fixture(scope="module")
def text_index_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("text_index"))
    build_text_index(spark, sf_dir, d)
    return d


def _rows(df):
    return {(r["doc_id"], r["score"], r["n_terms"]) for r in df.collect()}


def test_probe_matches_in_query_bm25(spark, sf_dir, text_index_dir):
    got = _rows(
        probe_text_index(
            spark, text_index_dir, list(QUERY_TERMS), topk=BM25_TOPK
        )
    )
    want = _rows(REGISTRY["search_bm25_topk"].builder(spark, sf_dir))
    assert got == want and len(got) == BM25_TOPK


def test_probe_prunes_term_buckets(spark, text_index_dir):
    df = probe_text_index(spark, text_index_dir, ["spark"], topk=5)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    # single query term -> one bucket: Catalyst may simplify the IN-list
    # to an equality; either way the filter is on the partition column
    assert "tb" in pf and ("IN" in pf.upper() or "=" in pf)
    # and the global top-k is the distributed partial top-k
    assert "TakeOrderedAndProject" in plan


def test_incremental_append_converges_to_full_build(
    spark, sf_dir, tmp_path, text_index_dir
):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.max("doc_id")).collect()[0][0] // 2

    inc_dir = str(tmp_path / "inc_idx")
    first = docs.filter(F.col("doc_id") <= mid)
    rest = docs.filter(F.col("doc_id") > mid)
    # build on the first half only (write path shared with build_text_index)
    from doc2dataset_spark.operators.text_index import _write_index

    _write_index(first, inc_dir, batch_id=0)
    append_to_text_index(spark, rest, inc_dir, batch_id=1)

    got = _rows(
        probe_text_index(spark, inc_dir, list(QUERY_TERMS), topk=BM25_TOPK)
    )
    want = _rows(
        probe_text_index(
            spark, text_index_dir, list(QUERY_TERMS), topk=BM25_TOPK
        )
    )
    assert got == want

    # crash-retry replay: re-appending the same batch id rewrites its own
    # partitions, postings count unchanged
    before = spark.read.parquet(postings_path(inc_dir)).count()
    append_to_text_index(spark, rest, inc_dir, batch_id=1)
    after = spark.read.parquet(postings_path(inc_dir)).count()
    assert after == before
    assert (
        _rows(
            probe_text_index(
                spark, inc_dir, list(QUERY_TERMS), topk=BM25_TOPK
            )
        )
        == want
    )


def test_streaming_text_ingest_matches_batch_build(
    spark, sf_dir, tmp_path, text_index_dir
):
    """Documents streamed in two micro-batches into a fresh index must
    serve the same BM25 probes as the one-shot batch build, and a
    fresh-checkpoint single-batch replay must sweep stale partitions and
    rebuild doclen/stats exactly."""
    import os
    import time as _time

    from doc2dataset_spark.streaming.index_ingest import run_text_index_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.max("doc_id")).collect()[0][0] // 2

    src = tmp_path / "doc_src"
    os.makedirs(src, exist_ok=True)
    docs.filter(F.col("doc_id") <= mid).toPandas().to_parquet(
        (src / "b0.parquet").as_posix()
    )
    docs.filter(F.col("doc_id") > mid).toPandas().to_parquet(
        (src / "b1.parquet").as_posix()
    )
    os.utime(src / "b1.parquet", (_time.time() + 2, _time.time() + 2))

    stream_dir = str(tmp_path / "stream_tix")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )
    run_text_index_ingest(
        stream, stream_dir, (tmp_path / "ck_tix").as_posix()
    )

    want = _rows(
        probe_text_index(
            spark, text_index_dir, list(QUERY_TERMS), topk=BM25_TOPK
        )
    )
    got = _rows(
        probe_text_index(
            spark, stream_dir, list(QUERY_TERMS), topk=BM25_TOPK
        )
    )
    assert got == want

    # fresh-checkpoint replay as ONE batch: old batch_id=2 swept,
    # doclen/stats rebuilt, probes unchanged
    replay = spark.readStream.schema(docs.schema).parquet(src.as_posix())
    run_text_index_ingest(
        replay, stream_dir, (tmp_path / "ck_tix2").as_posix()
    )
    post = spark.read.parquet(postings_path(stream_dir))
    assert post.agg(F.max("batch_id")).collect()[0][0] == 1
    assert (
        _rows(
            probe_text_index(
                spark, stream_dir, list(QUERY_TERMS), topk=BM25_TOPK
            )
        )
        == want
    )


def test_streaming_text_ingest_auto_compacts_both_artifacts(
    spark, sf_dir, tmp_path, text_index_dir
):
    """compact_past_batches on the text ingest must compact postings AND
    doclen on the same horizon (both are batch-partitioned), keep the
    newest batch replayable, and leave BM25 probes identical — n/avgdl
    need no refresh because doclen CONTENT is preserved."""
    import os

    from doc2dataset_spark.operators.text_index import _doclen_path
    from doc2dataset_spark.streaming.index_ingest import (
        run_text_index_ingest,
    )
    from tests.test_winnow_index import _doc_stream_source_3

    stream_dir = str(tmp_path / "stream_tix_c")
    run_text_index_ingest(
        _doc_stream_source_3(spark, sf_dir, tmp_path).select(
            "doc_id", "text"
        ),
        stream_dir,
        (tmp_path / "ck_tix_c").as_posix(),
        compact_past_batches=1,
    )

    def _dirs(p):
        return sorted(
            d for d in os.listdir(p) if d.startswith("batch_id=")
        )

    assert _dirs(postings_path(stream_dir)) == ["batch_id=2", "batch_id=3"]
    assert _dirs(_doclen_path(stream_dir)) == ["batch_id=2", "batch_id=3"]
    want = _rows(
        probe_text_index(
            spark, text_index_dir, list(QUERY_TERMS), topk=BM25_TOPK
        )
    )
    assert (
        _rows(
            probe_text_index(
                spark, stream_dir, list(QUERY_TERMS), topk=BM25_TOPK
            )
        )
        == want
    )
