"""Winnowing fingerprint index (operators/winnow_index.py): the
persisted postings must serve BIT-IDENTICAL pairs to the in-query
dedup_winnow — the property that lets dedup_winnow_indexed share the
cold twin's oracle — and the batch_id seam must behave exactly like the
band index's (append untouched, replay reproducible, reads pruned)."""

from __future__ import annotations

from pyspark.sql import functions as F

from doc2dataset_spark.operators.winnow_index import (
    append_winnow_batch,
    build_winnow_index,
    new_batch_pairs,
    pairs_from_postings,
    read_postings,
)
from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.session import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_winnow_index_serves_identical_pairs(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "wn_index")
    build_winnow_index(spark, sf_dir, idx)
    served = _rows(pairs_from_postings(read_postings(spark, idx).cache()))
    assert served  # the fixture has near-dup pairs by construction
    cold = _rows(REGISTRY["dedup_winnow"].builder(spark, sf_dir))
    assert served == cold
    warm = _rows(REGISTRY["dedup_winnow_indexed"].builder(spark, sf_dir))
    assert warm == cold


def test_incremental_batch_append(spark, sf_dir, tmp_path):
    """Split the corpus, index batch 0, append batch 1 WITHOUT touching
    batch 0's files: (a) the union of postings equals the single-shot
    index, (b) new-batch pairs are exactly the full pair set minus the
    within-batch-0 pairs — daily-batch dedup needs no rebuild. Note df
    pruning is corpus-wide by design: a fingerprint's hub status depends
    on ALL batches served, which is why df is derived at serve time,
    never persisted per batch."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    inc = str(tmp_path / "wn_inc")
    append_winnow_batch(spark, old, inc, batch_id=0)
    before = _rows(
        spark.read.parquet(f"{inc}/postings")
        .filter("batch_id = 0")
        .select("doc_id", "fp")
    )
    append_winnow_batch(spark, new, inc, batch_id=1)

    full = str(tmp_path / "wn_full")
    build_winnow_index(spark, sf_dir, full)
    assert _rows(read_postings(spark, inc)) == _rows(
        read_postings(spark, full)
    )
    # batch-0 postings unchanged by the append
    assert (
        _rows(
            spark.read.parquet(f"{inc}/postings")
            .filter("batch_id = 0")
            .select("doc_id", "fp")
        )
        == before
    )

    got = {(r[0], r[1]) for r in new_batch_pairs(spark, inc, 1).collect()}
    allp = {
        (r[0], r[1])
        for r in pairs_from_postings(
            read_postings(spark, full).cache()
        ).collect()
    }
    old_ids = {r.doc_id for r in old.select("doc_id").collect()}
    want = {
        (da, db) for (da, db) in allp if not (da in old_ids and db in old_ids)
    }
    assert got == want
    assert got  # the fixture's near-dup twins straddle the split


def test_replay_ignores_later_batches(spark, sf_dir, tmp_path):
    """Replaying batch 1's dedup AFTER batch 2 has been appended must
    reproduce batch 1's original result — the corpus side is pruned to
    batch_id <= 1, so later arrivals can't leak in (same contract as
    minhash_index.new_batch_candidates after the round-9 advice fix)."""
    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "wn_replay")
    append_winnow_batch(spark, docs.filter(F.col("doc_id") % 3 == 0), idx, 0)
    append_winnow_batch(spark, docs.filter(F.col("doc_id") % 3 == 1), idx, 1)
    original = _rows(new_batch_pairs(spark, idx, 1))
    append_winnow_batch(spark, docs.filter(F.col("doc_id") % 3 == 2), idx, 2)
    assert _rows(new_batch_pairs(spark, idx, 1)) == original


def test_minhash_replay_ignores_later_batches(spark, sf_dir, tmp_path):
    """The same replay contract on the band index (the advice fix
    itself): candidates for batch 1 are unchanged by batch 2's
    arrival."""
    from doc2dataset_spark.operators.minhash_index import (
        append_minhash_batch,
        new_batch_candidates,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "mh_replay")
    append_minhash_batch(spark, docs.filter(F.col("doc_id") % 3 == 0), idx, 0)
    append_minhash_batch(spark, docs.filter(F.col("doc_id") % 3 == 1), idx, 1)
    original = _rows(new_batch_candidates(spark, idx, 1))
    append_minhash_batch(spark, docs.filter(F.col("doc_id") % 3 == 2), idx, 2)
    assert _rows(new_batch_candidates(spark, idx, 1)) == original


def _doc_stream_source(spark, sf_dir, tmp_path):
    """documents split into two arrival files + a readStream over them."""
    import os
    import time as _time

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
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
    return (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )


def test_streaming_winnow_ingest_matches_batch_build(
    spark, sf_dir, tmp_path
):
    """Documents streamed in two micro-batches must yield postings —
    and therefore served pairs — identical to one batch build over the
    full corpus (fingerprints are pure per-document functions)."""
    from doc2dataset_spark.streaming.index_ingest import (
        run_winnow_index_ingest,
    )

    sidx = str(tmp_path / "wn_stream")
    run_winnow_index_ingest(
        _doc_stream_source(spark, sf_dir, tmp_path),
        sidx,
        str(tmp_path / "wn_ck"),
    )
    full = str(tmp_path / "wn_batch")
    build_winnow_index(spark, sf_dir, full)
    assert _rows(read_postings(spark, sidx)) == _rows(
        read_postings(spark, full)
    )
    assert _rows(
        pairs_from_postings(read_postings(spark, sidx).cache())
    ) == _rows(REGISTRY["dedup_winnow"].builder(spark, sf_dir))


def test_streaming_minhash_ingest_matches_batch_build(
    spark, sf_dir, tmp_path
):
    """Same twin check for the band index: stream-ingested band postings
    serve the exact dedup_minhash_lsh candidate set."""
    from doc2dataset_spark.operators.minhash_index import (
        build_minhash_index,
        candidates_from_index,
        read_bands,
    )
    from doc2dataset_spark.streaming.index_ingest import (
        run_minhash_index_ingest,
    )

    sidx = str(tmp_path / "mh_stream")
    run_minhash_index_ingest(
        _doc_stream_source(spark, sf_dir, tmp_path),
        sidx,
        str(tmp_path / "mh_ck"),
    )
    full = str(tmp_path / "mh_batch")
    build_minhash_index(spark, sf_dir, full)
    assert _rows(read_bands(spark, sidx)) == _rows(read_bands(spark, full))
    assert _rows(candidates_from_index(spark, sidx)) == _rows(
        candidates_from_index(spark, full)
    )


def test_new_batch_read_is_partition_pruned(spark, sf_dir, tmp_path):
    """the incremental pair query must prune postings reads by batch_id
    — the plan, not just the semantics. Asserted on the exact read
    frame new_batch_pairs consumes (_pruned_postings), pre-checkpoint:
    the localCheckpoint that protects long-lived services from pinned
    cache growth also cuts the lineage the final plan would show."""
    from doc2dataset_spark.operators.winnow_index import _pruned_postings

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "wn_pp")
    append_winnow_batch(spark, docs.filter(F.col("doc_id") % 2 == 0), idx, 0)
    append_winnow_batch(spark, docs.filter(F.col("doc_id") % 2 == 1), idx, 1)
    append_winnow_batch(spark, docs.limit(0), idx, 7)
    plan = _pruned_postings(spark, idx, 1)._jdf.queryExecution(
    ).executedPlan().toString()
    assert any(
        "PartitionFilters" in ln and "batch_id" in ln
        for ln in plan.splitlines()
    ), plan
    # and the pruned frame really excludes later batches
    assert (
        _pruned_postings(spark, idx, 1)
        .select("batch_id")
        .distinct()
        .count()
        == 2
    )


def _doc_stream_source_3(spark, sf_dir, tmp_path):
    """documents split into THREE arrival files (one micro-batch each)."""
    import os
    import time as _time

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    src = tmp_path / "doc_src3"
    os.makedirs(src, exist_ok=True)
    for i in range(3):
        f = (src / f"b{i}.parquet").as_posix()
        docs.filter(F.col("doc_id") % 3 == i).toPandas().to_parquet(f)
        os.utime(f, (_time.time() + 2 * i, _time.time() + 2 * i))
    return (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.as_posix())
    )


def test_streaming_ingest_auto_compacts_past_replay_window(
    spark, sf_dir, tmp_path
):
    """compact_past_batches=1 on a 3-micro-batch stream must finalize
    batches 1-2 into one partition, keep the newest batch intact (it
    stays individually replayable), and serve the identical pair set."""
    import os

    from doc2dataset_spark.streaming.index_ingest import (
        run_winnow_index_ingest,
    )
    from doc2dataset_spark.operators.winnow_index import (
        postings_path as _wp,
    )

    sidx = str(tmp_path / "wn_stream_c")
    run_winnow_index_ingest(
        _doc_stream_source_3(spark, sf_dir, tmp_path),
        sidx,
        str(tmp_path / "wn_ck_c"),
        compact_past_batches=1,
    )
    dirs = sorted(
        d for d in os.listdir(_wp(sidx)) if d.startswith("batch_id=")
    )
    assert dirs == ["batch_id=2", "batch_id=3"]
    full = str(tmp_path / "wn_batch_c")
    build_winnow_index(spark, sf_dir, full)
    assert _rows(
        pairs_from_postings(read_postings(spark, sidx).cache())
    ) == _rows(pairs_from_postings(read_postings(spark, full).cache()))


def test_fresh_checkpoint_replay_refused_on_compacted_index(
    spark, sf_dir, tmp_path
):
    """A compacted index finalized its pre-window batches; a replay
    from a NEW checkpoint would re-land those docs under renumbered
    batch ids and the stale-batch sweep would delete the compacted
    history — the ingest must refuse up front, before landing anything."""
    import pytest

    from doc2dataset_spark.operators.winnow_index import (
        postings_path as _wp,
    )
    from doc2dataset_spark.streaming.index_ingest import (
        run_winnow_index_ingest,
    )
    from tests.test_index_maintenance import file_inventory

    sidx = str(tmp_path / "wn_stream_r")
    run_winnow_index_ingest(
        _doc_stream_source_3(spark, sf_dir, tmp_path),
        sidx,
        str(tmp_path / "wn_ck_r"),
        compact_past_batches=1,
    )
    before = file_inventory(_wp(sidx))
    replay = (
        spark.readStream.schema(
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "text")
            .schema
        )
        .parquet((tmp_path / "doc_src3").as_posix())
    )
    with pytest.raises(RuntimeError, match="compaction horizon"):
        run_winnow_index_ingest(
            replay, sidx, str(tmp_path / "wn_ck_r2")
        )
    # refused BEFORE landing anything: the index is byte-untouched
    assert file_inventory(_wp(sidx)) == before
