"""Right-to-be-forgotten deletion across the four persisted indexes.

The contract under test: deleting keys from a built index must serve
EXACTLY what an index that never contained those keys serves — and it
must do so touching only the partitions that contain the keys, removing
the ones it leaves empty (dynamic overwrite alone would silently keep
an all-rows-deleted partition's old files)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from doc2dataset_spark.operators.index_maintenance import (
    delete_docs_minhash,
    delete_docs_text,
    delete_docs_winnow,
    delete_from_postings,
    delete_vecs_ivf,
)
from doc2dataset_spark.session import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


FORGET = [7, 21, 70, 133, 245]  # arbitrary fixture doc_ids, > max cent_id


def test_delete_minhash_equals_never_indexed(spark, sf_dir, tmp_path):
    from doc2dataset_spark.operators.minhash_index import (
        append_minhash_batch,
        build_minhash_index,
        read_bands,
    )

    full = str(tmp_path / "mh_full")
    build_minhash_index(spark, sf_dir, full)
    stats = delete_docs_minhash(spark, full, FORGET)
    assert stats["rows_deleted"] > 0

    docs = load_table(spark, sf_dir, "documents")
    filtered = docs.filter(~F.col("doc_id").isin(FORGET))
    never = str(tmp_path / "mh_never")
    append_minhash_batch(spark, filtered, never, batch_id=0)
    assert _rows(read_bands(spark, full)) == _rows(read_bands(spark, never))

    # idempotent: a rerun deletes nothing and changes nothing
    again = delete_docs_minhash(spark, full, FORGET)
    assert again["rows_deleted"] == 0


def test_delete_winnow_pairs_equal_never_indexed(spark, sf_dir, tmp_path):
    from doc2dataset_spark.operators.winnow_index import (
        append_winnow_batch,
        build_winnow_index,
        pairs_from_postings,
        read_postings,
    )

    full = str(tmp_path / "wn_full")
    build_winnow_index(spark, sf_dir, full)
    stats = delete_docs_winnow(spark, full, FORGET)
    assert stats["rows_deleted"] > 0

    docs = load_table(spark, sf_dir, "documents")
    never = str(tmp_path / "wn_never")
    append_winnow_batch(
        spark, docs.filter(~F.col("doc_id").isin(FORGET)), never, batch_id=0
    )
    # serve-path equality: the deleted index's pair output (df prune,
    # Jaccard, threshold — all derived from postings) is identical
    got = _rows(pairs_from_postings(read_postings(spark, full)))
    want = _rows(pairs_from_postings(read_postings(spark, never)))
    assert got == want


def test_delete_text_rescores_identically(spark, sf_dir, tmp_path):
    """BM25 after deletion == BM25 of an index never containing the
    docs: df is serve-derived, but n/avgdl are persisted — this is the
    test that fails if the stats refresh is skipped."""
    from doc2dataset_spark.operators.text_index import (
        append_to_text_index,
        build_text_index,
        probe_text_index,
    )
    from doc2dataset_spark.queries.search_extras import BM25_TOPK, QUERY_TERMS

    full = str(tmp_path / "tx_full")
    build_text_index(spark, sf_dir, full)
    stats = delete_docs_text(spark, full, FORGET)
    assert stats["rows_deleted"] > 0 and stats["doclen_rows_deleted"] == len(
        FORGET
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    never = str(tmp_path / "tx_never")
    append_to_text_index(
        spark, docs.filter(~F.col("doc_id").isin(FORGET)), never, batch_id=0
    )
    terms = list(QUERY_TERMS)
    got = _rows(probe_text_index(spark, full, terms, topk=BM25_TOPK))
    want = _rows(probe_text_index(spark, never, terms, topk=BM25_TOPK))
    assert got == want
    kept_ids = {r[0] for r in got}
    assert not kept_ids & set(FORGET)


def test_delete_ivf_postings_and_probe(spark, sf_dir, tmp_path):
    from doc2dataset_spark.operators.vector_index import (
        postings_path,
        build_ivf_index,
        probe_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, sf_dir, idx)
    before = spark.read.parquet(postings_path(idx)).select(
        "vec_id", "cent_id"
    )
    before_rows = set(_rows(before))
    forget = [33, 47, 101]  # all >= n_centroids: codebook unaffected
    stats = delete_vecs_ivf(spark, idx, forget)
    assert stats["rows_deleted"] == len(forget)

    after = set(
        _rows(
            spark.read.parquet(postings_path(idx)).select(
                "vec_id", "cent_id"
            )
        )
    )
    assert after == {r for r in before_rows if r[0] not in forget}
    from doc2dataset_spark.queries.dedup import normalized_embeddings

    q = (
        normalized_embeddings(spark, sf_dir)
        .filter(F.col("vec_id") == 0)
        .select(F.col("vec_id").alias("qid"), F.col("ne").alias("qne"))
    )
    got = probe_ivf_index(spark, idx, q, topk=10)
    ids = {r["cid"] for r in got.collect()}
    assert ids and not ids & set(forget)


def test_delete_removes_emptied_partitions(spark, sf_dir, tmp_path):
    """Delete EVERY document of one ingest batch: its partitions become
    empty and must be physically removed (dynamic overwrite would skip
    them), leaving exactly the other batch's postings."""
    from doc2dataset_spark.operators.minhash_index import (
        _bands_path,
        append_minhash_batch,
        read_bands,
    )

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "mh_batches")
    append_minhash_batch(spark, old, idx, batch_id=0)
    append_minhash_batch(spark, new, idx, batch_id=1)
    keep_rows = _rows(read_bands(spark, idx).join(
        old.select("doc_id"), "doc_id", "left_semi"
    ))

    new_ids = [r["doc_id"] for r in new.select("doc_id").collect()]
    stats = delete_docs_minhash(spark, idx, new_ids)
    assert stats["partitions_removed"] > 0
    assert not os.path.exists(
        os.path.join(_bands_path(idx), "batch_id=1")
    ) or not any(
        True for _ in os.scandir(os.path.join(_bands_path(idx), "batch_id=1"))
    )
    assert _rows(read_bands(spark, idx)) == keep_rows


def test_delete_unknown_keys_is_a_noop(spark, sf_dir, tmp_path):
    from doc2dataset_spark.operators.winnow_index import (
        postings_path,
        build_winnow_index,
    )

    idx = str(tmp_path / "wn_noop")
    build_winnow_index(spark, sf_dir, idx)
    stats = delete_from_postings(
        spark, postings_path(idx), [10_000_000, 10_000_001]
    )
    assert stats == {
        "rows_deleted": 0,
        "partitions_rewritten": 0,
        "partitions_removed": 0,
    }


# ---------------------------------------------------------------------------
# CDC-driven index synchronization
# ---------------------------------------------------------------------------
def _changed_corpus(spark, sf_dir):
    """(changelog, post-corpus): update 3 docs' text, delete 2, add 2."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    upd = [7, 21, 70]
    dele = [133, 245]
    new = [(900001, "brand new survey of spark internals"),
           (900002, "another brand new document about indexes")]
    changelog = spark.createDataFrame(
        [(d, f"rewritten text for document {d} entirely", "upsert")
         for d in upd]
        + [(d, None, "delete") for d in dele]
        + [(d, t, "upsert") for d, t in new],
        "doc_id bigint, text string, op string",
    )
    post = (
        docs.filter(~F.col("doc_id").isin(upd + dele))
        .union(changelog.filter(F.col("op") == "upsert")
               .select("doc_id", "text"))
    )
    return changelog, post


def test_cdc_sync_text_index_equals_rebuilt(spark, sf_dir, tmp_path):
    """Applying a mixed changelog (updates + deletes + inserts) to a
    built text index must score exactly like an index built on the
    post-changelog corpus — updates invalidate old postings, stats
    follow the surviving doclen."""
    from doc2dataset_spark.operators.index_maintenance import (
        sync_text_index_cdc,
    )
    from doc2dataset_spark.operators.text_index import (
        append_to_text_index,
        build_text_index,
        probe_text_index,
    )
    from doc2dataset_spark.queries.search_extras import BM25_TOPK, QUERY_TERMS

    changelog, post = _changed_corpus(spark, sf_dir)
    idx = str(tmp_path / "tx")
    build_text_index(spark, sf_dir, idx)
    stats = sync_text_index_cdc(spark, idx, changelog, batch_id=1)
    assert stats["n_upserts"] == 5 and stats["n_deletes"] == 2
    assert stats["n_deleted_rows"] > 0  # old postings really invalidated

    never = str(tmp_path / "tx_never")
    append_to_text_index(spark, post, never, batch_id=0)
    terms = list(QUERY_TERMS) + ["rewritten"]
    got = _rows(probe_text_index(spark, idx, terms, topk=BM25_TOPK))
    want = _rows(probe_text_index(spark, never, terms, topk=BM25_TOPK))
    assert got == want


def test_cdc_sync_minhash_index_equals_rebuilt(spark, sf_dir, tmp_path):
    from doc2dataset_spark.operators.index_maintenance import (
        sync_minhash_index_cdc,
    )
    from doc2dataset_spark.operators.minhash_index import (
        append_minhash_batch,
        read_bands,
    )

    changelog, post = _changed_corpus(spark, sf_dir)
    idx = str(tmp_path / "mh")
    append_minhash_batch(
        spark,
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        idx,
        batch_id=0,
    )
    sync_minhash_index_cdc(spark, idx, changelog, batch_id=1)

    never = str(tmp_path / "mh_never")
    append_minhash_batch(spark, post, never, batch_id=0)
    got = _rows(read_bands(spark, idx))
    want = _rows(read_bands(spark, never))
    assert got == want

    # crash-rerun convergence: applying the same changelog again (the
    # documented recovery for a crash between delete and append) leaves
    # the same served state
    sync_minhash_index_cdc(spark, idx, changelog, batch_id=1)
    assert _rows(read_bands(spark, idx)) == want


def test_cdc_same_batch_delete_wins_over_upsert(spark, sf_dir, tmp_path):
    """A doc both upserted and deleted in ONE changelog stays deleted
    (the merge_cdc_apply precedence) — the upsert must not resurrect
    it."""
    from doc2dataset_spark.operators.index_maintenance import (
        sync_minhash_index_cdc,
    )
    from doc2dataset_spark.operators.minhash_index import (
        append_minhash_batch,
        read_bands,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "mh")
    append_minhash_batch(spark, docs, idx, batch_id=0)
    changelog = spark.createDataFrame(
        [(7, "resurrected text that must not land", "upsert"),
         (7, None, "delete"),
         (21, "a legitimate update", "upsert")],
        "doc_id bigint, text string, op string",
    )
    stats = sync_minhash_index_cdc(spark, idx, changelog, batch_id=1)
    assert stats["n_upserts"] == 1  # doc 7's upsert lost to its delete
    ids = {r["doc_id"] for r in read_bands(spark, idx).select("doc_id")
           .distinct().collect()}
    assert 7 not in ids and 21 in ids


def test_delete_accepts_dataframe_keys(spark, sf_dir, tmp_path):
    """The CDC-sync shape: a DataFrame key set must behave exactly like
    the equivalent driver-side list (no collect on the changelog path)."""
    from doc2dataset_spark.operators.winnow_index import (
        build_winnow_index,
        read_postings,
    )
    from doc2dataset_spark.operators.winnow_index import (
        postings_path as _wp,
    )

    a, b = str(tmp_path / "wn_list"), str(tmp_path / "wn_df")
    build_winnow_index(spark, sf_dir, a)
    build_winnow_index(spark, sf_dir, b)
    by_list = delete_from_postings(spark, _wp(a), FORGET)
    ids = spark.createDataFrame([(k,) for k in FORGET], "doc_id bigint")
    by_df = delete_from_postings(spark, _wp(b), ids)
    assert by_df == by_list and by_df["rows_deleted"] > 0
    assert _rows(read_postings(spark, a)) == _rows(read_postings(spark, b))
