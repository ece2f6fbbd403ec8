"""Warm-path identity: the persisted MinHash band index and the
persisted fixed-point model must serve BIT-IDENTICAL results to their
in-query twins — the property that lets curate_corpus_scored_indexed
and dedup_minhash_indexed share their cold twins' oracles."""

from __future__ import annotations

from doc2dataset_spark.operators.minhash_index import (
    build_minhash_index,
    candidates_from_index,
)
from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.queries.quality_classifier import (
    fx_score_from,
    fx_train_score,
    save_fx_model,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_band_index_serves_identical_pairs(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "mh_index")
    build_minhash_index(spark, sf_dir, idx)
    served = _rows(candidates_from_index(spark, idx))
    assert served  # the fixture has near-dup pairs by construction
    cold = _rows(REGISTRY["dedup_minhash_lsh"].builder(spark, sf_dir))
    warm = _rows(REGISTRY["dedup_minhash_indexed"].builder(spark, sf_dir))
    assert warm == cold


def test_incremental_batch_append(spark, sf_dir, tmp_path):
    """The batch_id seam end-to-end: split the corpus, index batch 0,
    append batch 1 WITHOUT touching batch 0's files, and check (a) the
    union of postings equals the single-shot index, (b) new-vs-corpus
    candidates are exactly the full candidate set minus the
    within-batch-0 pairs — i.e. daily-batch dedup needs no rebuild."""
    from pyspark.sql import functions as F

    from doc2dataset_spark.operators.minhash_index import (
        append_minhash_batch,
        new_batch_candidates,
        read_bands,
    )
    from doc2dataset_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    inc = str(tmp_path / "mh_inc")
    append_minhash_batch(spark, old, inc, batch_id=0)
    before = _rows(read_bands(spark, inc))
    append_minhash_batch(spark, new, inc, batch_id=1)

    full = str(tmp_path / "mh_full")
    build_minhash_index(spark, sf_dir, full)
    assert _rows(read_bands(spark, inc)) == _rows(read_bands(spark, full))
    # batch-0 postings unchanged by the append
    assert (
        _rows(
            spark.read.parquet(f"{inc}/bands")
            .filter("batch_id = 0")
            .select("doc_id", "band", "bh")
        )
        == before
    )

    got = set(_rows(new_batch_candidates(spark, inc, batch_id=1)))
    allc = set(_rows(candidates_from_index(spark, full)))
    old_ids = {r.doc_id for r in old.select("doc_id").collect()}
    want = {
        (da, db)
        for (da, db) in allc
        if not (da in old_ids and db in old_ids)
    }
    assert got == want
    assert got  # the fixture's near-dup twins straddle the split


def test_new_batch_read_is_partition_pruned(spark, sf_dir, tmp_path):
    """the incremental join's new-batch side must read ONLY its own
    batch_id partition — the plan, not the semantics: an unpruned scan
    would re-read the whole index per ingest batch."""
    from pyspark.sql import functions as F

    from doc2dataset_spark.operators.minhash_index import (
        append_minhash_batch,
        new_batch_candidates,
    )
    from doc2dataset_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "mh_pp")
    append_minhash_batch(
        spark, docs.filter(F.col("doc_id") % 2 == 0), idx, batch_id=0
    )
    append_minhash_batch(
        spark, docs.filter(F.col("doc_id") % 2 == 1), idx, batch_id=1
    )
    plan = new_batch_candidates(spark, idx, batch_id=1)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "batch_id" in plan
    # at least one scan carries the batch_id partition filter
    assert any(
        "PartitionFilters" in ln and "batch_id" in ln
        for ln in plan.splitlines()
    ), plan


def test_append_uses_the_index_own_banding(spark, sf_dir, tmp_path):
    """Appending to an auto-built index must band the new batch with
    the INDEX'S persisted (bands, rows), not the default: band hashes
    from different bandings never collide, so a mismatched append would
    silently produce ZERO cross-batch candidates (total recall loss on
    the incremental path). Regression for the round-10 review finding:
    auto-build at n=500 picks (3,3) != the default (4,4); re-ingest the
    same documents under shifted ids — every new doc has an exact twin
    in batch 0, so cross-batch candidates must cover all of them."""
    from pyspark.sql import functions as F

    from doc2dataset_spark.operators.minhash_index import (
        append_minhash_batch,
        index_banding,
        new_batch_candidates,
    )
    from doc2dataset_spark.session import load_table

    idx = str(tmp_path / "mh_auto")
    build_minhash_index(spark, sf_dir, idx, params="auto")
    b, r = index_banding(spark, idx)
    assert (b, r) == (3, 3)  # the S-curve rule at the 500-doc fixture

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    append_minhash_batch(spark, docs, idx, batch_id=1)
    cand = new_batch_candidates(spark, idx, batch_id=1)
    # every shifted doc collides with its identical original in batch 0
    n_docs = docs.count()
    cross = cand.filter(
        (F.col("da") < 1_000_000) & (F.col("db") >= 1_000_000)
    ).count()
    assert cross >= n_docs, (cross, n_docs)


def test_fx_model_roundtrip_scores_identical(spark, sf_dir, tmp_path):
    mdir = str(tmp_path / "fx_model")
    save_fx_model(spark, sf_dir, mdir)
    warm = _rows(fx_score_from(spark, sf_dir, mdir))
    cold = _rows(fx_train_score(spark, sf_dir))
    assert warm == cold
    assert warm  # non-empty corpus


def test_scored_curation_warm_equals_cold(spark, sf_dir):
    cold = _rows(REGISTRY["curate_corpus_scored"].builder(spark, sf_dir))
    warm = _rows(
        REGISTRY["curate_corpus_scored_indexed"].builder(spark, sf_dir)
    )
    assert warm == cold


def test_stream_built_index_stamps_banding_meta(spark, sf_dir, tmp_path):
    """A purely stream-built index (first write is an append, never a
    build) must persist its banding record: without it, index_banding
    silently falls back to the code default, and a future default bump
    would band later appends differently — zero cross-batch candidates.
    Regression for the round-10 review finding (append_minhash_batch
    never stamped meta on a fresh directory, unlike append_winnow_batch)."""
    from pyspark.sql import functions as F

    from doc2dataset_spark.operators.minhash_index import (
        _has_meta,
        append_minhash_batch,
        index_banding,
    )
    from doc2dataset_spark.session import load_table

    idx = str(tmp_path / "mh_stream")
    docs = load_table(spark, sf_dir, "documents").limit(50)
    append_minhash_batch(spark, docs, idx, batch_id=0)
    assert _has_meta(idx)
    assert index_banding(spark, idx) == (4, 4)
    # a second append on the now-stamped index must not rewrite meta
    append_minhash_batch(
        spark,
        docs.select((F.col("doc_id") + 10_000).alias("doc_id"), "text"),
        idx,
        batch_id=1,
    )
    assert index_banding(spark, idx) == (4, 4)
