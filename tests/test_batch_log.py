"""The batch log's exact landing (operators/time_travel.land_batch) and
the index lifecycle built on it.

1. An empty recompute of a landed batch must clear it: a replay of
   batch 1 that now carries no rows leaves no ``batch_id=1`` partition,
   no rows of the dead incarnation and no landing time for batch 1, in
   every index family and in the cluster-label log. Plain dynamic
   overwrite writes nothing for zero rows, so before exact landing each
   of these logs kept the dead incarnation's batch (and the text index
   served its doclen rows in BM25's n / avgdl).
2. A rebuild starts fresh history: after appends and a compaction, a
   build leaves batch 0 only, one landing time, no compaction horizon,
   and an as-of-0 read serves the whole index.
3. Compaction and deletion keep a family's layout without being told
   it: the band, tb and cent_id sub-partitions survive both, and the
   served candidates and probes are unchanged — also after every
   document of the oldest batch is forgotten.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from doc2dataset_spark.operators import (
    cluster_state,
    minhash_index,
    text_index,
    vector_index,
    winnow_index,
)
from doc2dataset_spark.operators import index_maintenance as im
from doc2dataset_spark.operators.index_maintenance import postings_path
from doc2dataset_spark.operators.time_travel import (
    batch_times,
    drop_log,
    land_batch,
    list_batches,
    partition_columns,
    read_postings_asof,
)
from doc2dataset_spark.queries.dedup import normalized_embeddings
from doc2dataset_spark.queries.search_extras import BM25_TOPK, QUERY_TERMS
from doc2dataset_spark.session import load_table

_TEXTS = {
    1: "the quick brown fox jumps over the lazy dog near the river bank",
    2: "a stitch in time saves nine and a penny saved is a penny earned",
    3: "all that glitters is not gold and all who wander are not lost",
    4: "the early bird catches the worm but the second mouse gets cheese",
}
_DOCS = "doc_id bigint, text string"


def _docs(spark, ids):
    return spark.createDataFrame([(i, _TEXTS[i]) for i in ids], _DOCS)


def _text(spark, d):
    def land(ids, batch_id):
        text_index.append_to_text_index(spark, _docs(spark, ids), d, batch_id)

    return land, postings_path(d)


def _minhash(spark, d):
    def land(ids, batch_id):
        minhash_index.append_minhash_batch(
            spark, _docs(spark, ids), d, batch_id
        )

    return land, minhash_index._bands_path(d)


def _winnow(spark, d):
    def land(ids, batch_id):
        winnow_index.append_winnow_batch(spark, _docs(spark, ids), d, batch_id)

    return land, postings_path(d)


def _vector(spark, d):
    spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cent_id int, ce array<double>"
    ).write.parquet(vector_index._centroids_path(d))
    unit = {1: [1.0, 0.0], 2: [0.0, 1.0], 3: [0.6, 0.8], 4: [0.8, 0.6]}

    def land(ids, batch_id):
        vecs = spark.createDataFrame(
            [(i, unit[i]) for i in ids], "vec_id bigint, ne array<double>"
        )
        vector_index.append_to_ivf_index(spark, vecs, d, batch_id)

    return land, postings_path(d)


def _clusters(spark, d):
    def land(ids, batch_id):
        pairs = [(ids[0], ids[1])] if ids else []
        cluster_state.apply_batch(
            spark,
            d,
            spark.createDataFrame(pairs, "da bigint, db bigint"),
            spark.createDataFrame([(i,) for i in ids], "doc_id bigint"),
            batch_id,
        )

    return land, cluster_state._labels_path(d)


FAMILIES = {
    "text": _text,
    "vector": _vector,
    "minhash": _minhash,
    "winnow": _winnow,
    "cluster_state": _clusters,
}


@pytest.mark.parametrize("family", list(FAMILIES))
def test_empty_recompute_clears_the_batch(spark, tmp_path, family):
    """Land batches 0 and 1, replay batch 1 with zero rows: the log
    holds batch 0's rows only, no ``batch_id=1`` directory survives and
    batch 1 has no landing time."""
    land, root = FAMILIES[family](spark, (tmp_path / "log").as_posix())
    land([1, 2], 0)
    land([3, 4], 1)
    assert set(batch_times(root)) == {0, 1}
    land([], 1)

    key = "vec_id" if family == "vector" else "doc_id"
    served = spark.read.parquet(root).select(key).distinct().collect()
    assert sorted(r[0] for r in served) == [1, 2]
    assert not os.path.exists(os.path.join(root, "batch_id=1"))
    assert set(batch_times(root)) == {0}
    if family == "text":
        d = (tmp_path / "log").as_posix()
        doclen = spark.read.parquet(text_index._doclen_path(d))
        assert sorted(r.doc_id for r in doclen.collect()) == [1, 2]
        stats = spark.read.parquet(text_index._stats_path(d)).first()
        assert stats["n"] == 2
        assert stats["avgdl"] == doclen.agg(F.avg("dl")).first()[0]


def test_empty_first_landing_leaves_no_root(spark, tmp_path):
    """Zero rows into a root that does not exist yet: no bare root (a
    reader checking for the log's existence would take it for a log)."""
    for root in (tmp_path / "a").as_posix(), f"file://{tmp_path}/b":
        empty = spark.createDataFrame([], "doc_id bigint, band int")
        assert land_batch(empty, root, 3, ("band",), record_time=True) == 0
        assert os.listdir(tmp_path.as_posix()) == []


# ---------------------------------------------------------------------------
# the index lifecycle: build, append, compact, delete, rebuild
# ---------------------------------------------------------------------------
SHIFT = 10**9  # appended copies of corpus rows live at id + SHIFT


def _copies(spark, sf_dir, lo, hi):
    """Corpus documents lo <= doc_id < hi under fresh ids: each copy
    collides with its original in every index family."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id").between(lo, hi - 1)).select(
        (F.col("doc_id") + SHIFT).alias("doc_id"), "text"
    )


def _vec_copies(spark, sf_dir, lo, hi):
    n = normalized_embeddings(spark, sf_dir)
    return n.filter(F.col("vec_id").between(lo, hi - 1)).select(
        (F.col("vec_id") + SHIFT).alias("vec_id"), "ne"
    )


def _probe_queries(spark, sf_dir):
    return (
        normalized_embeddings(spark, sf_dir)
        .filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("qid"), F.col("ne").alias("qne"))
    )


# family -> (build, append(spark, sf_dir, d, lo, hi, batch_id),
#            served(spark, sf_dir, d), logs(d), delete(spark, d, ids));
#            the first log carries the landing times and the
#            sub-partitions; winnow has no sub-partition to keep
LIFECYCLE = {
    "text": (
        text_index.build_text_index,
        lambda spark, sf, d, lo, hi, b: text_index.append_to_text_index(
            spark, _copies(spark, sf, lo, hi), d, b
        ),
        lambda spark, sf, d: text_index.probe_text_index(
            spark, d, list(QUERY_TERMS), topk=BM25_TOPK
        ),
        lambda d: [postings_path(d), text_index._doclen_path(d)],
        im.delete_docs_text,
    ),
    "vector": (
        vector_index.build_ivf_index,
        lambda spark, sf, d, lo, hi, b: vector_index.append_to_ivf_index(
            spark, _vec_copies(spark, sf, lo, hi), d, b
        ),
        lambda spark, sf, d: vector_index.probe_ivf_index(
            spark, d, _probe_queries(spark, sf), nprobe=2
        ),
        lambda d: [postings_path(d)],
        im.delete_vecs_ivf,
    ),
    "minhash": (
        minhash_index.build_minhash_index,
        lambda spark, sf, d, lo, hi, b: minhash_index.append_minhash_batch(
            spark, _copies(spark, sf, lo, hi), d, b
        ),
        lambda spark, sf, d: minhash_index.candidates_from_index(spark, d),
        lambda d: [minhash_index._bands_path(d)],
        im.delete_docs_minhash,
    ),
    "winnow": (
        winnow_index.build_winnow_index,
        lambda spark, sf, d, lo, hi, b: winnow_index.append_winnow_batch(
            spark, _copies(spark, sf, lo, hi), d, b
        ),
        None,
        lambda d: [postings_path(d)],
        None,
    ),
}


def _served(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("family", list(LIFECYCLE))
def test_rebuild_starts_fresh_history(spark, sf_dir, tmp_path, family):
    """Build, append batches 1 and 2, compact up to batch 1, build
    again: only batch 0 is left in every log, it is the only landing
    time, no compaction horizon survives, and an as-of-0 read serves
    every row."""
    build, append, _, logs, _ = LIFECYCLE[family]
    d = (tmp_path / "idx").as_posix()
    build(spark, sf_dir, d)
    append(spark, sf_dir, d, 0, 10, 1)
    append(spark, sf_dir, d, 10, 20, 2)
    for root in logs(d):
        im.compact_index_history(spark, root, upto_batch=1)
    build(spark, sf_dir, d)

    for root in logs(d):
        assert list_batches(root) == [0], root
        assert not os.path.exists(im.horizon_marker(root)), root
        assert (
            read_postings_asof(spark, root, 0).count()
            == spark.read.parquet(root).count()
        ), root
    assert set(batch_times(logs(d)[0])) == {0}
    if family == "text":
        stats = spark.read.parquet(text_index._stats_path(d)).first()
        assert stats["n"] == load_table(spark, sf_dir, "documents").count()


@pytest.mark.parametrize(
    "family, col", [("minhash", "band"), ("text", "tb"), ("vector", "cent_id")]
)
def test_compaction_and_deletion_keep_the_layout(
    spark, sf_dir, tmp_path, family, col
):
    """Neither verb is told the sub-partition column: compacting the
    appended history serves the same result, and deleting the appended
    copies serves the freshly built index's result again."""
    build, append, served, logs, delete = LIFECYCLE[family]
    d = (tmp_path / "idx").as_posix()
    log = logs(d)[0]
    build(spark, sf_dir, d)
    base = _served(served(spark, sf_dir, d))
    append(spark, sf_dir, d, 0, 10, 1)
    append(spark, sf_dir, d, 10, 20, 2)
    appended = _served(served(spark, sf_dir, d))
    assert appended != base  # the copies collide with their originals

    im.compact_index_history(spark, log, upto_batch=1)
    assert list_batches(log) == [1, 2]
    assert partition_columns(log) == (col,)
    assert _served(served(spark, sf_dir, d)) == appended

    delete(spark, d, [i + SHIFT for i in range(20)])
    assert partition_columns(log) == (col,)
    assert _served(served(spark, sf_dir, d)) == base


@pytest.mark.parametrize(
    "family, col, key",
    [("minhash", "band", "doc_id"), ("text", "tb", "doc_id"),
     ("vector", "cent_id", "vec_id")],
)
def test_forgetting_the_oldest_batch_keeps_the_layout(
    spark, sf_dir, tmp_path, family, col, key
):
    """Forget every document of batch 0: its emptied directory goes
    with its sub-partitions, so the layout is still read from the log,
    and a compaction and a second deletion keep it — the log then holds
    exactly the surviving rows and still serves."""
    build, append, served, logs, delete = LIFECYCLE[family]
    d = (tmp_path / "idx").as_posix()
    log = logs(d)[0]
    build(spark, sf_dir, d)
    append(spark, sf_dir, d, 0, 10, 1)
    append(spark, sf_dir, d, 10, 20, 2)
    posts = spark.read.parquet(log)
    delete(spark, d, [
        r[0] for r in posts.filter("batch_id = 0").select(key).distinct()
        .collect()
    ])
    assert list_batches(log) == [1, 2]
    assert partition_columns(log) == (col,)
    forgotten = _served(served(spark, sf_dir, d))

    im.compact_index_history(spark, log, upto_batch=2)
    assert partition_columns(log) == (col,)
    assert _served(served(spark, sf_dir, d)) == forgotten

    gone = [i + SHIFT for i in range(10)]
    survivors = _served(
        spark.read.parquet(log).drop("batch_id")
        .filter(~F.col(key).isin(gone))
    )
    delete(spark, d, gone)
    assert partition_columns(log) == (col,)
    assert _served(spark.read.parquet(log).drop("batch_id")) == survivors
    served(spark, sf_dir, d).collect()


def test_partition_columns_skips_an_emptied_batch(tmp_path):
    """An empty ``batch_id=<n>`` directory (a deletion that crashed
    before removing it) says nothing about the layout: the columns come
    from the next batch that holds rows; a flat log reads as ()."""
    root = (tmp_path / "log").as_posix()
    os.makedirs(f"{root}/batch_id=0")
    os.makedirs(f"{root}/batch_id=1/band=3")
    open(f"{root}/batch_id=1/band=3/part-0.parquet", "w").close()
    assert partition_columns(root) == ("band",)
    flat = (tmp_path / "flat").as_posix()
    os.makedirs(f"{flat}/batch_id=0")
    open(f"{flat}/batch_id=0/part-0.parquet", "w").close()
    assert partition_columns(flat) == ()


def test_drop_log_refuses_over_compaction_debris(tmp_path):
    """A crashed compaction swap leaves ``__old_compact``: dropping the
    log then must refuse (as compacting it does) and remove nothing."""
    root = (tmp_path / "log").as_posix()
    os.makedirs(f"{root}/batch_id=0")
    os.makedirs(f"{root}__old_compact")
    with pytest.raises(RuntimeError, match="recover_compaction"):
        drop_log(root)
    assert os.path.isdir(f"{root}/batch_id=0")
