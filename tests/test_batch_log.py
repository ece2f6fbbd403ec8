"""The batch log's exact landing (operators/time_travel.land_batch).

An empty recompute of a landed batch must clear it: a replay of batch 1
that now carries no rows leaves no ``batch_id=1`` partition, no rows of
the dead incarnation and no landing time for batch 1, in every index
family and in the cluster-label log. Plain dynamic overwrite writes
nothing for zero rows, so before exact landing each of these logs kept
the dead incarnation's batch (and the text index served its doclen rows
in BM25's n / avgdl).
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
from doc2dataset_spark.operators.index_maintenance import postings_path
from doc2dataset_spark.operators.time_travel import batch_times, land_batch

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
