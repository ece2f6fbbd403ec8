"""Winnowing fingerprints: the detection guarantee and the density
claim, on constructed documents (the oracle hash pins corpus values)."""

from __future__ import annotations

from pyspark.sql import functions as F

from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.queries.dedup_detectors import (
    WINNOW_W,
    winnow_fingerprints,
)


def _fps(spark, rows):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {}
    for r in winnow_fingerprints(df).collect():
        out.setdefault(r.doc_id, set()).add(r.fp)
    return out


def test_winnowing_guarantee_shared_run(spark):
    """any shared token run spanning >= W+2 consecutive shingle
    positions (W+4 tokens) must share at least one fingerprint — the
    SIGMOD 2003 theorem, checked with a shared middle run embedded in
    otherwise-disjoint documents."""
    shared_run = " ".join(f"common{i}" for i in range(WINNOW_W + 4))
    a = "alpha beta gamma " + shared_run + " delta epsilon"
    b = "one two three four " + shared_run + " five six"
    fps = _fps(spark, [(1, a), (2, b)])
    assert fps[1] & fps[2], "guaranteed fingerprint collision missing"


def test_disjoint_docs_share_nothing(spark):
    fps = _fps(
        spark,
        [(1, " ".join(f"a{i}" for i in range(30))),
         (2, " ".join(f"b{i}" for i in range(30)))],
    )
    assert not (fps[1] & fps[2])


def test_short_doc_one_fingerprint(spark):
    # 3 tokens -> 1 shingle -> fewer hashes than the window: min-of-all
    fps = _fps(spark, [(1, "x y z")])
    assert len(fps[1]) == 1


def test_density_near_theoretical(spark, sf_dir):
    row = REGISTRY["dedup_winnow_stats"].builder(spark, sf_dir).collect()[0]
    expect = 2.0 / (WINNOW_W + 1)
    assert 0.5 * expect <= row.density <= 1.5 * expect
    assert row.n_fps < row.n_shingles


def test_winnow_recall_row_laws(spark, sf_dir):
    row = REGISTRY["dedup_winnow_recall"].builder(spark, sf_dir).collect()[0]
    assert row.n_both <= min(row.n_winnow, row.n_exact)
    assert 0.0 <= row.precision <= 1.0 and 0.0 <= row.recall <= 1.0
    # the fixture's twins are long near-exact copies: the winnowing
    # guarantee must keep recall high there (df-pruning only removes
    # hub-fingerprint evidence, which twins never depend on alone)
    assert row.recall >= 0.9


def test_winnow_pairs_subset_of_jaccard_family(spark, sf_dir):
    """sanity: winnow pairs at the fixture overlap the exact-Jaccard
    near-dup pairs (same twins), and every reported pair is ordered."""
    wp = {(r.da, r.db) for r in REGISTRY["dedup_winnow"].builder(spark, sf_dir).collect()}
    jp = {
        (r.da, r.db)
        for r in REGISTRY["dedup_ngram_jaccard"].builder(spark, sf_dir).collect()
    }
    assert wp and jp
    assert all(da < db for da, db in wp)
    assert wp & jp  # the twin clusters show up in both detectors
