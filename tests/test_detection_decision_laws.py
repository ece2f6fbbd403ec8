"""Laws of the detection→decision operators: keep-best cluster
selection, CCNet perplexity buckets and MRL truncated-embedding recall
(the last reaches functions/vecmath.topk_edges_blocked_dual). Their
value-exactness is pinned by the DuckDB oracles; these tests pin the
SEMANTIC laws an oracle diff would not explain."""

from __future__ import annotations

from pyspark.sql import functions as F

from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.queries.ann_extras import MRL_DIMS, mrl_recall_frame
from doc2dataset_spark.queries.text_models import CCNET_BUCKETS


# ---------------------------------------------------------------------------
# dedup_cluster_keep_best
# ---------------------------------------------------------------------------
def test_keep_best_is_a_partition_of_the_corpus(spark, sf_dir):
    """Every document appears exactly once, every cluster keeps exactly
    one member, and the kept member maximizes (n_distinct, -doc_id)."""
    out = REGISTRY["dedup_cluster_keep_best"].builder(spark, sf_dir)
    out = out.localCheckpoint()
    n_docs = out.count()
    from doc2dataset_spark.session import load_table

    assert n_docs == load_table(spark, sf_dir, "documents").count()
    assert out.select("doc_id").distinct().count() == n_docs

    per_cluster = out.groupBy("cluster_id").agg(
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.max(F.struct("n_distinct", (-F.col("doc_id")).alias("nd"))).alias(
            "best"
        ),
    )
    assert per_cluster.filter(F.col("n_kept") != 1).count() == 0

    # the kept row IS the argmax row of its cluster
    kept = out.filter("kept").select(
        "cluster_id",
        F.struct("n_distinct", (-F.col("doc_id")).alias("nd")).alias("got"),
    )
    mismatches = kept.join(per_cluster, "cluster_id").filter(
        F.col("got") != F.col("best")
    )
    assert mismatches.count() == 0


def test_keep_best_singletons_keep_themselves(spark, sf_dir):
    """A document with no near-dup pair is its own cluster and is kept —
    dedup must never drop unique content."""
    out = REGISTRY["dedup_cluster_keep_best"].builder(spark, sf_dir)
    singles = (
        out.groupBy("cluster_id")
        .agg(F.count("*").alias("n"), F.sum(F.col("kept").cast("int")).alias("k"))
        .filter(F.col("n") == 1)
    )
    assert singles.count() > 0  # fixture has unique docs
    assert singles.filter(F.col("k") != 1).count() == 0


# ---------------------------------------------------------------------------
# curate_ccnet_buckets
# ---------------------------------------------------------------------------
def test_ccnet_buckets_are_balanced_and_ordered(spark, sf_dir):
    """Per source: tercile sizes differ by at most 1 (the ntile law) and
    the buckets are ordered by NLL — max(head) <= min(middle) <= ... up
    to ties at the boundary (ntile splits ties by the doc_id tiebreak,
    so boundary equality is allowed, inversion is not)."""
    out = REGISTRY["curate_ccnet_buckets"].builder(spark, sf_dir)
    out = out.localCheckpoint()
    sizes = (
        out.groupBy("source", "bucket").count().groupBy("source").agg(
            (F.max("count") - F.min("count")).alias("spread"),
            F.count("*").alias("n_buckets"),
        )
    )
    bad = sizes.filter(
        (F.col("spread") > 1) | (F.col("n_buckets") != CCNET_BUCKETS)
    )
    assert bad.count() == 0

    stats = out.groupBy("source", "bucket").agg(
        F.min("nll").alias("lo"), F.max("nll").alias("hi")
    )
    a, b = stats.alias("a"), stats.alias("b")
    inversions = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.bucket") + 1 == F.col("b.bucket"))
        & (F.col("a.hi") > F.col("b.lo")),
    )
    assert inversions.count() == 0


def test_ccnet_keep_policy(spark, sf_dir):
    """head: all kept; tail: none kept; middle: hash-sampled strictly
    between 0 and all (on the 500-doc fixture the md5-parity sample
    cannot be degenerate)."""
    out = REGISTRY["curate_ccnet_buckets"].builder(spark, sf_dir)
    agg = (
        out.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("kept").cast("int")).alias("k"),
        )
        .collect()
    )
    by = {r["bucket"]: r for r in agg}
    assert by[1]["k"] == by[1]["n"]
    assert by[CCNET_BUCKETS]["k"] == 0
    assert 0 < by[2]["k"] < by[2]["n"]


# ---------------------------------------------------------------------------
# embedding_mrl_recall
# ---------------------------------------------------------------------------
def test_mrl_full_width_recall_is_exactly_one(spark, sf_dir):
    """dims=64 'truncation' renormalizes to the identical unit vectors,
    so the approximate top-k IS the ground truth: recall 1.0 for every
    query. Pins that the truncated path and the truth path share one
    top-k definition (any drift — tie-break, normalization order —
    breaks exact equality here before it muddies real truncations)."""
    out = mrl_recall_frame(spark, sf_dir, 64).localCheckpoint()
    assert out.count() > 0
    assert out.filter(F.col("recall") != 1.0).count() == 0


def test_mrl_truncated_recall_is_informative(spark, sf_dir):
    """The shipped MRL_DIMS prefix: every recall in [0,1], mean strictly
    between 0 and 1 on the fixture (a degenerate 0 or 1 would mean the
    row measures nothing)."""
    out = REGISTRY["embedding_mrl_recall"].builder(spark, sf_dir)
    out = out.localCheckpoint()
    assert out.filter((F.col("recall") < 0) | (F.col("recall") > 1)).count() == 0
    mean = out.agg(F.avg("recall")).collect()[0][0]
    assert 0.0 < mean < 1.0, (MRL_DIMS, mean)
