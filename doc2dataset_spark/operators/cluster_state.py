"""Incremental near-dup cluster maintenance: persisted labels, updated
per ingest batch, provably equal to a full recompute.

``dedup_cluster_cc`` turns pairwise near-dup detections into cluster
labels (min doc_id per connected component) with a full-corpus fixpoint.
Right for a one-shot audit; wrong for the daily-batch serving story the
index lifecycles already deliver everywhere else: the band index hands
back ONLY the candidate pairs touching a new batch
(minhash_index.new_batch_candidates), so re-running CC over the whole
corpus to absorb them throws that pruning away.

This module keeps the cluster labels AS STATE and folds each batch's new
pairs in by running the identical connected-components fixpoint on just
the AFFECTED SUBGRAPH:

    state_dir/labels/  batch_id=<b>/*.parquet  — (doc_id, cluster_id)

- The label log is an upsert log (the streaming/cdc.py discipline):
  each batch appends one ``batch_id`` partition of (doc_id, new label)
  rows — idempotent per batch_id via dynamic partition overwrite —
  and serving is one latest-wins ``max_by(cluster_id, batch_id)``
  aggregate over the log (labels only ever DECREASE as components
  merge, but latest-wins is the general contract and costs the same).
- A new batch's update touches O(new pairs + members of the clusters
  those pairs connect), never O(corpus): the affected subgraph is the
  new edges plus one (member -> current label) edge per member of every
  affected cluster. A cluster's label is its min member doc_id — itself
  a member — so each affected cluster is one star in the subgraph and
  the propagation's min over a merged component is the TRUE min over
  all merged members (equality pytest vs the full recompute,
  tests/test_cluster_state.py).
- History compaction canNOT reuse index_maintenance.compact_index_
  history: that relabels rows losslessly, but an upsert log must DROP
  superseded rows or the collapsed partition serves stale labels
  non-deterministically. ``compact_labels`` below is serve-then-rewrite:
  the latest-wins state of batches <= k becomes the single batch_id=k
  partition (served state invariant, pytest-pinned).

- ``forget_docs`` is the right-to-be-forgotten verb — the one index
  family where deletion is not row removal: pulling a doc out can SPLIT
  its cluster (it may be the only bridge), so the affected clusters are
  relabeled from the surviving members' own pair evidence (a
  member-scoped band-index join), and the forgotten docs get NULL
  tombstones that latest-wins serves as absence.

Registered query twin: ``dedup_cluster_incremental``
(queries/dedup_clusters.py) replays the SimHash pair set in three
batches through this state machine and must hash-match the
dedup_cluster_cc oracle — the incremental engine is judged against the
trusted full-recompute recursive CTE.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2dataset_spark.operators.time_travel import land_batch, list_batches
from doc2dataset_spark.queries.dedup import cc_labels_from_pairs


def _labels_path(state_dir: str) -> str:
    return posixpath.join(state_dir, "labels")


def serve_labels(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current (doc_id, cluster_id) state: latest-wins over the upsert
    log — one map-side-combinable aggregate, doc-count-sized. NULL
    labels are forget_docs tombstones: max_by keeps a null VALUE when
    its ordering wins (probed — it does not skip null-valued rows), so
    a tombstone shadows every earlier label and the filter below then
    drops the doc from the served state entirely."""
    log = spark.read.parquet(_labels_path(state_dir))
    return (
        log.groupBy("doc_id")
        .agg(F.expr("max_by(cluster_id, batch_id)").alias("cluster_id"))
        .filter(F.col("cluster_id").isNotNull())
    )


def apply_batch(
    spark: SparkSession,
    state_dir: str,
    new_pairs: DataFrame,
    new_doc_ids: DataFrame,
    batch_id: int,
) -> dict:
    """Fold one ingest batch into the cluster state.

    ``new_pairs``: (da, db) near-dup pairs TOUCHING the new batch (the
    new_batch_candidates contract: new-vs-corpus plus within-new, never
    old-vs-old — those were folded when their batch arrived).
    ``new_doc_ids``: (doc_id) of every document in the batch — docs with
    no pair become singleton clusters of themselves, so the state covers
    the full corpus, not just paired docs.

    Work is subgraph-local: new edges + every member of every affected
    existing cluster enter one cc_labels_from_pairs fixpoint (the exact
    dedup_cluster_cc propagation); only rows whose label CHANGES (plus
    the new singletons) are appended, under this batch's partition —
    replaying a batch rewrites exactly its own partition (idempotent).

    Returns {n_new_pairs, n_affected_members, n_upserts}.
    """
    new_pairs = new_pairs.select("da", "db").localCheckpoint(eager=True)
    n_new_pairs = new_pairs.count()

    have_state = bool(list_batches(_labels_path(state_dir)))
    if have_state:
        # prior state = batches STRICTLY BEFORE this one: a REPLAY of
        # batch b must see exactly the state its original run saw — if
        # the replayed batch's own earlier upserts were served back as
        # prior, every merge it performed would read as "unchanged",
        # the rewritten partition would lose those rows, and old docs
        # would silently revert to pre-merge labels. (Replaying a batch
        # while LATER batches already exist is not supported — the same
        # replay-finalization contract as the posting indexes.)
        log = spark.read.parquet(_labels_path(state_dir))
        prior = (
            log.filter(F.col("batch_id") < batch_id)
            .groupBy("doc_id")
            .agg(F.expr("max_by(cluster_id, batch_id)").alias("cluster_id"))
            .localCheckpoint(eager=True)
        )
        touched = (
            new_pairs.select(F.col("da").alias("doc_id"))
            .union(new_pairs.select(F.col("db").alias("doc_id")))
            .distinct()
        )
        affected_clusters = prior.join(touched, "doc_id", "left_semi").select(
            "cluster_id"
        ).distinct()
        members = prior.join(
            affected_clusters, "cluster_id", "left_semi"
        ).localCheckpoint(eager=True)
        # one star per affected cluster: member -> current label (the
        # label is the min member's own doc_id, so it is a node too)
        star = members.filter(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias("da"), F.col("cluster_id").alias("db")
        )
        subgraph = new_pairs.union(star)
    else:
        prior = None
        members = None
        subgraph = new_pairs

    n_members = members.count() if members is not None else 0

    if n_new_pairs > 0:
        fresh = cc_labels_from_pairs(subgraph)
    else:
        fresh = spark.createDataFrame([], "doc_id bigint, cluster_id bigint")

    if prior is not None:
        # only changed labels are upserted; unchanged members keep their
        # old rows (latest-wins serves them untouched)
        changed = (
            fresh.alias("f")
            .join(prior.alias("p"), "doc_id", "left")
            .filter(
                F.col("p.cluster_id").isNull()
                | (F.col("f.cluster_id") != F.col("p.cluster_id"))
            )
            .select("doc_id", F.col("f.cluster_id").alias("cluster_id"))
        )
    else:
        changed = fresh

    singles = (
        new_doc_ids.select("doc_id")
        .join(fresh, "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    n_upserts = land_batch(
        changed.union(singles),
        _labels_path(state_dir),
        batch_id,
        record_time=True,
    )
    return {
        "n_new_pairs": n_new_pairs,
        "n_affected_members": n_members,
        "n_upserts": n_upserts,
    }


def compact_labels(
    spark: SparkSession,
    state_dir: str,
    upto_batch: int,
    shuffle_partitions: int = 1,
) -> None:
    """Collapse label history <= upto_batch into ONE materialized
    partition of the SERVED state. Unlike the posting indexes (where
    compact_index_history relabels rows losslessly), an upsert log must
    drop superseded rows, so compaction here is serve-then-rewrite —
    but only over the HEAD: latest-wins over batches <= upto_batch
    becomes the batch_id=upto_batch partition (a partition-pruned
    scan), later batches' partition dirs are renamed into the new root
    byte-untouched, and the served state is invariant (pytest-pinned).
    Cost is O(head), not O(log). Published through index_maintenance's
    compaction protocol, horizon upto_batch."""
    from doc2dataset_spark.operators.index_maintenance import (
        compaction_fs,
        publish_compaction,
    )

    compaction_fs(_labels_path(state_dir))
    tail = [b for b in list_batches(_labels_path(state_dir)) if b > upto_batch]
    head = (
        spark.read.parquet(_labels_path(state_dir))
        .filter(F.col("batch_id") <= upto_batch)
        .groupBy("doc_id")
        .agg(F.expr("max_by(cluster_id, batch_id)").alias("cluster_id"))
        # a forget tombstone whose shadowed rows are all inside the
        # collapsed range has nothing left to shadow — drop it outright
        .filter(F.col("cluster_id").isNotNull())
        .withColumn("batch_id", F.lit(upto_batch))
        .select("doc_id", "cluster_id", "batch_id")
    )
    # shuffle_partitions: raise it when the corpus-sized head partition
    # would bottleneck or OOM a single shuffle task
    publish_compaction(
        _labels_path(state_dir),
        lambda tmp_url: (
            head.repartition(max(shuffle_partitions, 1))
            .write.partitionBy("batch_id")
            .mode("overwrite")
            .parquet(tmp_url)
        ),
        tail,
        horizon=upto_batch,
    )


def forget_docs(
    spark: SparkSession,
    state_dir: str,
    doc_ids: list[int],
    pairs_for,
    batch_id: int,
) -> dict:
    """Right-to-be-forgotten for cluster state — the one index family
    where deletion is NOT just row removal: pulling a document out of a
    near-dup cluster can SPLIT it (the deleted doc may be the only
    bridge between two groups), and the min-label itself may be the
    deleted doc. So the affected clusters' labels are RECOMPUTED from
    the surviving members' own pair evidence:

    1. every member of every cluster containing a forgotten doc is
       collected into the affected set (minus the forgotten docs);
    2. ``pairs_for(members_df) -> (da, db)`` re-derives the near-dup
       pairs among exactly those members — e.g. a band-index candidate
       join semi-scoped to the member set (``member_pairs_minhash``
       below): O(affected members), never O(corpus);
    3. one cc_labels_from_pairs fixpoint over those pairs relabels the
       survivors (pair-less members become singletons of themselves);
    4. forgotten docs get NULL-label tombstone rows — latest-wins then
       serves nothing for them (serve_labels filters null labels).

    All upserts land under ``batch_id`` (the caller's ingest clock —
    use the next batch number; replaying the forget batch is idempotent
    like any other batch).

    Returns {n_forgotten, n_affected_members, n_upserts}.
    """
    ids = spark.createDataFrame(
        [(int(d),) for d in doc_ids], "doc_id bigint"
    )
    # prior = batches STRICTLY BEFORE this one (the apply_batch replay
    # rule): a crash-recovery rerun of the same forget batch must see
    # the pre-forget state — served state would already exclude the
    # forgotten docs, the affected set would come up empty, and the
    # partition rewrite would keep only the tombstones, dropping the
    # relabel upserts (survivors silently reverting to labels that
    # point at the forgotten doc). Tombstones in prior are dropped the
    # same way serve_labels drops them: a doc forgotten earlier is not
    # a member of anything.
    log = spark.read.parquet(_labels_path(state_dir))
    prior = (
        log.filter(F.col("batch_id") < batch_id)
        .groupBy("doc_id")
        .agg(F.expr("max_by(cluster_id, batch_id)").alias("cluster_id"))
        .filter(F.col("cluster_id").isNotNull())
        .localCheckpoint(eager=True)
    )
    affected_clusters = (
        prior.join(F.broadcast(ids), "doc_id", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    members = (
        prior.join(affected_clusters, "cluster_id", "left_semi")
        .join(F.broadcast(ids), "doc_id", "left_anti")
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    n_members = members.count()

    if n_members > 0:
        pairs = pairs_for(members).select("da", "db")
        fresh = cc_labels_from_pairs(pairs)
        singles = members.join(fresh, "doc_id", "left_anti").select(
            "doc_id", F.col("doc_id").alias("cluster_id")
        )
        relabeled = fresh.union(singles)
    else:
        relabeled = spark.createDataFrame(
            [], "doc_id bigint, cluster_id bigint"
        )

    tombstones = ids.select(
        "doc_id", F.lit(None).cast("bigint").alias("cluster_id")
    )
    n_upserts = land_batch(
        relabeled.union(tombstones),
        _labels_path(state_dir),
        batch_id,
        record_time=True,
    )
    return {
        "n_forgotten": len(doc_ids),
        "n_affected_members": n_members,
        "n_upserts": n_upserts,
    }


def member_pairs_minhash(spark: SparkSession, index_dir: str):
    """``pairs_for`` provider backed by the MinHash band index: the
    (band, bh) candidate self-join semi-scoped to the member set BEFORE
    the join, so the pair space is the members' own collision buckets —
    O(affected members' postings), not a full-index candidate pass.
    Forget the docs from the band index FIRST (delete_docs_minhash);
    this provider then sees only surviving postings either way because
    both sides are member-scoped."""
    from doc2dataset_spark.operators.minhash_index import read_bands

    from doc2dataset_spark.operators.minhash_index import pairs_from_bands

    def pairs_for(members):
        return pairs_from_bands(
            read_bands(spark, index_dir).join(
                members.select("doc_id"), "doc_id", "left_semi"
            )
        )

    return pairs_for


def member_pairs_winnow(spark: SparkSession, index_dir: str):
    """``pairs_for`` provider backed by the winnowing fingerprint index:
    pairs_from_postings with the member set as its scope — the df prune
    stays full-corpus (a member-scoped df would admit hub fingerprints
    the serving path prunes), then the fp self-join runs over the
    members' own postings only. Forget the docs from the winnow index
    FIRST (delete_docs_winnow); df is derived from the surviving
    postings, so the evidence is post-deletion either way."""
    from doc2dataset_spark.operators.winnow_index import (
        pairs_from_postings,
        read_postings,
    )

    def pairs_for(members):
        return pairs_from_postings(
            read_postings(spark, index_dir), scope=members
        ).select("da", "db")

    return pairs_for
