"""Near-duplicate clusters turned into decisions.

The detectors find pairs and ``dedup_cluster_cc`` (dedup.py) closes
them into clusters; a pipeline must also decide which member survives
and report what dedup did per source:

- ``dedup_cluster_keep_best``     full-corpus keep/drop manifest: each
                                  cluster keeps its highest-quality
                                  member; singletons keep themselves.
- ``dedup_cluster_incremental``   cluster labels from the incremental
                                  cluster-state engine
                                  (operators/cluster_state.py), judged
                                  against the full-recompute oracle.
- ``dedup_keep_best_incremental`` the warm, state-served manifest;
                                  shares dedup_cluster_keep_best's
                                  oracle VERBATIM (warm == cold).
- ``dedup_cluster_stats``         per-source dedup health report.

Reference parity: the reference pipeline has no dedup beyond a URL
dropDuplicates (reference examples/get_pdf_links_from_cc.py:126).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from doc2dataset_spark.queries.core import REGISTRY, query
from doc2dataset_spark.queries.dedup import _TOKS, dedup_cluster_cc
from doc2dataset_spark.session import load_table


# ---------------------------------------------------------------------------
# dedup_cluster_keep_best — cluster → retention decision
# ---------------------------------------------------------------------------

# quality key for the survivor choice: distinct-token count (an integer,
# so the cross-engine argmax can't hit a float rounding boundary), ties
# broken by min doc_id — deterministic on any corpus. coalesce: NULL
# text gives a NULL token array (size NULL), which must rank as 0 like
# the oracle's coalesce(nd, 0) — not as a NULL that the argmax struct
# orders differently per engine.
_ND_SPARK = f"coalesce(size(array_distinct({_TOKS})), 0)"
_ND_DUCK = """
  SELECT doc_id, count(DISTINCT tok) AS n_distinct
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  t -> t <> '')) AS tok
        FROM documents)
  GROUP BY doc_id
"""


@query(
    "dedup_cluster_keep_best",
    oracle=None,  # assigned below (wraps the dedup_cluster_cc oracle)
    tags=("dedup", "documents", "curation"),
)
def dedup_cluster_keep_best(spark, sf_dir):
    """Full-corpus fuzzy-dedup retention: every document gets a cluster
    (its connected component over SimHash near-dup pairs, or itself if
    it has no near-dup) and a keep/drop verdict — each cluster keeps
    exactly its highest-quality member (most distinct tokens, ties to
    the smallest doc_id). This is the step pipelines actually ship:
    pairwise detection and clustering exist to produce THIS manifest.

    Scale shape: the cluster labels come from the convergence-probed CC
    (dedup_cluster_cc — O(diameter) rounds, localCheckpoint-cut
    lineage); the survivor choice is one map-side-combinable
    max_by(doc_id, (n_distinct, -doc_id)) aggregate per cluster_id plus
    one equi-join of the per-cluster winners back to the member rows —
    both keyed by cluster_id, whose key space is dominated by
    singletons (no skew). No windows over the corpus, no collect."""
    labels = dedup_cluster_cc(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_ND_SPARK).cast("bigint").alias("n_distinct")
    )
    members = docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        "n_distinct",
    )
    return _manifest_from_members(members)


def _manifest_from_members(members):
    """(doc_id, cluster_id, n_distinct, kept) from a members frame —
    THE survivor rule (argmax quality per cluster: max over the
    lexicographic struct (n_distinct, -doc_id) == max n_distinct, ties
    to the MIN doc_id), shared by the cold manifest and its warm
    state-served twin so the two rows under one oracle cannot drift."""
    best = members.groupBy("cluster_id").agg(
        F.expr("max_by(doc_id, struct(n_distinct, -doc_id))").alias(
            "keep_doc"
        )
    )
    return members.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "n_distinct",
        (F.col("doc_id") == F.col("keep_doc")).alias("kept"),
    )


REGISTRY["dedup_cluster_keep_best"].oracle = f"""
WITH cc AS MATERIALIZED (
  SELECT * FROM ({REGISTRY["dedup_cluster_cc"].oracle})
),
nd AS ({_ND_DUCK}),
members AS (
  SELECT d.doc_id,
         coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
         coalesce(nd.n_distinct, 0)::BIGINT AS n_distinct
  FROM documents d
  LEFT JOIN nd ON nd.doc_id = d.doc_id
  LEFT JOIN cc ON cc.doc_id = d.doc_id
),
ranked AS (
  SELECT doc_id, cluster_id, n_distinct,
         row_number() OVER (
           PARTITION BY cluster_id ORDER BY n_distinct DESC, doc_id
         ) AS rn
  FROM members
)
SELECT doc_id, cluster_id, n_distinct, (rn = 1) AS kept FROM ranked
"""


# ---------------------------------------------------------------------------
# dedup_cluster_incremental — batch-replayed cluster state == full CC
# ---------------------------------------------------------------------------

CLUSTER_BATCHES = 3


@query(
    "dedup_cluster_incremental",
    oracle=None,  # assigned below (the trusted dedup_cluster_cc CTE)
    tags=("dedup", "documents", "index", "incremental"),
)
def dedup_cluster_incremental(spark, sf_dir):
    """The incremental cluster-state engine judged against the full
    recompute: the SimHash near-dup pair set is replayed in
    CLUSTER_BATCHES arrival batches (a pair arrives when its LATER
    endpoint does — the new_batch_candidates contract), each folded into
    persisted label state by operators/cluster_state.apply_batch, and
    the served latest-wins labels must hash-match dedup_cluster_cc's
    oracle — min-label CC is confluent (the fixpoint is independent of
    edge arrival order), and this row pins that the subgraph-local
    update preserves it. Singleton docs carry their own id, so the
    output is the full-corpus cluster manifest.

    Scale shape: per batch, the update touches O(new pairs + members of
    the clusters they connect) — at 100 TB with the band index feeding
    new_batch_candidates, daily cluster maintenance never re-reads the
    corpus or the full pair set; serving is one max_by aggregate over a
    doc-count-sized upsert log."""
    import shutil
    import tempfile

    from doc2dataset_spark.operators.cluster_state import serve_labels

    state = tempfile.mkdtemp(prefix="d2d_cluster_state_")
    try:
        _build_cluster_state(spark, sf_dir, state)
        return serve_labels(spark, state).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(state, ignore_errors=True)


REGISTRY["dedup_cluster_incremental"].oracle = f"""
WITH cc AS MATERIALIZED (
  SELECT * FROM ({REGISTRY["dedup_cluster_cc"].oracle})
)
SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# dedup_keep_best_incremental — the retention manifest served from state
# ---------------------------------------------------------------------------
def _build_cluster_state(spark, sf_dir, state_dir):
    """The dedup_cluster_incremental replay (SimHash pairs in
    CLUSTER_BATCHES arrival batches), persisted for warm serving."""
    from doc2dataset_spark.operators.cluster_state import apply_batch
    from doc2dataset_spark.queries.dedup import dedup_simhash_pairs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % CLUSTER_BATCHES).alias("b")
    )
    pairs = (
        dedup_simhash_pairs(spark, sf_dir)
        .select(
            "da",
            "db",
            F.greatest(
                F.col("da") % CLUSTER_BATCHES, F.col("db") % CLUSTER_BATCHES
            ).alias("pb"),
        )
        .localCheckpoint(eager=True)
    )
    for b in range(CLUSTER_BATCHES):
        apply_batch(
            spark,
            state_dir,
            pairs.filter(F.col("pb") == b).select("da", "db"),
            docs.filter(F.col("b") == b).select("doc_id"),
            batch_id=b,
        )


@query(
    "dedup_keep_best_incremental",
    oracle=None,  # assigned below: EXACTLY the dedup_cluster_keep_best
    # oracle — the row's claim is that the manifest served from
    # incrementally-maintained state is indistinguishable from the
    # from-scratch computation.
    tags=("dedup", "documents", "curation", "index"),
)
def dedup_keep_best_incremental(spark, sf_dir):
    """The warm twin of dedup_cluster_keep_best: the retention manifest
    (cluster + keep/drop verdict per doc) served from the PERSISTED
    incremental cluster state (built once per corpus via the
    dedup_cluster_incremental replay, mtime-keyed /tmp cache) joined to
    the per-doc quality key — one latest-wins aggregate over the label
    log, one argmax per cluster, zero detection work at serve time.
    Shares dedup_cluster_keep_best's oracle verbatim: daily-maintained
    state must be indistinguishable from the from-scratch manifest.

    Scale shape: serve-time cost is the doc-count-sized label aggregate
    + the cluster-keyed max_by + one equi-join — the detection and CC
    work amortizes across every serve (and across days, via
    apply_batch)."""
    from doc2dataset_spark.fsio import (
        artifact_cache_dir,
        ensure_local_cache_dir,
    )
    from doc2dataset_spark.operators.cluster_state import serve_labels

    state = ensure_local_cache_dir(
        artifact_cache_dir(sf_dir, "cstate", "documents"),
        "labels",
        lambda tmp: _build_cluster_state(spark, sf_dir, tmp),
    )
    labels = serve_labels(spark, state)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_ND_SPARK).cast("bigint").alias("n_distinct")
    )
    members = docs.join(labels, "doc_id").select(
        "doc_id", "cluster_id", "n_distinct"
    )
    return _manifest_from_members(members)


REGISTRY["dedup_keep_best_incremental"].oracle = REGISTRY[
    "dedup_cluster_keep_best"
].oracle


# ---------------------------------------------------------------------------
# dedup_cluster_stats — cluster-size distribution + per-source dup rate
# ---------------------------------------------------------------------------
@query(
    "dedup_cluster_stats",
    oracle=None,  # assigned below (wraps the dedup_cluster_cc oracle)
    tags=("dedup", "documents", "stats"),
)
def dedup_cluster_stats(spark, sf_dir):
    """The dedup health report operators teams actually watch: per
    source — docs, near-dup cluster count, clustered-doc count, docs
    that survive keep-one-per-cluster, and the duplication rate
    (dropped / docs). One CC pass, two aggregates; the cluster-size
    histogram is implicit in (n_clustered - n_clusters) = dropped."""
    labels = dedup_cluster_cc(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    m = docs.join(labels, "doc_id", "left").select(
        "doc_id",
        "source",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        F.col("cluster_id").isNotNull().alias("in_cluster"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("in_cluster").cast("int"))
            .cast("bigint")
            .alias("n_clustered"),
            F.count_distinct(
                F.when(F.col("in_cluster"), F.col("cluster_id"))
            ).cast("bigint").alias("n_clusters"),
            F.round(
                (
                    F.sum(F.col("in_cluster").cast("int"))
                    - F.count_distinct(
                        F.when(F.col("in_cluster"), F.col("cluster_id"))
                    )
                ).cast("double")
                / F.count("*"),
                4,
            ).alias("dup_rate"),
        )
    )


REGISTRY["dedup_cluster_stats"].oracle = f"""
WITH cc AS MATERIALIZED (
  SELECT * FROM ({REGISTRY["dedup_cluster_cc"].oracle})
),
m AS (
  SELECT d.doc_id, d.source,
         coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
         (cc.cluster_id IS NOT NULL) AS in_cluster
  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       SUM(CASE WHEN in_cluster THEN 1 ELSE 0 END)::BIGINT AS n_clustered,
       count(DISTINCT CASE WHEN in_cluster THEN cluster_id END)::BIGINT
         AS n_clusters,
       round((SUM(CASE WHEN in_cluster THEN 1 ELSE 0 END)
              - count(DISTINCT CASE WHEN in_cluster THEN cluster_id END))
             / count(*), 4) AS dup_rate
FROM m GROUP BY source
"""
