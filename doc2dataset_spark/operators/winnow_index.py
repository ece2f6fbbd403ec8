"""Winnowing fingerprint-index lifecycle: build once, persist, dedup many.

``dedup_winnow`` recomputes the shingle→hash→window-min fingerprint
pipeline inside every invocation — right for an oracle-gated operator,
wrong for a serving path where new-batch dedup runs daily against a
mostly-static corpus. This module persists the winnowed postings as
plain parquet, the FOURTH persisted-index lifecycle next to the IVF
vector index (operators/vector_index.py), the inverted text index
(operators/text_index.py), and the MinHash band index
(operators/minhash_index.py):

    index_dir/postings/  batch_id=<b>/*.parquet  — (doc_id, fp)

Candidate scoring against the index is postings-only: document
frequency (the hub-fingerprint prune, df <= WINNOW_MAXDF), per-document
fingerprint counts, the fp-blocked self-join, and the fingerprint-set
Jaccard are ALL computed from the persisted (doc_id, fp) rows — the
corpus is never scanned at serve time (winnowing needs no corpus verify
stage: the similarity IS the fingerprint-set Jaccard). df is derived
from the postings at serve time, never persisted as a side table — a
persisted df would go stale the moment a batch is appended (df counts
documents across ALL batches), while the derived form is one
map-side-combinable aggregate over the index and is always consistent
with exactly the batches being served.

batch_id partitioning is the incremental-ingest seam (the band-index
discipline): appending tomorrow's documents is one dynamic-overwrite
write of a new batch_id partition — idempotent per batch_id, existing
partitions untouched — and new-vs-corpus dedup joins the new batch's
postings (a partition-pruned read) against batches <= the requested one.

Fingerprints are the exact ``dedup_detectors.winnow_fingerprints``
expressions, so index-served pairs are hash-identical to the in-query
path (locked by the shared oracle on dedup_winnow_indexed and
tests/test_winnow_index.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2dataset_spark.operators.index_maintenance import (
    meta_path,
    postings_path,
)
from doc2dataset_spark.operators.time_travel import (
    land_batch,
    record_batch_time,
    reset_batch_times,
)
from doc2dataset_spark.queries.dedup_detectors import (
    WINNOW_MAXDF,
    WINNOW_THRESHOLD,
    WINNOW_W,
    winnow_fingerprints,
)
from doc2dataset_spark.session import load_table




def _write_meta(spark: SparkSession, index_dir: str) -> None:
    spark.createDataFrame(
        [(int(WINNOW_W), int(WINNOW_MAXDF))], "w int, maxdf int"
    ).coalesce(1).write.mode("overwrite").parquet(meta_path(index_dir))


def _check_meta(index_dir: str) -> None:
    """Fingerprinting parameters are INDEX STATE: fingerprints winnowed
    at a different window W never equal the stored ones, so an append
    from a code version whose WINNOW_W changed would silently produce
    zero cross-batch matches (the banding-mismatch failure mode, caught
    here by refusing the write instead of persisting a parameter — W is
    a module constant, not a call argument, so validation is the right
    seam). Pre-meta indexes (none shipped) pass through. Resolved
    through fsio.read_parquet_dir → url_to_fs so a memory:// or remote
    index_dir validates the same as a local one."""
    from doc2dataset_spark.fsio import read_parquet_dir

    table = read_parquet_dir(meta_path(index_dir))
    if table is None:
        return
    row = table.to_pylist()[0]
    if int(row["w"]) != WINNOW_W:
        raise RuntimeError(
            f"index at {index_dir!r} was built with winnow window "
            f"w={row['w']} but this code uses WINNOW_W={WINNOW_W} — "
            "appending would silently never match the stored "
            "fingerprints; rebuild the index (or run the old code)"
        )


def build_winnow_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """One fingerprint pass over the documents table → winnowed postings,
    hive-partitioned by batch_id. The fingerprint build is the one-time
    cost (row-local shingle/hash/window-min lambdas + one explode); the
    persisted postings are ~2/(W+1) the size of a full shingle index at
    the same detection floor (the winnowing density guarantee)."""
    fps = winnow_fingerprints(load_table(spark, sf_dir, "documents"))
    # meta BEFORE postings: a crash between the two writes must never
    # leave fingerprinted postings with no parameter record (meta with
    # no postings is harmless — the rerun build overwrites both)
    _write_meta(spark, index_dir)
    # reset BEFORE the overwrite (build_text_index's ordering): a crash
    # after the write but before a post-write reset would leave the dead
    # incarnation's landing times over the new index
    reset_batch_times(postings_path(index_dir))  # rebuild = fresh history
    (
        fps.withColumn("batch_id", F.lit(0))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(postings_path(index_dir))
    )
    record_batch_time(postings_path(index_dir), 0)


def append_winnow_batch(
    spark: SparkSession, docs: DataFrame, index_dir: str, batch_id: int
) -> None:
    """Incremental ingest: fingerprint ONE new batch of (doc_id, text)
    documents, appended as its own batch_id partition — existing
    postings are never read or rewritten. Dynamic partition overwrite
    scopes the write to this batch's partition, so a retried ingest job
    is idempotent (exactly-once per batch_id). Refuses to append when
    the index's persisted winnow window differs from this code's
    (_check_meta); a fresh directory is stamped on first append."""
    from doc2dataset_spark.fsio import url_to_fs

    _check_meta(index_dir)
    fs, _ = url_to_fs(index_dir)
    # stamp the fresh directory BEFORE the postings land (same crash
    # ordering as build_winnow_index: parameters first, data second)
    if not fs.exists(postings_path(index_dir)):
        _write_meta(spark, index_dir)
    land_batch(
        winnow_fingerprints(docs),
        postings_path(index_dir),
        batch_id,
        record_time=True,
    )


def read_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(postings_path(index_dir)).select(
        "doc_id", "fp"
    )


def pairs_from_postings(raw: DataFrame, scope: DataFrame | None = None) -> DataFrame:
    """(da, db, shared, jacc) near-dup pairs from a (doc_id, fp) posting
    frame — df prune (hub fingerprints, df > WINNOW_MAXDF), per-doc
    counts, fp-blocked self-join, fingerprint-set Jaccard >=
    WINNOW_THRESHOLD. The single pair-scoring definition shared by the
    cold path (dedup_winnow computes postings in-query) and the warm
    path (dedup_winnow_indexed reads them from parquet), so the two can
    never drift. Caller caches ``raw`` (three consumers).

    ``scope``: optional (doc_id) frame restricting OUTPUT pairs to
    scoped docs (cluster_state.member_pairs_winnow). The df prune stays
    FULL-CORPUS — a member-scoped df would under-count hub fingerprints
    and admit pairs the serving path prunes, so scoped relabeling would
    use different evidence than the index serves. Per-doc fingerprint
    counts are per-doc either way, so scoping after the prune is exact."""
    keep = (
        raw.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= WINNOW_MAXDF)
        .select("fp")
    )
    # localCheckpoint, not cache: 3 consumers need the materialization,
    # but CacheManager entries are keyed per plan and never GC'd — a
    # long-lived ingest service calling this per batch would accumulate
    # pinned blocks forever; checkpoint blocks are released when the
    # frame becomes unreachable
    fpx = raw.join(keep, "fp", "left_semi")
    if scope is not None:
        fpx = fpx.join(scope.select("doc_id"), "doc_id", "left_semi")
    fpx = fpx.localCheckpoint()
    fpc = fpx.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = fpx.alias("a"), fpx.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        )
        .agg(F.count("*").alias("shared"))
    )
    jac = F.col("shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("shared")
    )
    return (
        shared.join(
            fpc.select(F.col("doc_id").alias("da"), F.col("n").alias("na")),
            "da",
        )
        .join(
            fpc.select(F.col("doc_id").alias("db"), F.col("n").alias("nb")),
            "db",
        )
        .filter(jac >= WINNOW_THRESHOLD)
        .select("da", "db", "shared", F.round(jac, 4).alias("jacc"))
    )


def _pruned_postings(
    spark: SparkSession, index_dir: str, batch_id: int
) -> DataFrame:
    """Postings of batches <= batch_id — a hive-partition-pruned read
    (asserted on THIS frame's plan in tests; new_batch_pairs
    localCheckpoints it right after, which cuts the lineage the plan
    assertion would need). 4 downstream consumers; checkpoint blocks
    are GC-cleaned, unlike CacheManager entries, so a long-lived ingest
    service calling this per batch does not accumulate pinned blocks."""
    return spark.read.parquet(postings_path(index_dir)).filter(
        F.col("batch_id") <= batch_id
    )


def new_batch_pairs(
    spark: SparkSession, index_dir: str, batch_id: int
) -> DataFrame:
    """Near-dup pairs involving ONE new batch — against prior batches
    AND within itself — without rescoring the whole corpus: postings
    are pruned to batches <= the requested one (replaying an older
    batch after later appends reproduces its original result); df and
    per-doc counts are computed over that pruned corpus-so-far (df is
    corpus-wide by definition — a hub fingerprint is a hub regardless
    of which batch mentions it — but both are corpus-LINEAR
    aggregates); and the PAIR JOIN itself is anchored on the new
    batch's postings, so its cost is O(new-batch collisions), never the
    whole corpus's pair space. Old-vs-old pairs are structurally absent
    (the new side is always one endpoint): yesterday's corpus was
    already deduped.

    Shape: the new batch's df-pruned postings join (a) the PRIOR
    batches' postings on fp — each new-old pair meets once per shared
    fp — and (b) themselves with da < db orientation — each new-new
    pair likewise once per shared fp; the union's per-pair row count is
    therefore exactly the shared-fingerprint count, and the Jaccard is
    the shared recipe over corpus-wide per-doc counts."""
    allp = _pruned_postings(spark, index_dir, batch_id).localCheckpoint()
    keep = (
        allp.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= WINNOW_MAXDF)
        .select("fp")
    )
    pruned = allp.join(keep, "fp", "left_semi").localCheckpoint()
    fpc = pruned.groupBy("doc_id").agg(F.count("*").alias("n"))
    newp = pruned.filter(F.col("batch_id") == batch_id)
    oldp = pruned.filter(F.col("batch_id") < batch_id)
    n, o = newp.alias("n"), oldp.alias("o")
    cross = n.join(o, F.col("n.fp") == F.col("o.fp")).select(
        F.least("n.doc_id", "o.doc_id").alias("da"),
        F.greatest("n.doc_id", "o.doc_id").alias("db"),
    )
    n2 = newp.alias("n2")
    within = n.join(
        n2,
        (F.col("n.fp") == F.col("n2.fp"))
        & (F.col("n.doc_id") < F.col("n2.doc_id")),
    ).select(F.col("n.doc_id").alias("da"), F.col("n2.doc_id").alias("db"))
    shared = (
        cross.unionByName(within)
        .groupBy("da", "db")
        .agg(F.count("*").alias("shared"))
    )
    jac = F.col("shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("shared")
    )
    return (
        shared.join(
            fpc.select(F.col("doc_id").alias("da"), F.col("n").alias("na")),
            "da",
        )
        .join(
            fpc.select(F.col("doc_id").alias("db"), F.col("n").alias("nb")),
            "db",
        )
        .filter(jac >= WINNOW_THRESHOLD)
        .select("da", "db", "shared", F.round(jac, 4).alias("jacc"))
    )
