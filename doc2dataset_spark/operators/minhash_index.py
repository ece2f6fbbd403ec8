"""MinHash LSH band-index lifecycle: build once, persist, dedup many.

dedup_minhash_lsh recomputes the full signature pipeline (corpus scan →
shingles → 16 min-hashes → band hashes) inside every invocation — right
for an oracle-gated operator, wrong for a serving path where new-batch
dedup runs daily against a mostly-static corpus. This module persists
the band postings as plain parquet, the third persisted-index lifecycle
next to the IVF vector index (operators/vector_index.py) and the
inverted text index (operators/text_index.py):

    index_dir/bands/  batch_id=<b>/band=<k>/*.parquet  — (doc_id, bh)

Candidate generation against the index is a (band, bh) self-join over
the postings ONLY — the corpus is touched just to verify the surviving
candidate pairs (semi-joined to the candidate doc set, exactly the
dedup_minhash_lsh verify stage via the shared ``minhash_verify``).
batch_id partitioning is the incremental-ingest seam: appending
tomorrow's documents is one write of a new batch_id partition, and
new-vs-corpus dedup is the cross-batch band join, never a rebuild.

Band hashes are the exact expressions of the query surface
(``dedup.bands_of``), so index-served candidates — and therefore the
verified output — are hash-identical to the in-query path (locked by
the shared oracle in dedup_detectors.dedup_minhash_indexed and
tests/test_minhash_index.py).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2dataset_spark.operators.index_maintenance import meta_path
from doc2dataset_spark.operators.time_travel import drop_log, land_batch
from doc2dataset_spark.queries.dedup import N_BANDS, ROWS_PER_BAND, bands_of
from doc2dataset_spark.session import load_table

N_BANDS_DEFAULT, ROWS_DEFAULT = N_BANDS, ROWS_PER_BAND


def _bands_path(index_dir: str) -> str:
    return posixpath.join(index_dir, "bands")



def _write_meta(
    spark: SparkSession, index_dir: str, bands: int, rows: int
) -> None:
    spark.createDataFrame(
        [(int(bands), int(rows))], "bands int, rows int"
    ).coalesce(1).write.mode("overwrite").parquet(meta_path(index_dir))


def _has_meta(index_dir: str) -> bool:
    from doc2dataset_spark.fsio import read_parquet_dir

    return read_parquet_dir(meta_path(index_dir)) is not None


def index_banding(spark: SparkSession, index_dir: str) -> tuple[int, int]:
    """(bands, rows) the index was built with — read from the persisted
    meta row, defaulting to the shipped 4x4 for pre-meta indexes. Every
    append MUST band new batches with the index's own parameters: band
    hashes from a different (bands, rows) never collide with the stored
    postings, so a mismatched append would silently produce zero
    cross-batch candidates (total recall loss on the incremental path) —
    which is why the banding is index state, not a caller argument.

    Resolved through fsio.url_to_fs so a memory:// or remote index_dir
    validates the same as a local one (the Spark read/write paths in
    this lifecycle already support them)."""
    got = _read_banding(index_dir)
    return got if got is not None else (N_BANDS_DEFAULT, ROWS_DEFAULT)


def _read_banding(index_dir: str):
    """(bands, rows) from the persisted meta, or None for a fresh dir —
    one read serving both the lookup and the has-meta decision (appends
    were paying two metadata round-trips per batch)."""
    from doc2dataset_spark.fsio import read_parquet_dir

    table = read_parquet_dir(meta_path(index_dir))
    if table is None:
        return None
    row = table.to_pylist()[0]
    return int(row["bands"]), int(row["rows"])


def build_minhash_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    params: str | tuple[int, int] | None = None,
) -> None:
    """One signature pass over the documents table → band postings,
    hive-partitioned by (batch_id, band). The signature build is the
    one-time cost (one shuffle: groupBy doc_id with bands×rows map-side-
    combinable min aggregates); the persisted postings are ``bands``
    small columnar files per batch.

    ``params``: None (default) pins the oracle-anchored 4 bands × 4 rows;
    ``"auto"`` computes (bands, rows) from the corpus size via
    autoparams.minhash_bands_rows (the MMDS S-curve rule — rows grow
    with log n so background collisions stay linear); an explicit
    (bands, rows) tuple is taken as-is. The index layout and every
    serving path are banding-agnostic (postings are (doc_id, band, bh)
    whatever the banding), so candidates_from_index / new_batch_candidates
    work unchanged on an auto-built index."""
    docs = load_table(spark, sf_dir, "documents")
    if params == "auto":
        from doc2dataset_spark.operators.autoparams import minhash_bands_rows

        params = minhash_bands_rows(docs.count())
    b, r = params if params is not None else (N_BANDS_DEFAULT, ROWS_DEFAULT)
    # banding is INDEX STATE: drop the old postings, then persist the
    # banding BEFORE the new postings land, so a crash can never leave
    # banded postings with no (or another) banding record — appends would
    # band with the wrong parameters and silently produce zero cross-batch
    # candidates; meta with no postings is harmless (the rerun build
    # overwrites both)
    drop_log(_bands_path(index_dir))
    _write_meta(spark, index_dir, b, r)
    append_minhash_batch(spark, docs, index_dir, 0)


def append_minhash_batch(
    spark: SparkSession, docs: DataFrame, index_dir: str, batch_id: int
) -> None:
    """Incremental ingest (and a build's batch 0): signature pass over
    ONE new batch of (doc_id, text) documents, appended as its own
    batch_id partition — the existing postings are never read or
    rewritten. Dynamic partition overwrite scopes the write to this
    batch's partitions, so a retried ingest job is idempotent
    (exactly-once per batch_id) while other batches stay untouched. The
    batch is banded with the INDEX'S OWN persisted (bands, rows) — never
    a caller-supplied or default value — so appending to an auto-built
    index keeps cross-batch candidates intact (index_banding). A purely
    stream-built index (first ever write is an append, no prior build)
    gets its banding record stamped here — mirroring append_winnow_batch
    — so the parameters it was born with are persisted, not re-derived
    from code defaults."""
    got = _read_banding(index_dir)
    b, r = got if got is not None else (N_BANDS_DEFAULT, ROWS_DEFAULT)
    if got is None:
        _write_meta(spark, index_dir, b, r)
    land_batch(
        bands_of(docs, b, r),
        _bands_path(index_dir),
        batch_id,
        partition_cols=("band",),
        record_time=True,
    )


def read_bands(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(_bands_path(index_dir)).select(
        "doc_id", "band", "bh"
    )


def new_batch_candidates(
    spark: SparkSession, index_dir: str, batch_id: int
) -> DataFrame:
    """Candidate pairs involving ONE new batch — against the prior
    batches AND within itself — without rebuilding anything: the new
    batch's postings (a partition-pruned read) join the full posting
    set on (band, bh), then each colliding pair is oriented
    (least, greatest) and deduped. Old-vs-old pairs never appear (the
    new side is always one endpoint), which is exactly the daily-batch
    contract: yesterday's corpus was already deduped; only pairs
    touching today's documents are new work.

    The corpus side is pruned to batches <= the requested one (both
    filters are partition-pruned reads), so REPLAYING an older batch
    after later appends returns exactly the candidate set the original
    run produced — pairs against batches that did not exist at that
    batch's ingest time never leak in (they are the later batch's own
    new-vs-corpus work)."""
    allb = spark.read.parquet(_bands_path(index_dir)).filter(
        F.col("batch_id") <= batch_id
    )
    newb = allb.filter(F.col("batch_id") == batch_id).select(
        "doc_id", "band", "bh"
    )
    nb, ab = newb.alias("nb"), allb.alias("ab")
    pairs = nb.join(
        ab,
        (F.col("nb.band") == F.col("ab.band"))
        & (F.col("nb.bh") == F.col("ab.bh"))
        & (F.col("nb.doc_id") != F.col("ab.doc_id")),
    ).select(
        F.least("nb.doc_id", "ab.doc_id").alias("da"),
        F.greatest("nb.doc_id", "ab.doc_id").alias("db"),
    )
    return pairs.distinct()


def candidates_from_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Distinct LSH candidate pairs (da < db) from the persisted band
    postings — the corpus is never scanned here; the join touches only
    the index files, shuffle-keyed by (band, bh) collision buckets."""
    return pairs_from_bands(read_bands(spark, index_dir))


def pairs_from_bands(bands: DataFrame) -> DataFrame:
    """Distinct (da < db) collision pairs of a (doc_id, band, bh)
    posting frame — THE candidate-pair definition, shared by full-index
    serving (candidates_from_index) and member-scoped cluster
    relabeling (cluster_state.member_pairs_minhash), so forget_docs
    always relabels with the same pair evidence the index serves."""
    ba, bb = bands.alias("ba"), bands.alias("bb")
    return (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.bh") == F.col("bb.bh"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("da"), F.col("bb.doc_id").alias("db")
        )
        .distinct()
    )
