"""Streaming ANN index ingest: the persisted IVF index stays fresh as
vectors arrive.

Per micro-batch of (vec_id, embedding float[]): unit-normalize with the
SAME fold-dot math the batch index uses, quantize against the index's
FROZEN saved centroids, land under ``batch_id=<n>/cent_id=<k>`` with
dynamic partition overwrite (``operators/vector_index.append_to_ivf_index``).
Every index family here lands stream batch n as ``batch_id=n+1`` (batch
0 is the initial build's partition), under the replay rules stated in
streaming/util.py's module docstring. Probes (``probe_ivf_index``) see
new vectors the moment their batch lands; the cent_id partition level
keeps probe-side pruning intact regardless of how many ingest batches
accumulate.

The composition closes the loop with streaming curation: accepted
documents' embeddings flow straight from the curate stream into the
serving index — crawl → curate → searchable, all incremental.

DuckDB cannot oracle a stream; tests/test_vector_index.py locks
stream-ingested probes == batch-built probes on the same vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from doc2dataset_spark.operators.index_maintenance import (
    compact_index_history,
    postings_path,
)
from doc2dataset_spark.operators.time_travel import list_batches
from doc2dataset_spark.operators.vector_index import append_to_ivf_index
from doc2dataset_spark.queries.dedup import spark_dot
from doc2dataset_spark.streaming.util import run_batchwise


def normalize_vectors(batch: DataFrame) -> DataFrame:
    """(vec_id, embedding) -> (vec_id, ne): the normalized_embeddings
    math, frame-parameterized for micro-batches."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(spark_dot(v, v))
    return batch.select(
        "vec_id", F.transform(v, lambda x: x / nrm).alias("ne")
    )


def run_index_ingest(
    vectors_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    compact_past_batches: int | None = None,
) -> None:
    """Wire the stream and block until drained; the index must already
    exist (build_ivf_index) — ingest only ever quantizes against its
    frozen centroids."""
    postings = postings_path(index_dir)
    _run_batchwise_ingest(
        vectors_stream,
        checkpoint_dir,
        lambda df, bid: append_to_ivf_index(
            df.sparkSession, normalize_vectors(df), index_dir, batch_id=bid
        ),
        [postings],
        compact_past_batches=compact_past_batches,
        compactor=lambda spark, upto: compact_index_history(
            spark, postings, upto, partition_cols=("cent_id",)
        ),
    )


def run_text_index_ingest(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    compact_past_batches: int | None = None,
) -> None:
    """Streaming inverted-index ingest: micro-batches of (doc_id, text)
    land as ``batch_id=<n>/tb=<b>`` posting partitions via
    ``operators/text_index.append_to_text_index`` (which also rebuilds
    doclen/stats from the full postings, so BM25's df/avgdl/N stay EXACT
    after every batch — not estimates). Blocks until drained.
    tests/test_text_index.py locks stream-ingested probes == batch-built
    probes on the same documents."""
    from doc2dataset_spark.operators.text_index import (
        _doclen_path,
        append_to_text_index,
        refresh_index_stats,
    )

    postings, doclen = postings_path(index_dir), _doclen_path(index_dir)

    def _compact(spark, upto):
        # both batch-partitioned artifacts compact on the same clock;
        # n/avgdl need no refresh — doclen CONTENT is preserved
        compact_index_history(spark, postings, upto, partition_cols=("tb",))
        compact_index_history(spark, doclen, upto)

    fired = _run_batchwise_ingest(
        docs_stream,
        checkpoint_dir,
        lambda df, bid: append_to_text_index(
            df.sparkSession, df, index_dir, batch_id=bid
        ),
        [postings, doclen],
        compact_past_batches=compact_past_batches,
        compactor=_compact,
    )
    if fired:
        # a fresh-checkpoint sweep may have removed doclen batches the
        # per-batch stats refresh counted — refresh from what remains
        refresh_index_stats(docs_stream.sparkSession, index_dir)


def _run_batchwise_ingest(
    docs_stream, checkpoint_dir, append, roots,
    compact_past_batches=None, compactor=None,
) -> list[int]:
    """The index families' runner: ``run_batchwise`` with every stream
    batch landed as ``batch_id + 1`` and ``roots`` both refused when
    compacted and swept on a fresh checkpoint. Returns the landed ids
    of the batches that fired.

    ``compact_past_batches``: a long-lived stream appends one batch
    partition per micro-batch, forever — unbounded partition
    proliferation unless someone compacts. With this set, after the
    stream drains the newest N batches are left intact (they stay
    individually replayable — a same-checkpoint restart replays recent
    batches, so the replay window must survive compaction) and
    everything older is finalized into one partition via the family's
    ``compactor(spark, upto_batch)`` (head-only: the kept tail is
    renamed, never rewritten). Serving results are invariant; only
    replay of the compacted (pre-window) batches is finalized — the
    compact_index_history contract, wired into the stream lifecycle."""
    if compact_past_batches is not None and compact_past_batches < 1:
        raise ValueError(
            "compact_past_batches must be >= 1: the newest batch must "
            "stay individually replayable for same-checkpoint restarts"
        )
    fired = run_batchwise(
        docs_stream, checkpoint_dir, append, roots, offset=1,
        refuse_roots=roots,
    )
    if not fired or compact_past_batches is None or compactor is None:
        return fired
    upto = max(fired) - compact_past_batches
    if upto < 1:  # nothing worth merging below batch 1
        return fired
    # no-op guard: if everything <= upto is already one merged
    # partition, skip — recompacting would re-read and rewrite the
    # corpus-sized head for zero change on every drain
    head = [b for b in list_batches(roots[0]) if b <= upto]
    if head and head != [upto]:
        compactor(docs_stream.sparkSession, upto)
    return fired


def run_minhash_index_ingest(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    compact_past_batches: int | None = None,
) -> None:
    """Streaming MinHash band-index ingest: micro-batches of
    (doc_id, text) land as ``batch_id=<n>/band=<k>`` posting partitions
    via ``operators/minhash_index.append_minhash_batch`` — signatures are
    the exact ``dedup.bands_of`` expressions, so stream-ingested postings
    are bit-identical to a batch build over the same documents (locked
    in tests/test_winnow_index.py's streaming twins). DuckDB cannot
    oracle a stream; the equality pytest is the twin check."""
    from doc2dataset_spark.operators.minhash_index import (
        _bands_path,
        append_minhash_batch,
    )

    bands = _bands_path(index_dir)
    _run_batchwise_ingest(
        docs_stream,
        checkpoint_dir,
        lambda df, bid: append_minhash_batch(
            df.sparkSession, df, index_dir, batch_id=bid
        ),
        [bands],
        compact_past_batches=compact_past_batches,
        compactor=lambda spark, upto: compact_index_history(
            spark, bands, upto, partition_cols=("band",)
        ),
    )


def run_winnow_index_ingest(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    compact_past_batches: int | None = None,
) -> None:
    """Streaming winnowed-fingerprint index ingest: micro-batches of
    (doc_id, text) land as ``batch_id=<n>`` posting partitions via
    ``operators/winnow_index.append_winnow_batch`` — fingerprints are the
    exact winnow_fingerprints expressions, so stream-ingested postings
    are bit-identical to a batch build over the same documents. Note df
    pruning stays a SERVE-time aggregate over the postings, so
    hub-fingerprint status is always computed against exactly the
    batches ingested so far — nothing to refresh per batch."""
    from doc2dataset_spark.operators.winnow_index import append_winnow_batch

    postings = postings_path(index_dir)
    _run_batchwise_ingest(
        docs_stream,
        checkpoint_dir,
        lambda df, bid: append_winnow_batch(
            df.sparkSession, df, index_dir, batch_id=bid
        ),
        [postings],
        compact_past_batches=compact_past_batches,
        compactor=lambda spark, upto: compact_index_history(
            spark, postings, upto
        ),
    )


def run_cluster_ingest(
    docs_stream: DataFrame,
    index_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    compact_past_batches: int | None = None,
) -> None:
    """Streaming near-dup CLUSTER maintenance: per micro-batch of
    (doc_id, text), land the batch's band postings
    (append_minhash_batch), pull exactly the candidate pairs touching it
    (new_batch_candidates — a partition-pruned read, old-vs-old pairs
    never rejoin the work set), and fold them into the persisted label
    state (cluster_state.apply_batch, the subgraph-local CC). Crawl →
    detect → cluster, all incremental: the served cluster manifest is
    current the moment a batch lands.

    The index and the state share the stream's batch clock (both land
    under the same batch_id), so the replay rules cover BOTH artifacts.
    DuckDB cannot oracle a stream; tests/test_cluster_state.py locks
    stream-built labels == one full CC over the complete candidate
    set."""
    from doc2dataset_spark.operators.cluster_state import (
        _labels_path,
        apply_batch,
        compact_labels,
    )
    from doc2dataset_spark.operators.minhash_index import (
        _bands_path,
        append_minhash_batch,
        new_batch_candidates,
    )

    bands = _bands_path(index_dir)

    def step(df: DataFrame, bid: int) -> None:
        spark = df.sparkSession
        append_minhash_batch(spark, df, index_dir, batch_id=bid)
        pairs = new_batch_candidates(spark, index_dir, bid).select(
            "da", "db"
        )
        apply_batch(
            spark, state_dir, pairs, df.select("doc_id"), batch_id=bid
        )

    def _compact(spark, upto):
        # shared batch clock -> shared compaction horizon: the band
        # index relabels losslessly, the label log collapses to its
        # latest-wins state (each family's own verb)
        compact_index_history(spark, bands, upto, partition_cols=("band",))
        compact_labels(spark, state_dir, upto_batch=upto)

    _run_batchwise_ingest(
        docs_stream,
        checkpoint_dir,
        step,
        [bands, _labels_path(state_dir)],
        compact_past_batches=compact_past_batches,
        compactor=_compact,
    )
