"""Persisted inverted-index lifecycle for BM25 serving (round 7).

The registry's search queries (search_bm25_topk / boolean / phrase)
re-tokenize the corpus inside every query — right for an oracle-gated
operator, wrong for a serving path where the corpus is indexed once and
queried millions of times. Mirror of ``operators/vector_index.py`` for
text:

    index_dir/postings/  tb=<b>/*.parquet  (term, doc_id, tf) — HIVE-
                         PARTITIONED by term hash-bucket, so a query's
                         terms prune the scan to their buckets
    index_dir/doclen/    (doc_id, dl)     — per-document token counts
    index_dir/stats/     (n, avgdl)       — 1 row of corpus stats

A probe reads ONLY the query terms' buckets (static ``tb IN (...)``
partition filter — an index PARAMETER, ≤ one bucket per query term),
joins df (computed from the pruned postings), broadcast-joins the 1-row
stats, and scores Okapi BM25 with the exact expression
``queries/search_extras.search_bm25_topk`` uses — so index-served
rankings are bit-identical to the in-query results (locked in
tests/test_text_index.py). Incremental ingest lands new documents'
postings under ``batch_id=<n>/tb=<b>`` with dynamic partition overwrite
(idempotent replay), and doclen/stats are rewritten from the updated
postings so df/avgdl stay exact, not approximated.

Scale shape: the build is one explode + two aggregates (map-side
combinable, keyed by bounded-skew (doc_id, term)); postings shuffle once
on the bucket key at write. Probes never scan the corpus — IO is
"the probed buckets' files", the inverted-index property that makes
BM25 at 100 TB a few-partition read.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2dataset_spark.operators.index_maintenance import postings_path
from doc2dataset_spark.operators.time_travel import (
    land_batch,
    reset_batch_times,
)
from doc2dataset_spark.queries.search_extras import BM25_B, BM25_K1
from doc2dataset_spark.queries.textops import _TOKS

N_TERM_BUCKETS = 64  # term hash-bucket count (index parameter)



def _doclen_path(index_dir: str) -> str:
    return posixpath.join(index_dir, "doclen")


def _stats_path(index_dir: str) -> str:
    return posixpath.join(index_dir, "stats")


def _term_bucket(col):
    """Deterministic term → bucket assignment. xxhash64 is a fixed
    algorithm (seed 42 default) — stable across sessions and Spark
    versions, unlike hash() whose seed conventions have shifted."""
    return F.pmod(F.xxhash64(col), F.lit(N_TERM_BUCKETS))


def _tokenize(docs: DataFrame) -> DataFrame:
    """(doc_id, term) token stream — the queries' one _TOKS tokenizer,
    shared so index and in-query results cannot drift."""
    return docs.select(
        "doc_id", F.explode(F.expr(_TOKS)).alias("term")
    )


def build_text_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Tokenize the documents table once and persist postings (term-
    bucketed), document lengths, and corpus stats."""
    from doc2dataset_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    reset_batch_times(postings_path(index_dir))  # rebuild = fresh history
    _write_index(docs, index_dir, batch_id=0)


def _write_index(docs: DataFrame, index_dir: str, batch_id: int) -> None:
    """One batch's postings + doclen partitions, then a stats refresh.

    INCREMENTAL by construction: postings and doclen are aggregated from
    THIS batch's token stream only (doc_ids are disjoint across batches
    — the append contract — so per-batch doclen partitions concatenate
    to the exact corpus doclen). Only the stats refresh reads persisted
    state, and it reads DOCLEN (1 row per document), never the postings
    — an append touches O(batch + n_docs), not O(index)."""
    tok = _tokenize(docs)
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # the landing-time manifest rides on the postings root, the family's
    # canonical log (doclen shares its batch ids)
    land_batch(
        tf.withColumn("tb", _term_bucket(F.col("term"))),
        postings_path(index_dir),
        batch_id,
        partition_cols=("tb",),
        record_time=True,
    )
    land_batch(
        tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")),
        _doclen_path(index_dir),
        batch_id,
    )
    refresh_index_stats(docs.sparkSession, index_dir)


def refresh_index_stats(spark: SparkSession, index_dir: str) -> None:
    """Rewrite the 1-row corpus stats from the full doclen directory
    (1 row per document — corpus-linear in DOCS, independent of postings
    size). Also the recovery hook after a stale-batch sweep."""
    dl = spark.read.parquet(_doclen_path(index_dir))
    stats = dl.agg(
        F.count("*").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    stats.write.mode("overwrite").parquet(_stats_path(index_dir))


def append_to_text_index(
    spark: SparkSession, new_docs: DataFrame, index_dir: str, batch_id: int = 1
) -> None:
    """Incremental index update: tokenize ONLY the new documents, land
    their postings under ``batch_id=<n>/tb=<b>`` and their doclen rows
    under ``batch_id=<n>`` (dynamic overwrite — a replayed batch
    rewrites exactly its own partitions), then refresh the 1-row stats
    from the doclen directory. df is never materialized (the probe
    derives it from pruned postings), so an append costs O(batch) work
    plus a doc-count-linear stats pass — the full postings are never
    re-read.

    ``new_docs``: (doc_id, text) with doc_ids disjoint from the indexed
    corpus (the caller's contract, same as vector-index append)."""
    _write_index(new_docs, index_dir, batch_id=batch_id)


def probe_text_index(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    topk: int = 20,
) -> DataFrame:
    """BM25 top-k documents for ``terms`` from the persisted index:
    (doc_id, score, n_terms), ordered by score DESC / doc_id — the exact
    search_bm25_topk contract, served from a bucket-pruned postings read
    instead of a corpus scan. The top-k is orderBy().limit() →
    TakeOrderedAndProject (no single-partition window)."""
    buckets = sorted(
        {b for (b,) in
         spark.createDataFrame([(t,) for t in terms], "term string")
         .select(_term_bucket(F.col("term")).alias("b")).collect()}
    )
    post = (
        spark.read.parquet(postings_path(index_dir))
        # static partition filter: only the query terms' buckets are read
        .filter(F.col("tb").isin(buckets))
        .filter(F.col("term").isin(terms))
        .select("doc_id", "term", "tf")
    )
    df = post.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    dl = spark.read.parquet(_doclen_path(index_dir)).select("doc_id", "dl")
    stats = spark.read.parquet(_stats_path(index_dir))
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        post.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom), 4
            ).alias("score"),
            F.count("*").alias("n_terms"),
        )
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(topk)
