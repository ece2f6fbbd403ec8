"""Incremental ingest loop: documents arrive in micro-batches, get
curated (Gopher gate + digest dedup), and the accepted docs' embeddings
flow straight into the serving IVF index — crawl → curate → searchable,
all incremental, all idempotent under replay.

    python examples/streaming_ingest_example.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from doc2dataset_spark.operators.index_maintenance import postings_path
from doc2dataset_spark.operators.vector_index import (
    build_ivf_index,
    probe_ivf_index,
)
from doc2dataset_spark.queries.dedup import normalized_embeddings
from doc2dataset_spark.session import get_spark, load_table
from doc2dataset_spark.streaming.curate import run_curate_stream
from doc2dataset_spark.streaming.index_ingest import run_index_ingest

if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="streaming-ingest-example")
    root = tempfile.mkdtemp(prefix="ingest_")

    # arrival source: documents in 3 files -> 3 micro-batches
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = os.path.join(root, "arrivals")
    docs.repartition(3).write.parquet(src)

    # 1) streaming curation
    doc_stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = os.path.join(root, "verdicts")
    run_curate_stream(
        doc_stream, os.path.join(root, "digests"), out,
        os.path.join(root, "ck_curate"),
    )
    verdicts = spark.read.parquet(out)
    accepted = verdicts.filter("accepted")
    print(
        f"curated: {verdicts.count()} docs, accepted {accepted.count()} "
        f"(dups {verdicts.filter('is_dup').count()}, "
        f"low quality {verdicts.filter('NOT keep_quality').count()})"
    )

    # 2) index seeded with frozen centroids, then streaming vector ingest
    #    restricted to accepted doc ids (vec_id == doc_id in the testdata)
    index_dir = os.path.join(root, "ivf_index")
    build_ivf_index(spark, sf_dir, index_dir)
    import shutil

    shutil.rmtree(postings_path(index_dir))  # ingest provides postings
    vec_src = os.path.join(root, "vec_arrivals")
    raw = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .join(accepted.select(F.col("doc_id").alias("vec_id")), "vec_id")
        .select("vec_id", "embedding")
    )
    raw.repartition(3).write.parquet(vec_src)
    vec_stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(vec_src)
    )
    run_index_ingest(
        vec_stream, index_dir, os.path.join(root, "ck_index")
    )
    n_postings = spark.read.parquet(postings_path(index_dir)).count()
    print(f"index holds {n_postings} accepted vectors")

    # 3) probe the fresh index
    queries = (
        normalized_embeddings(spark, sf_dir)
        .filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("qid"), F.col("ne").alias("qne"))
    )
    print("probe results:")
    probe_ivf_index(spark, index_dir, queries, nprobe=2).show()

    # 4) (round 7) the SAME accepted docs also stream into the serving
    #    inverted index — crawl -> curate -> BOTH retrieval paths live
    from doc2dataset_spark.operators.text_index import probe_text_index
    from doc2dataset_spark.queries.search_extras import QUERY_TERMS
    from doc2dataset_spark.streaming.index_ingest import run_text_index_ingest

    text_src = os.path.join(root, "text_arrivals")
    (
        spark.read.parquet(src)
        .join(accepted.select("doc_id"), "doc_id")
        .repartition(3)
        .write.parquet(text_src)
    )
    text_index = os.path.join(root, "text_index")
    text_stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(text_src)
    )
    run_text_index_ingest(
        text_stream, text_index, os.path.join(root, "ck_text")
    )
    print(f"BM25 over the curated text index, terms {QUERY_TERMS}:")
    probe_text_index(spark, text_index, list(QUERY_TERMS), topk=5).show()
