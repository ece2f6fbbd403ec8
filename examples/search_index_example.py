"""Retrieval-side tour: persisted IVF vector index + text search.

    python examples/search_index_example.py [sf_dir]

1. build the IVF index from the embeddings table (centroids + cell-
   partitioned postings on disk),
2. probe it for 5 query vectors at nprobe=2 (only the probed cells'
   parquet partitions are read),
3. append a batch of "new" vectors incrementally,
4. run the BM25 / boolean / phrase text-search queries from the registry.
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from doc2dataset_spark.operators.vector_index import (
    append_to_ivf_index,
    build_ivf_index,
    probe_ivf_index,
)
from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.queries.dedup import normalized_embeddings
from doc2dataset_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="search-index-example")

    index_dir = tempfile.mkdtemp(prefix="ivf_index_")
    build_ivf_index(spark, sf_dir, index_dir)
    print(f"index built at {index_dir}")

    n = normalized_embeddings(spark, sf_dir)
    queries = n.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("ne").alias("qne")
    )
    print("probe nprobe=2:")
    probe_ivf_index(spark, index_dir, queries, nprobe=2).show()

    # incremental: re-add the top half as if it arrived later
    mid = n.agg(F.max("vec_id")).collect()[0][0] // 2
    append_to_ivf_index(
        spark, n.filter(F.col("vec_id") > mid), index_dir, batch_id=1
    )
    print("appended incremental batch")

    for name in ["search_bm25_topk", "search_boolean_and", "search_phrase"]:
        print(name)
        REGISTRY[name].builder(spark, sf_dir).show(5)

    # 5. (round 7) the persisted inverted index: build once, probe with a
    # bucket-pruned postings read — identical ranking to the corpus scan
    from doc2dataset_spark.operators.text_index import (
        build_text_index,
        probe_text_index,
    )
    from doc2dataset_spark.queries.search_extras import QUERY_TERMS

    text_dir = tempfile.mkdtemp(prefix="text_index_")
    build_text_index(spark, sf_dir, text_dir)
    print(f"inverted index built at {text_dir}; probe {QUERY_TERMS}:")
    probe_text_index(spark, text_dir, list(QUERY_TERMS), topk=5).show()


if __name__ == "__main__":
    main()
