"""``curate``: one pass of the query surface's iterative dedup path.

The input is a fixed copy of the seed-42 ``documents`` table of the
repository's sf0.01 test data (``data/sf0.01``); the benchmark seed does not
change it. Each query
runs through ``REGISTRY[name].builder`` and a ``count()`` action; the Spark
cache is cleared before every pass so no pass reuses another's cached data.
"""

from __future__ import annotations

import os

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# The SimHash pair pipeline, then large-star/small-star CC rounds with a
# lineage cut per round.
QUERIES = ("dedup_cluster_cc",)


def input_docs() -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(os.path.join(DATA, "documents.parquet")).num_rows


class Curate:
    name = "curate"

    def __init__(self):
        from doc2dataset_spark.oracle import duck_connect
        from doc2dataset_spark.queries import REGISTRY

        self.queries = QUERIES
        self.docs = input_docs()
        con = duck_connect(DATA)
        try:
            self.oracle = {q: con.execute(REGISTRY[q].oracle).fetchdf()
                           for q in self.queries}
        finally:
            con.close()

    def verify_once(self, spark) -> str | None:
        """Each query's canonical result against its DuckDB oracle."""
        from doc2dataset_spark.oracle import compare_frames
        from doc2dataset_spark.queries import REGISTRY

        spark.catalog.clearCache()
        errors = []
        for q in self.queries:
            cmp = compare_frames(q, REGISTRY[q].builder(spark, DATA).toPandas(),
                                 self.oracle[q])
            if not cmp.ok:
                errors.append(f"{q}: {cmp.detail}")
        return "; ".join(errors) or None

    def prepare(self, spark) -> None:
        spark.catalog.clearCache()

    def op(self, spark) -> dict[str, int]:
        from doc2dataset_spark.queries import REGISTRY

        return {q: REGISTRY[q].builder(spark, DATA).count() for q in self.queries}

    def check(self, spark, result: dict[str, int]) -> str | None:
        """Each query's row count against its oracle's."""
        errors = [f"{q} rows={n} want {len(self.oracle[q])}"
                  for q, n in result.items() if n != len(self.oracle[q])]
        return "; ".join(errors) or None
