"""Bucketed-table co-located join: the shuffle-elimination technique the
100 TB brief names explicitly ("repartition() / bucketing for co-located
joins").

A fact⋈fact join (orders⋈lineitem on orderkey) normally shuffles BOTH
sides on the join key — at 100 TB that shuffle IS the job. Writing both
tables bucketed by the join key into the same bucket count
(``df.write.bucketBy(N, key).sortBy(key)``) bakes the hash partitioning
into the storage layout: Spark's scan reports the bucket spec as its
output partitioning, and the SortMergeJoin consumes both sides with ZERO
Exchange — the join cost drops from 2 full shuffles to a local
merge per bucket. Bucket pruning is the second dividend: an equality
filter on the bucket key reads 1-of-N buckets
(``SelectedBucketsCount: 1 out of N`` in the scan).

This module ships the lifecycle as engine surface:

- ``_bucketed_table``          build-once bucketed external twin of a
                               testdata table under the /tmp cache
                               (atomic publish, mtime-keyed like the IVF
                               index cache), re-registered per session
                               (vanilla driver sessions use the
                               in-memory catalog, so catalog entries
                               never outlive the session but the files
                               do).
- ``join_bucketed_colocated``  driver-hashed proof: revenue-by-priority
                               over the bucketed twins, SAME oracle as
                               the plain parquet join — hash equality
                               shows the bucketed layout changes the
                               plan, not the answer. The merge hint pins
                               SMJ so the zero-Exchange claim is
                               testable at toy SF where AQE would
                               broadcast instead.

Plan guarantees (tests/test_bucketed_join.py): the two-bucketed-sides
join plan contains a SortMergeJoin and NO Exchange at all; the
key-filtered scan reads exactly 1 of N buckets; results match the
unbucketed join row-for-row.

Reference basis: bucketing is public Spark surface
(DataFrameWriter.bucketBy, SPARK-12538); the reference engine has no
analog (its sharding, reference main.py:66-104, is output partitioning
only — SURVEY §2.1 P1-P3).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from doc2dataset_spark.fsio import artifact_cache_dir, ensure_local_cache_dir
from doc2dataset_spark.queries.core import dsum, query, sql_dsum
from doc2dataset_spark.session import load_table

N_BUCKETS = 8


def _bucketed_table(spark, sf_dir: str, table: str, key: str):
    """Return ``table`` as a bucketed catalog table (build-once files,
    register-once-per-session catalog entry).

    The build writes through Spark's bucketed writer into a temp catalog
    name at a uuid-suffixed path (DataFrameWriter refuses bucketBy
    without saveAsTable), drops the temp catalog entry (external: files
    survive), and atomically publishes the directory. Registration is a
    CREATE TABLE … CLUSTERED BY over the published LOCATION — bucket
    membership is carried by Spark's bucketed-file naming, so any
    session can re-attach to the files."""
    path = artifact_cache_dir(sf_dir, f"bkt_{table}", table)
    tname = f"bkt_{table}_{os.path.basename(path).rsplit('_', 1)[-1]}"
    if spark.catalog.tableExists(tname):
        return spark.table(tname)
    df = load_table(spark, sf_dir, table)

    def build(tmp: str) -> None:
        bname = f"{tname}_build_{os.path.basename(tmp).rsplit('-', 1)[-1]}"
        (
            df.repartition(N_BUCKETS, F.col(key))
            .write.bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", tmp)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(bname)
        )
        spark.sql(f"DROP TABLE {bname}")  # external: metadata only

    ensure_local_cache_dir(path, "_SUCCESS", build)
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {tname} ({cols}) USING parquet "
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {N_BUCKETS} BUCKETS "
        f"LOCATION '{path}'"
    )
    return spark.table(tname)


def _joined(spark, sf_dir: str):
    li = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    o = _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    # merge hint: pins SortMergeJoin so the zero-Exchange property is
    # what's on trial (AQE would broadcast at toy SF and prove nothing)
    return li.hint("merge").join(
        o, F.col("l_orderkey") == F.col("o_orderkey")
    )


@query(
    "join_bucketed_colocated",
    oracle=f"""
    SELECT o.o_orderpriority,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           count(*)::BIGINT AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "scale", "bucketed"),
)
def join_bucketed_colocated(spark, sf_dir):
    """Revenue by order priority over CO-BUCKETED orders⋈lineitem twins:
    the oracle is the plain parquet join, so the driver's hash equality
    proves the bucketed layout is a pure physical-plan change.

    Scale shape: both scans report the bucket spec as output
    partitioning → the SMJ takes them with zero Exchange (plan-asserted
    in tests/test_bucketed_join.py); only the 5-group roll-up after the
    join shuffles. At 100 TB this converts the two largest shuffles in
    the workload into local per-bucket merges — the bucketed write is
    paid once and amortized over every subsequent orderkey join."""
    return (
        _joined(spark, sf_dir)
        .groupBy("o_orderpriority")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )
