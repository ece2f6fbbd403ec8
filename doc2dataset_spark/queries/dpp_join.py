"""Dynamic partition pruning (DPP): the runtime scan-elimination
technique that, with bucketing (queries/bucketed_join.py), completes the
storage-layout half of the 100 TB playbook.

A fact table hive-partitioned on a join key can skip entire partitions
when the OTHER side of the join is filtered — but the surviving key set
is only known at runtime, after the dim filter executes. Spark's DPP
inserts a ``dynamicpruning#…`` subquery into the fact scan's
PartitionFilters: the broadcast dim's build result doubles as the
partition filter, so a month-dim filtered to one quarter makes the fact
scan read 3 of N month partitions instead of all of them — scan cost
drops from O(corpus) to O(selected partitions) with zero query rewrite.

Lifecycle mirrors the bucketed module: a build-once month-partitioned
external twin of lineitem under the /tmp cache (atomic publish,
mtime-keyed), and a driver-hashed query whose oracle is the plain
unpartitioned join — hash equality proves the layout is a pure physical
change; the DPP node is plan-asserted in tests/test_dpp_join.py.

Reference basis: DPP is public Spark surface (SPARK-11150); the
reference engine scans everything it is given (reference main.py
glob → full iteration).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from doc2dataset_spark.fsio import artifact_cache_dir, ensure_local_cache_dir
from doc2dataset_spark.queries.core import dsum, query, sql_dsum
from doc2dataset_spark.session import load_table

DPP_QUARTER = "1997-1"  # the dim-side filter: first quarter of 1997


def partitioned_lineitem(spark, sf_dir: str):
    """Build-once month-partitioned twin of lineitem (hive layout,
    ``ship_month=YYYY-MM/``), read back through the partition-discovery
    path so ship_month is a partition column DPP can prune on."""
    path = artifact_cache_dir(sf_dir, "dpp", "lineitem")

    def build(tmp: str) -> None:
        (
            load_table(spark, sf_dir, "lineitem")
            .withColumn(
                "ship_month",
                F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM"),
            )
            .write.partitionBy("ship_month")
            .mode("overwrite")
            .parquet(tmp)
        )

    ensure_local_cache_dir(path, "_SUCCESS", build)
    return spark.read.parquet(path)


def month_dim(spark, sf_dir: str):
    """Calendar dim derived from orders: every order month with its
    quarter label — the selective side of the DPP join."""
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            F.date_format(
                F.date_trunc("month", "o_orderdate"), "yyyy-MM"
            ).alias("month"),
            F.concat_ws(
                "-",
                F.year("o_orderdate"),
                F.quarter("o_orderdate"),
            ).alias("quarter"),
        )
        .distinct()
    )


@query(
    "join_dpp_partitioned",
    oracle=f"""
    WITH dim AS (
      SELECT DISTINCT strftime(date_trunc('month', o_orderdate), '%Y-%m')
               AS month
      FROM orders
      WHERE year(o_orderdate) || '-' || quarter(o_orderdate)
              = '{DPP_QUARTER}'
    )
    SELECT d.month,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           count(*)::BIGINT AS n_items
    FROM lineitem l
    JOIN dim d
      ON strftime(date_trunc('month', l.l_shipdate), '%Y-%m') = d.month
    GROUP BY d.month
    """,
    tags=("join", "scale", "dpp"),
)
def join_dpp_partitioned(spark, sf_dir):
    """Monthly revenue for ship months inside one order quarter, joined
    ON THE PARTITION COLUMN of the month-partitioned lineitem twin: the
    quarter filter on the dim side becomes a runtime PartitionFilter on
    the fact scan (``dynamicpruningexpression`` — plan-asserted), so
    only the selected month partitions are read.

    The oracle replays the identical logical join over the flat table —
    hash equality is the proof that partition layout + DPP change the
    bytes read, not the answer.

    Scale shape: dim is distinct-months (broadcast, bounded by the
    calendar); the fact side reads ~3 of N month partitions; the grouped
    decimal sum map-side combines. At 100 TB with date-partitioned
    facts, this is the difference between scanning the corpus and
    scanning a quarter."""
    li = partitioned_lineitem(spark, sf_dir)
    dim = month_dim(spark, sf_dir).filter(F.col("quarter") == DPP_QUARTER)
    return (
        li.join(
            F.broadcast(dim), li["ship_month"] == dim["month"]
        )
        .groupBy("month")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )
