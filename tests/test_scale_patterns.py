"""Scale-pattern guarantees that only show up in physical plans: bucketed
co-located joins (no shuffle), partition-pruned scans (no full read), and
blocked range joins (no nested loop). On a 1000-executor cluster these are
the difference between a working pipeline and a melted shuffle service."""

from __future__ import annotations

from pyspark.sql import functions as F

from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.session import load_table


def _plan(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Pre-bucketing both sides on the join key removes the Exchange from
    the join entirely — the bucketing demo for co-located 100 TB joins
    (bucket count co-chosen with the key; sortBy removes the Sort too)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    try:
        for name, df_, key in (
            ("t_li_b", li, "l_orderkey"),
            ("t_ord_b", orders, "o_orderkey"),
        ):
            (
                df_.write.mode("overwrite")
                .option("path", str(tmp_path / name))
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(name)
            )
        # the pattern targets two LARGE sides: disable the broadcast
        # shortcut this tiny SF would otherwise take
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            jb = spark.table("t_li_b").join(
                spark.table("t_ord_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = _plan(jb)
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan
            assert "Bucketed: true" in plan
            # and the rewrite changes nothing about the result
            naive = li.join(orders, li.l_orderkey == orders.o_orderkey)
            assert jb.count() == naive.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_ord_b")


def test_partition_pruned_scan(spark, sf_dir, tmp_path):
    """Writing events hive-partitioned by day turns date predicates into
    partition pruning: the scan must list only matching partitions, with
    the predicate in PartitionFilters, not a post-scan Filter."""
    out = str(tmp_path / "events_by_day")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(out)
    days = [r["day"] for r in ev.select("day").distinct().collect()]
    pick = sorted(days)[0]

    scan = spark.read.parquet(out).filter(F.col("day") == pick)
    plan = _plan(scan)
    assert "PartitionFilters" in plan and "day" in plan
    n_total = ev.count()
    n_picked = scan.count()
    assert 0 < n_picked < n_total


def test_bucketed_range_join_has_no_nested_loop(spark, sf_dir):
    """q12b's bucket-blocking must turn the keyless range join into an
    equi-join — a BroadcastNestedLoopJoin here means the rewrite regressed
    to the O(P×C) pair space."""
    df = REGISTRY["q12b_bucketed_range_join"].builder(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_deterministic_sample_is_map_side_only(spark, sf_dir):
    """Hash sampling must be a pure scan+filter — any Exchange means the
    'embarrassingly parallel' claim is false."""
    df = REGISTRY["sample_deterministic"].builder(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir, tmp_path):
    """AQE skew-join handling: a synthetic 90%-hot key would pin one reducer;
    with skewedJoin enabled and thresholds scaled to this fixture, the
    optimizer must split the hot partition (OptimizeSkewedJoin) — the same
    mechanism that absorbs shard-size skew at 100 TB (SURVEY §4: documents
    vary wildly in page count)."""
    from pyspark.sql import functions as F

    n = 200_000
    skewed = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
        (F.col("id") % 97).alias("payload"),
    )
    dim = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dval")
    )
    # park both sides as parquet so stats come from files, as in production
    skewed.write.mode("overwrite").parquet(str(tmp_path / "fact"))
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))

    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(str(tmp_path / "fact"))
        d = spark.read.parquet(str(tmp_path / "dim"))
        joined = fact.join(d, "k")
        # collect (not count) so THIS df's adaptive plan is the one finalized
        assert len(joined.collect()) == n  # every fact row matches one dim
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = joined._jdf.queryExecution().explainString(mode)
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir, tmp_path):
    """Runtime bloom-filter join pruning: when one join side carries a
    selective filter, Catalyst builds a bloom filter from it and injects
    `might_contain` into the other side's scan, dropping non-matching rows
    BEFORE the shuffle. At 100 TB this turns 'shuffle the whole fact table'
    into 'shuffle the ~matching slice' — the runtime analog of the static
    partition-pruning test above. Thresholds are scaled down to fire on
    this fixture-sized input."""
    from pyspark.sql import functions as F

    n = 300_000
    fact = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("payload")
    )
    dim = spark.range(n).select(F.col("id").alias("k"), (F.col("id") * 2).alias("dval"))
    fact.write.mode("overwrite").parquet(str(tmp_path / "fact"))
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))

    conf = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        # default is 10GB — production-sized; lowered so the fixture qualifies
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        f = spark.read.parquet(str(tmp_path / "fact"))
        # dval % 1000 == 0 keeps 1 dim row in 500: selective creation side
        d = spark.read.parquet(str(tmp_path / "dim")).filter(
            F.col("dval") % 1000 == 0
        )
        joined = f.join(d, "k")
        assert joined.count() == n // 500
        plan = _plan(joined)
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_compute_parallelism_caps_vanilla_shuffle_conf(spark):
    """A VANILLA session (the round driver's) carries the stock 200
    shuffle partitions; explicit tiny-input repartitions must size to
    actual cores, not 200 (REPARTITION_BY_NUM is exempt from AQE
    coalescing, so 200 would mean 200 scheduled tasks per gate query)."""
    from doc2dataset_spark.session import compute_parallelism

    dp = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        assert compute_parallelism(spark) == min(dp, 200)
        assert compute_parallelism(spark) <= dp
        lower = max(1, dp // 2)
        spark.conf.set("spark.sql.shuffle.partitions", str(lower))
        assert compute_parallelism(spark) == lower  # operator tuned it lower
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
