"""Every registered query must build and execute at the smoke SF — the
local early-warning for the driver's gate (schema drift, missing columns,
bad SQL in a builder all surface here as one parametrized failure)."""

from __future__ import annotations

import pytest

from doc2dataset_spark.queries import REGISTRY, all_oracles

# the iterative/heavy queries have their own dedicated oracle checks; keep
# the smoke loop fast by running them only via scripts/driver_mirror.py
_SKIP_SLOW = {"dedup_cluster_cc", "ml_kmeans_lite"}


@pytest.mark.parametrize("name", sorted(n for n in REGISTRY if n not in _SKIP_SLOW))
def test_query_builds_and_runs(spark, sf_dir, name):
    df = REGISTRY[name].builder(spark, sf_dir)
    assert df.count() >= 0
    assert df.columns  # non-empty schema with stable names


def test_registry_loads_loudly_and_completely():
    """A broken query module must crash the registry import, not shrink it:
    the driver gates on `queries()`, so a silently-swallowed ImportError
    would turn missing coverage into a fake green. Pin (a) the no-swallow
    policy at the source level and (b) a hard floor on registry size so
    any regression in either direction trips here first."""
    import inspect

    import doc2dataset_spark.queries as q

    src = inspect.getsource(q)
    assert "except ImportError" not in src, (
        "registry __init__ must not swallow import errors"
    )
    assert len(REGISTRY) >= 75, sorted(REGISTRY)


def test_every_oracle_names_match_registry():
    oracles = all_oracles()
    assert set(oracles) <= set(REGISTRY)
    # every oracle is non-empty SQL
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())


def test_docstrings_present():
    """The registry doubles as operator documentation for parity checking —
    every query carries a docstring."""
    missing = [n for n, s in REGISTRY.items() if not (s.doc or "").strip()]
    assert not missing, missing


def test_hll_sketch_close_to_exact(spark, sf_dir):
    """merged-sketch estimates must land within HLL's error envelope of
    the exact count (lgConfigK default 12 → ~1.6% rse; assert 5%)."""
    from pyspark.sql import functions as F

    from doc2dataset_spark.session import load_table

    got = {
        r["o_orderpriority"]: r["approx_custs"]
        for r in REGISTRY["q16c_hll_sketch"].builder(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, e in exact.items():
        assert abs(got[k] - e) / e < 0.05, (k, got[k], e)


def test_approx_count_distinct_close_to_exact(spark, sf_dir):
    """q16b's docstring promises a ±5% pytest envelope vs exact — this is
    it (rsd param 0.02, so 5% has headroom)."""
    from pyspark.sql import functions as F

    from doc2dataset_spark.session import load_table

    got = {
        r["o_orderpriority"]: r["approx_cust"]
        for r in REGISTRY["q16b_approx_count_distinct"]
        .builder(spark, sf_dir)
        .collect()
    }
    o = load_table(spark, sf_dir, "orders")
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, e in exact.items():
        assert abs(got[k] - e) / e < 0.05, (k, got[k], e)


def test_approx_percentiles_close_to_exact(spark, sf_dir):
    """agg_percentiles_approx vs its exact oracle twin agg_percentiles:
    the 10000-accuracy KLL-style sketch must land within 2% relative on
    every (returnflag, percentile) cell."""
    approx = {
        r["l_returnflag"]: (r["p50"], r["p90"], r["p99"])
        for r in REGISTRY["agg_percentiles_approx"]
        .builder(spark, sf_dir)
        .collect()
    }
    exact = {
        r["l_returnflag"]: (r["p50"], r["p90"], r["p99"])
        for r in REGISTRY["agg_percentiles"].builder(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    for k, evals in exact.items():
        for a, e in zip(approx[k], evals):
            assert abs(a - e) / abs(e) < 0.02, (k, a, e)
