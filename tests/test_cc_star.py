"""cc_labels_from_pairs on both of its paths — pins the internals the
oracle rows can't see: the exact star-forest convergence test, and the
label fixpoint on adversarial small graphs (chains, merged components,
self-pairs, duplicate and reversed duplicate edges), each run both
ways against the brute-force ``_expected``:

- driver: the default ``CC_DRIVER_EDGES``, so the pairs are pulled once
  and finished by the union-find;
- star: budget 0, so large-star/small-star runs to a star forest."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from doc2dataset_spark.queries import dedup
from doc2dataset_spark.queries.dedup import (
    _is_min_star_forest,
    cc_labels_from_pairs,
)

SCHEMA = "struct<doc_id:bigint,cluster_id:bigint>"


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "da bigint, db bigint")


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src bigint, dst bigint")


def _run(spark, rows, budget=None):
    """(sorted labels, per-round forest checks, union-find edge counts)
    of one cc_labels_from_pairs call at ``budget`` (None = default)."""
    rounds, finishes = [], []
    check, union_find = dedup._is_min_star_forest, dedup._union_find_roots

    def spy_check(edges):
        rounds.append(check(edges))
        return rounds[-1]

    def spy_union_find(edges):
        finishes.append(edges.num_rows)
        return union_find(edges)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "_is_min_star_forest", spy_check)
        mp.setattr(dedup, "_union_find_roots", spy_union_find)
        if budget is not None:
            mp.setattr(dedup, "CC_DRIVER_EDGES", budget)
        df = cc_labels_from_pairs(_pairs(spark, rows))
        assert df.schema.simpleString() == SCHEMA
        return sorted(tuple(r) for r in df.collect()), rounds, finishes


def _labels(spark, rows):
    """Labels on every path; each path must equal the brute force."""
    want = _expected(rows)
    for mode, budget in {"driver": None, "star": 0}.items():
        got, rounds, finishes = _run(spark, rows, budget)
        assert got == want, mode
        if mode == "driver":
            assert rounds == [] and finishes == [len(rows)]
        elif rows:
            assert rounds[-1] and finishes == []
    return want


def _expected(rows):
    """Brute-force union-find over the pair list."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in parent)


def _shuffled_chain(n, seed=7):
    ids = list(range(1, n + 1))
    random.Random(seed).shuffle(ids)
    return list(zip(ids, ids[1:]))


def test_chain_and_two_components(spark):
    # a 6-node chain with ids deliberately out of order + a separate pair
    rows = [(40, 30), (30, 50), (50, 10), (10, 60), (60, 20), (80, 70)]
    _labels(spark, rows)


def test_duplicate_and_reversed_pairs(spark):
    rows = [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2)]
    assert _labels(spark, rows) == [(1, 1), (2, 1), (3, 1)]


def test_self_pair_is_singleton(spark):
    # a self-pair contributes its node to the universe but no edge
    rows = [(5, 5), (7, 8)]
    assert _labels(spark, rows) == [(5, 5), (7, 7), (8, 7)]


def test_star_merge_through_center(spark):
    # two stars bridged by one edge: fixpoint must relabel the whole lot
    rows = [(10, 2), (11, 2), (12, 2), (20, 4), (21, 4), (22, 4), (12, 20)]
    _labels(spark, rows)


def test_shuffled_chain(spark):
    # 3,000 nodes, diameter 2,999: the shape label propagation is slowest on
    rows = _shuffled_chain(3000)
    assert {c for _, c in _labels(spark, rows)} == {1}


def test_empty_pairs(spark):
    # every budget returns the typed two-column frame; -1 forces the
    # star loop even over an empty edge set
    assert _labels(spark, []) == []
    got, rounds, finishes = _run(spark, [], budget=-1)
    assert got == [] and rounds == [True] and finishes == []


_GRAPHS = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)), max_size=40
)


@settings(max_examples=12, deadline=None)
@given(rows=_GRAPHS)
def test_random_graphs_every_path(spark, rows):
    _labels(spark, rows)


def test_min_star_forest_accepts_star(spark):
    assert _is_min_star_forest(
        _edges(spark, [(2, 1), (3, 1), (9, 7), (8, 7)])
    )


def test_min_star_forest_rejects_chain(spark):
    # 3 -> 2 -> 1: node 2 is both a src and a dst
    assert not _is_min_star_forest(_edges(spark, [(3, 2), (2, 1)]))


def test_min_star_forest_rejects_multi_edge_src(spark):
    # src 3 still carries two edges: not yet a star forest
    assert not _is_min_star_forest(_edges(spark, [(3, 1), (3, 2), (2, 1)]))


def test_min_star_forest_accepts_empty(spark):
    assert _is_min_star_forest(
        _edges(spark, []).filter(F.col("src") > 0)
    )
