"""In-engine trainer laws: hand-computed exactness + invariants for
the BPE merge learner and the logistic-regression classifier trainer
(the oracle hash pins fixture values; these pin the math on corpora
built here, where every step is known by construction)."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from doc2dataset_spark.queries import REGISTRY


def _corpus(tmp_path, rows):
    df = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "source": [r[2] for r in rows],
            "n_chars": [len(r[1]) for r in rows],
            "lang": ["en"] * len(rows),
        }
    )
    df.to_parquet((tmp_path / "documents.parquet").as_posix())
    return tmp_path.as_posix()


def test_bpe_merges_hand_computed(spark, tmp_path):
    # word types: aaab (f=2), ab (f=1)
    # r1: aa=4 ab=3 -> merge (a,a); aaab -> [aa,a,b]
    # r2: (a,b)=3 (aa,a)=2 -> merge (a,b); -> [aa,ab] and [ab]
    # r3: (aa,ab)=2 -> merge (aa,ab)
    src = _corpus(tmp_path, [(1, "aaab aaab ab", "s")])
    got = [
        (r.merge_round, r.p1, r.p2, r.cnt)
        for r in REGISTRY["text_bpe_merges"].builder(spark, src).collect()
    ]
    assert got == [(1, "a", "a", 4), (2, "a", "b", 3), (3, "aa", "ab", 2)]


def test_bpe_greedy_nonoverlap_and_exhaustion(spark, tmp_path):
    # 'aaaa': r1 merges positions 1,3 (greedy non-overlap, NOT 2) ->
    # [aa,aa]; r2 merges -> [aaaa]; r3 has no pairs left -> only 2 rows
    src = _corpus(tmp_path, [(1, "aaaa", "s")])
    got = [
        (r.merge_round, r.p1, r.p2, r.cnt)
        for r in REGISTRY["text_bpe_merges"].builder(spark, src).collect()
    ]
    assert got == [(1, "a", "a", 3), (2, "aa", "aa", 1)]


def _py_lr(docs, iters=3, eta=1.0):
    """Pure-Python twin of quality_classifier_lr on single-bigram docs:
    docs = [(bucket, y)], x = 1.0 for the doc's one feature."""
    n = float(len(docs))
    buckets = sorted({b for b, _ in docs})
    w = {b: 0.0 for b in buckets}
    bias = 0.0

    def score(b):
        z = round(bias + round(w[b] * 1.0, 8), 8)
        return round(1.0 / (1.0 + math.exp(-z)), 8)

    for _ in range(iters):
        p = {i: score(b) for i, (b, _) in enumerate(docs)}
        grad = {
            bb: round(
                sum(
                    round((p[i] - y) * 1.0, 8)
                    for i, (b, y) in enumerate(docs)
                    if b == bb
                )
                / n,
                8,
            )
            for bb in buckets
        }
        gb = round(
            sum(round(p[i] - y, 8) for i, (_, y) in enumerate(docs)) / n, 8
        )
        w = {bb: round(w[bb] - eta * grad[bb], 8) for bb in buckets}
        bias = round(bias - eta * gb, 8)
    return {i: score(b) for i, (b, _) in enumerate(docs)}


def test_lr_classifier_matches_python_twin(spark, tmp_path):
    # two docs, one bigram each, distinct hash buckets (46 vs 51 —
    # pinned below so a collision would fail loudly, not silently)
    import hashlib

    bu = int(hashlib.md5(b"u v").hexdigest()[:12], 16) % 64
    bx = int(hashlib.md5(b"x y").hexdigest()[:12], 16) % 64
    assert bu != bx
    src = _corpus(tmp_path, [(1, "u v", "src0"), (2, "x y", "src9")])
    got = {
        r.doc_id: (r.label, r.score)
        for r in REGISTRY["quality_classifier_lr"].builder(spark, src).collect()
    }
    want = _py_lr([(bu, 1.0), (bx, 0.0)])
    assert got[1] == (1, want[0])
    assert got[2] == (0, want[1])
    # the trained model separates the classes in the right direction
    assert got[1][1] > 0.5 > got[2][1]


def test_lr_score_is_pure_function_of_text(spark, tmp_path):
    # identical text in target (src0) and pool (src9) scores equally;
    # target-like text outranks pool-only text
    src = _corpus(
        tmp_path,
        [
            (1, "x y x y x", "src0"),
            (2, "x y x y x", "src9"),
            (3, "p q p q p", "src9"),
            (4, "p q p q p", "src9"),
        ],
    )
    got = {
        r.doc_id: r.score
        for r in REGISTRY["quality_classifier_lr"].builder(spark, src).collect()
    }
    assert got[1] == got[2]
    assert got[2] > got[3]
    assert got[3] == got[4]


def test_fixture_lr_output_bounded_ordered(spark, sf_dir):
    rows = REGISTRY["quality_classifier_lr"].builder(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    vals = [r.score for r in rows]
    assert vals == sorted(vals, reverse=True)
    assert all(0.0 < v < 1.0 for v in vals)
    assert all(r.label in (0, 1) for r in rows)
