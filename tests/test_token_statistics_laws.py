"""Token-statistics laws: hand-computed exactness + invariants for the
BPE pair counts, the n-gram LM's negative log-likelihood and the DSIR
importance weights (the oracle hash pins fixture values; these pin the
math on corpora built here, where every count is known by
construction)."""

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


def test_bpe_pairs_hand_computed(spark, tmp_path):
    src = _corpus(
        tmp_path,
        [(1, "ab ab cd", "s"), (2, "ab xy", "s"), (3, "q", "s")],
    )
    got = [
        (r.pair, r.cnt)
        for r in REGISTRY["text_bpe_pairs"].builder(spark, src).collect()
    ]
    # word types: ab(f=3) -> pair 'ab'; cd(1) -> 'cd'; xy(1) -> 'xy';
    # q is length-1 and contributes nothing
    assert got == [("ab", 3), ("cd", 1), ("xy", 1)]


def test_lm_nll_hand_computed(spark, tmp_path):
    src = _corpus(tmp_path, [(1, "a b a b a", "s"), (2, "a a b", "s")])
    got = {
        r.doc_id: (r.n_bigrams, r.nll)
        for r in REGISTRY["text_lm_perplexity"].builder(spark, src).collect()
    }
    # corpus bigrams: doc1 = ab, ba, ab, ba; doc2 = aa, ab
    # lm: ab=3, ba=2, aa=1; prefix: a=4, b=2; vocab(w2) = {a, b} -> v=2
    p_ab = 3.5 / 5.0
    p_ba = 2.5 / 3.0
    p_aa = 1.5 / 5.0

    def nll(pairs, n):
        tot = round(sum(round(c * math.log(p), 8) for c, p in pairs), 4)
        return round(-tot / n, 4)

    want = {
        1: (4, nll([(2, p_ab), (2, p_ba)], 4)),
        2: (2, nll([(1, p_aa), (1, p_ab)], 2)),
    }
    assert got == want
    # doc2 contains the rare 'a a' continuation -> more surprising
    assert got[2][1] > got[1][1]


def test_dsir_weight_is_pure_function_of_text(spark, tmp_path):
    # identical text in the target slice (src0) and the raw pool (src9)
    # must score identically; target-like text must beat raw-only text
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
        r.doc_id: r.log_weight
        for r in REGISTRY["quality_dsir_weights"].builder(spark, src).collect()
    }
    assert got[1] == got[2]
    assert got[2] > got[3]
    assert got[3] == got[4]


@pytest.mark.parametrize(
    "name,col", [("text_lm_perplexity", "nll"), ("quality_dsir_weights", "log_weight")]
)
def test_fixture_outputs_bounded_and_ordered(spark, sf_dir, name, col):
    rows = REGISTRY[name].builder(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    vals = [getattr(r, col) for r in rows]
    assert vals == sorted(vals, reverse=True)
    if name == "text_lm_perplexity":
        # smoothed conditional probabilities are < 1 -> every nll > 0
        assert all(v > 0 for v in vals)
        assert all(r.n_bigrams > 0 for r in rows)
