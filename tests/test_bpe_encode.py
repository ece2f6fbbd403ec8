"""text_bpe_encode invariants: the encoded corpus must DETOKENIZE back
to the original text (BPE merges only ever concatenate adjacent symbols,
so concat(symbols) == word is a hard conservation law, violated by any
off-by-one in the greedy rewrite), and the trained merges must actually
compress. The oracle hash (degated-parity sweep) pins the exact values;
these pin the laws that hold for ANY corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.queries.dedup import _TOKS
from doc2dataset_spark.queries.text_models import bpe_encode_types
from doc2dataset_spark.session import load_table


def _type_frame(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.expr(_TOKS)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
        .localCheckpoint()
    )


def test_bpe_encode_detokenizes_to_original(spark, sf_dir):
    enc = bpe_encode_types(_type_frame(spark, sf_dir))
    bad = enc.filter(F.concat_ws("", F.col("s")) != F.col("tok")).count()
    assert bad == 0
    # the trained merges must fire: some type ends with fewer symbols
    # than characters, and no type can ever GAIN symbols
    stats = enc.select(
        F.sum((F.size("s") < F.length("tok")).cast("int")).alias("merged"),
        F.sum((F.size("s") > F.length("tok")).cast("int")).alias("grew"),
    ).collect()[0]
    assert stats.merged > 0 and stats.grew == 0


def test_bpe_encode_fertility_bounds(spark, sf_dir):
    rows = REGISTRY["text_bpe_encode"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # every word is >= 1 token; no word exceeds its char count
        assert r.n_words <= r.n_tokens
        assert 1.0 <= r.fertility
        assert r.n_tokens == int(r.n_tokens)
