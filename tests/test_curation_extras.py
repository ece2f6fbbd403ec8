"""Invariant tests for the curation extras; value equality is
oracle-gated (scripts/driver_mirror.py), these pin the semantic claims:
the Misra-Gries superset guarantee, split determinism, cap bounds,
chunk overlap reconstruction, scrub completeness, recall bounds."""

from __future__ import annotations

import pandas as pd

from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.session import load_table
from doc2dataset_spark.queries.curation_extras import (
    CAP_PER_SOURCE,
    CHUNK_S,
    CHUNK_W,
    KNN_K,
    SUPPORT_DEN,
    TRAIN_PCT,
    VAL_PCT,
    _mg_partition,
)


def test_mg_candidates_are_superset_of_heavy_tokens():
    # adversarial stream: one 2% token drowned in 300 distinct rare ones,
    # interleaved so the rare flood constantly evicts MG counters
    stream = []
    for i in range(2000):
        stream.append(f"rare{i % 300}")
        if i % 50 == 0:
            stream.append("heavy")
    n = len(stream)
    heavy = {
        t
        for t in set(stream)
        if stream.count(t) * SUPPORT_DEN >= n
    }
    assert "heavy" in heavy  # the scenario is non-trivial
    # two batches, as mapInPandas would deliver
    batches = [
        pd.DataFrame({"token": stream[: n // 2]}),
        pd.DataFrame({"token": stream[n // 2:]}),
    ]
    out = pd.concat(list(_mg_partition(iter(batches))))
    cands = set(out["token"].dropna())
    total = int(out["pcount"].dropna().sum())
    assert total == n
    assert heavy <= cands, f"MG lost heavy tokens: {heavy - cands}"


def test_split_is_deterministic_and_complete(spark, sf_dir):
    build = REGISTRY["split_train_val_test"].builder
    a = {r.doc_id: r.split for r in build(spark, sf_dir).collect()}
    b = {r.doc_id: r.split for r in build(spark, sf_dir).collect()}
    assert a == b  # rerun never moves a document
    counts = pd.Series(list(a.values())).value_counts()
    assert set(counts.index) <= {"train", "val", "test"}
    # hash buckets are uniform enough that train dominates
    assert counts["train"] > counts.get("val", 0)
    assert counts["train"] > counts.get("test", 0)
    frac = counts["train"] / counts.sum()
    assert abs(frac - TRAIN_PCT / 100) < 0.1
    assert VAL_PCT > 0  # constants stay wired into the query


def test_cap_per_key_bounds(spark, sf_dir):
    rows = REGISTRY["sample_cap_per_key"].builder(spark, sf_dir).collect()
    per_src: dict[str, list[int]] = {}
    for r in rows:
        assert 1 <= r.rk <= CAP_PER_SOURCE
        per_src.setdefault(r.source, []).append(r.rk)
    for src, rks in per_src.items():
        assert len(rks) <= CAP_PER_SOURCE
        assert sorted(rks) == list(range(1, len(rks) + 1)), src


def test_chunks_reconstruct_token_stream(spark, sf_dir):
    rows = REGISTRY["chunk_sliding_windows"].builder(spark, sf_dir).collect()
    by_doc: dict[int, dict[int, list[str]]] = {}
    for r in rows:
        assert 1 <= r.n_toks <= CHUNK_W
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text.split()
    for doc_id, chunks in by_doc.items():
        assert sorted(chunks) == list(range(len(chunks)))
        # stitching the first CHUNK_S tokens of every chunk plus the tail
        # of the last reproduces one contiguous stream (overlap is real)
        stream: list[str] = []
        for cid in range(len(chunks)):
            stream.extend(chunks[cid][:CHUNK_S])
        stream.extend(chunks[len(chunks) - 1][CHUNK_S:])
        # every chunk must match the stream at its offset
        for cid, toks in chunks.items():
            off = cid * CHUNK_S
            assert stream[off : off + len(toks)] == toks, doc_id


def test_pii_scrub_leaves_no_pii(spark, sf_dir):
    import re

    rows = REGISTRY["pii_scrub"].builder(spark, sf_dir).collect()
    email = re.compile(r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}")
    phone = re.compile(r"\b555-[0-9]{4}\b")
    assert rows
    for r in rows:
        assert not email.search(r.clean_text), r.doc_id
        assert not phone.search(r.clean_text), r.doc_id
        if r.doc_id % 3 != 0:
            assert r.n_emails >= 1 and r.n_phones >= 1
            assert "<EMAIL>" in r.clean_text and "<PHONE>" in r.clean_text
        else:
            assert r.n_emails == 0 and r.n_phones == 0


def test_ann_recall_bounds_and_coverage(spark, sf_dir):
    truth = REGISTRY["knn_graph_topk"].builder(spark, sf_dir).collect()
    per_q: dict[int, int] = {}
    for r in truth:
        per_q[r.qid] = per_q.get(r.qid, 0) + 1
        assert r.qid != r.cid
    assert all(c == KNN_K for c in per_q.values())
    recalls = REGISTRY["ann_recall_eval"].builder(spark, sf_dir).collect()
    assert {r.qid for r in recalls} == set(per_q)  # every vector evaluated
    for r in recalls:
        assert 0 <= r.n_hits <= KNN_K
        assert abs(r.recall - round(r.n_hits / KNN_K, 4)) < 1e-9
    # the seed-centroid IVF is a real index on this data, not a no-op
    assert sum(r.n_hits for r in recalls) > 0


def test_gopher_rules_flags_are_auditable(spark, sf_dir):
    """Round-6 composite quality filter: keep == conjunction of the four
    per-rule flags, the corpus exercises both outcomes, and the metrics
    agree with a driver-side recompute on a sample."""
    rows = REGISTRY["text_gopher_rules"].builder(spark, sf_dir).collect()
    assert any(r["keep"] for r in rows) and any(not r["keep"] for r in rows)
    for r in rows:
        assert r["keep"] == (
            r["ok_words"] and r["ok_mwl"] and r["ok_alpha"] and r["ok_stop"]
        )
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").limit(30).collect()
    }
    from doc2dataset_spark.queries.curation_extras import GOPHER_STOPWORDS

    by_id = {r["doc_id"]: r for r in rows}
    for doc_id, text in docs.items():
        w = [t for t in text.lower().split() if t]
        r = by_id[doc_id]
        assert r["n_words"] == len(w)
        assert abs(r["mean_word_len"] - round(sum(map(len, w)) / max(len(w), 1), 4)) < 1e-9
        assert r["n_stopwords"] == len(set(w) & set(GOPHER_STOPWORDS))
