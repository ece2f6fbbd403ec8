"""Invariant tests for the training-pipeline extras (queries/
pipeline_extras.py). Value-level correctness is oracle-gated
(scripts/driver_mirror.py); these pin the semantic properties a trainer
relies on — conservation, contiguity, determinism — which a hash match
alone wouldn't explain."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.queries.pipeline_extras import (
    HEAD_WORDS,
    PACK_BUDGET,
    PACK_SHARDS,
    REP_FLAG,
    SPAN_MIN_DOCS,
    SPAN_WORDS,
)
from doc2dataset_spark.session import load_table


def test_pack_sequences_conserves_and_fills(spark, sf_dir):
    rows = REGISTRY["pack_sequences"].builder(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    assert len(rows) == n_docs  # every doc packed exactly once
    # offsets tile each shard contiguously: sorted by doc_id, each doc
    # starts where the previous ended, starting at 0
    by_shard = defaultdict(list)
    for r in rows:
        assert r.shard == r.doc_id % PACK_SHARDS
        by_shard[r.shard].append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.doc_id)
        off = 0
        for r in shard_rows:
            assert r.start_off == off
            assert r.seq_id == off // PACK_BUDGET
            off += r.n_tokens
    # a sequence never starts beyond the shard's token count, and seq_ids
    # within a shard are gapless (greedy fill leaves no empty bins)
    for shard_rows in by_shard.values():
        seqs = sorted({r.seq_id for r in shard_rows})
        assert seqs == list(range(len(seqs)))


def test_repetition_ratio_bounds_and_flag(spark, sf_dir):
    rows = REGISTRY["text_repetition_bigram"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.top_n <= r.n_bigrams
        assert 0.0 < r.top_ratio <= 1.0
        # flag is computed from the unrounded ratio; allow the rounded
        # value as a proxy only away from the threshold
        if abs(r.top_ratio - REP_FLAG) > 1e-3:
            assert r.flagged == (r.top_ratio > REP_FLAG)


def test_boilerplate_spans_shape(spark, sf_dir):
    rows = REGISTRY["dedup_boilerplate_spans"].builder(spark, sf_dir).collect()
    for r in rows:
        assert len(r.span.split(" ")) == SPAN_WORDS
        assert r.n_docs >= SPAN_MIN_DOCS


def test_shuffle_deterministic_is_a_permutation(spark, sf_dir):
    q = REGISTRY["shuffle_deterministic"].builder
    rows = q(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").count()
    assert len({r.doc_id for r in rows}) == len(rows) == docs
    by_bucket = defaultdict(list)
    for r in rows:
        by_bucket[r.bucket].append(r.pos)
    for positions in by_bucket.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # same input -> identical addresses (no RNG anywhere)
    again = {(r.doc_id, r.bucket, r.pos) for r in q(spark, sf_dir).collect()}
    assert again == {(r.doc_id, r.bucket, r.pos) for r in rows}


def test_cross_source_keeps_exactly_one_per_group(spark, sf_dir):
    rows = REGISTRY["dedup_cross_source"].builder(spark, sf_dir).collect()
    groups = defaultdict(list)
    for r in rows:
        groups[r.fingerprint].append(r)
    for grp in groups.values():
        kept = [r for r in grp if r.kept]
        assert len(kept) == 1
        # the keeper is the (min source number, min doc_id) copy
        best = min(grp, key=lambda r: (int(r.source[3:]), r.doc_id))
        assert kept[0].doc_id == best.doc_id
    # fingerprints really are head fingerprints: same head -> same group
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.expr(
                "array_join(slice(filter(split(lower(text), '\\\\s+'),"
                f" t -> t <> ''), 1, {HEAD_WORDS}), ' ')"
            )
        ).alias("fp"),
    ).collect()
    expect = {r.doc_id: r.fp for r in docs}
    assert all(r.fingerprint == expect[r.doc_id] for r in rows)


def test_curate_corpus_composes_the_stages(spark, sf_dir):
    curated = {
        r.doc_id: r
        for r in REGISTRY["curate_corpus"].builder(spark, sf_dir).collect()
    }
    rep = {
        r.doc_id
        for r in REGISTRY["text_repetition_bigram"].builder(spark, sf_dir).collect()
        if r.flagged
    }
    # repetitive docs never reach the packed output
    assert not rep & set(curated)
    # cross-source dedup among quality survivors: at most one packed doc
    # per head fingerprint (dedup_cross_source's grouping restricted to
    # the survivor set)
    xs = REGISTRY["dedup_cross_source"].builder(spark, sf_dir).collect()
    survivors = [r for r in xs if r.doc_id not in rep]
    per_fp = defaultdict(list)
    for r in survivors:
        per_fp[r.fingerprint].append(r.doc_id)
    for fp, ids in per_fp.items():
        packed = [i for i in ids if i in curated]
        assert len(packed) <= 1, fp
    # stage 3 (round 6): no two curated docs are within-cell embedding
    # near-dups — every dedup_embedding_cell pair (same cell, cos >=
    # CELL_THRESHOLD, over the full vector set with the same 16-centroid
    # assignment) must have lost at least one endpoint, because had both
    # survived stage 2 the greedy-by-id rule drops the higher doc_id
    cell_pairs = (
        REGISTRY["dedup_embedding_cell"].builder(spark, sf_dir).collect()
    )
    both_kept = [
        (r.va, r.vb) for r in cell_pairs if r.va in curated and r.vb in curated
    ]
    assert not both_kept, both_kept
    # packing invariant holds on the curated set too
    by_shard = defaultdict(list)
    for r in curated.values():
        by_shard[r.shard].append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.doc_id)
        off = 0
        for r in shard_rows:
            assert r.start_off == off
            assert r.seq_id == off // PACK_BUDGET
            off += r.n_tokens


def test_corpus_mix_shares_sum_to_one(spark, sf_dir):
    rows = REGISTRY["corpus_mix_stats"].builder(spark, sf_dir).collect()
    assert rows
    total_share = sum(r.token_share for r in rows)
    assert abs(total_share - 1.0) < 1e-3  # rounding to 6dp per cell
    docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == docs


def test_sample_negatives_shape(spark, sf_dir):
    from doc2dataset_spark.queries.pipeline_extras import N_NEGATIVES

    rows = REGISTRY["sample_negatives"].builder(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    max_id = docs.agg({"doc_id": "max"}).collect()[0][0]
    assert len(rows) == n_docs * N_NEGATIVES
    for r in rows:
        assert 0 <= r.neg_id <= max_id
        assert r.neg_id != r.doc_id  # anchor never its own negative
    # deterministic: k-th negative of a doc is a pure function of ids
    again = REGISTRY["sample_negatives"].builder(spark, sf_dir).collect()
    assert {(r.doc_id, r.k, r.neg_id) for r in again} == {
        (r.doc_id, r.k, r.neg_id) for r in rows
    }


def test_length_buckets_are_quartiles(spark, sf_dir):
    rows = REGISTRY["length_bucket_batches"].builder(spark, sf_dir).collect()
    assert {r.bucket for r in rows} <= {0, 1, 2, 3}
    # bucket assignment is monotone in n_tokens
    by_len = sorted(rows, key=lambda r: r.n_tokens)
    buckets = [r.bucket for r in by_len]
    assert buckets == sorted(buckets)
    # roughly balanced: no bucket holds more than half the corpus
    from collections import Counter

    counts = Counter(buckets)
    assert max(counts.values()) <= len(rows) * 0.55


def test_zorder_file_groups_bound_both_dimensions(spark, sf_dir):
    """The point of the space-filling curve: a file group confines BOTH
    dimensions at once — its rows span at most 2^(ZBITS/2) distinct user
    ids AND hours, so min/max pruning skips on either predicate."""
    from doc2dataset_spark.queries.pipeline_extras import ZBITS, ZMASK

    rows = REGISTRY["layout_zorder"].builder(spark, sf_dir).collect()
    events = load_table(spark, sf_dir, "events")
    min_hour = events.agg(
        F.expr("min(unix_micros(ts) DIV 3600000000)")
    ).collect()[0][0]
    ev = events.select(
        "event_id",
        F.expr(f"user_id & {ZMASK}").alias("ux"),
        F.expr(
            f"(unix_micros(ts) DIV 3600000000 - {min_hour}) & {ZMASK}"
        ).alias("hy"),
    ).collect()
    dims = {r.event_id: (r.ux, r.hy) for r in ev}
    span = 1 << (ZBITS // 2)
    by_group = defaultdict(list)
    for r in rows:
        by_group[r.file_group].append(dims[r.event_id])
    assert len(by_group) > 1
    for pts in by_group.values():
        uxs = [p[0] for p in pts]
        hys = [p[1] for p in pts]
        assert max(uxs) - min(uxs) < span
        assert max(hys) - min(hys) < span


def test_quantization_error_bounded_by_scale(spark, sf_dir):
    """floor-quantization to int8 guarantees err <= scale/127 per element
    (one quantization step); qmin/qmax must stay in the int8-symmetric
    range [-128, 127] (floor can land exactly -128 for x = -mx)."""
    rows = REGISTRY["embedding_quantize_int8"].builder(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    # the audit covers exactly the quantizable vectors (mx > 0); all-zero
    # vectors have no scale and are excluded by declared semantics
    nonzero = emb.filter(
        F.expr("array_max(transform(embedding, x -> abs(cast(x AS double)))) > 0")
    ).count()
    assert len(rows) == nonzero
    scales = {
        r.vec_id: r.mx
        for r in emb.select(
            "vec_id",
            F.expr(
                "array_max(transform(embedding, x -> abs(cast(x AS double))))"
            ).alias("mx"),
        ).collect()
    }
    for r in rows:
        assert -128 <= r.qmin <= r.qmax <= 127
        step = scales[r.vec_id] / 127.0
        # max_abs_err is rounded to 6dp in the output: allow the half-step
        assert 0.0 <= r.max_abs_err <= step + 5e-7


def test_zorder_layout_skipping_is_measurable(spark, tmp_path):
    """Write events laid out by zkey vs by a plain ts sort (64 files each)
    and measure per-file min/max spans: the z-layout must bound BOTH
    dimensions at once, the single-column sort only its own. Runs at
    sf0.01 (150 users) — the smoke SF has 15 users, too few to
    discriminate; and 64 files, because range cuts only reach the
    interleaved user bits once file count exceeds the dimensions'
    high-bit imbalance (hours span ~2^10, users ~2^8)."""
    sf = "/root/testdata/sf0.01"
    z = REGISTRY["layout_zorder"].builder(spark, sf)
    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts")
    joined = ev.join(z, "event_id")

    def spans(path):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .agg(
                (F.max("user_id") - F.min("user_id")).alias("uspan"),
                (
                    (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                    / 3600e6
                ).alias("hspan"),
            )
            .collect()
        )
        n = len(per_file)
        return sum(r.uspan for r in per_file) / n, sum(r.hspan for r in per_file) / n

    zdir = (tmp_path / "bylayout").as_posix()
    tdir = (tmp_path / "byts").as_posix()
    joined.repartitionByRange(64, "zkey").write.parquet(zdir)
    joined.repartitionByRange(64, "ts").write.parquet(tdir)
    z_uspan, z_hspan = spans(zdir)
    t_uspan, t_hspan = spans(tdir)
    # single-column time sort scatters users across the full domain...
    assert t_uspan > 120
    # ...the z-layout confines users AND keeps time bounded (global span
    # is ~720 hours)
    assert z_uspan < t_uspan * 0.66, (z_uspan, t_uspan)
    assert z_hspan < 120, z_hspan


def test_mixture_rebalance_rates_and_determinism(spark, sf_dir):
    """Round-6 mixture sampler: rates are capped at 1e6 ppm, every
    source survives, the kept fraction per source tracks its rate, and
    reruns are bit-identical (no RNG anywhere)."""
    q = REGISTRY["sample_mixture_rebalance"]
    rows = q.builder(spark, sf_dir).collect()
    again = q.builder(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    rates = {r.source: r.rate_ppm for r in rows}
    assert all(0 < v <= 1_000_000 for v in rates.values())
    docs = load_table(spark, sf_dir, "documents")
    n_sources = docs.select("source").distinct().count()
    kept_sources = {r.source for r in rows}
    assert len(kept_sources) == n_sources


def test_snapshot_diff_classes_match_synthesis(spark, sf_dir):
    """The diff classes must reproduce the synthetic mutation rules:
    removed == docs with id%7==0, added == one per id%50==0 donor,
    modified == survivors with id%5==0, everything else unchanged."""
    rows = REGISTRY["corpus_snapshot_diff"].builder(spark, sf_dir).collect()
    by = {}
    for r in rows:
        by.setdefault(r.change, set()).add(r.doc_id)
    ids = {
        r.doc_id for r in load_table(spark, sf_dir, "documents").collect()
    }
    assert by["removed"] == {i for i in ids if i % 7 == 0}
    assert by["added"] == {i + 1_000_000 for i in ids if i % 50 == 0}
    assert by["modified"] == {i for i in ids if i % 7 != 0 and i % 5 == 0}
    assert by["unchanged"] == {
        i for i in ids if i % 7 != 0 and i % 5 != 0
    }
