"""Batch-history compaction (operators/index_maintenance.py): merging
old batch partitions must preserve every serving result bit-for-bit,
leave later batches untouched, keep the incremental seam alive for new
batches, and actually shrink the partition/file inventory."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from doc2dataset_spark.operators.index_maintenance import (
    compact_index_history,
)
from doc2dataset_spark.operators.minhash_index import (
    _bands_path,
    append_minhash_batch,
    candidates_from_index,
    new_batch_candidates,
)
from doc2dataset_spark.operators.winnow_index import (
    postings_path as _winnow_postings,
    append_winnow_batch,
    new_batch_pairs,
    pairs_from_postings,
    read_postings,
)
from doc2dataset_spark.session import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _batch_dirs(path):
    return sorted(
        d for d in os.listdir(path) if d.startswith("batch_id=")
    )


def file_inventory(root):
    """{relpath: (size, md5)} for every file under root — the tail-
    partitions-are-byte-untouched assertion (head-only compaction must
    rename later batches' dirs, never read or rewrite them)."""
    import hashlib

    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            fp = os.path.join(d, f)
            with open(fp, "rb") as fh:
                digest = hashlib.md5(fh.read()).hexdigest()
            out[os.path.relpath(fp, root)] = (os.path.getsize(fp), digest)
    return out


def test_minhash_history_compaction_preserves_serving(
    spark, sf_dir, tmp_path
):
    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "mh")
    for i in range(3):
        append_minhash_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), idx, batch_id=i
        )
    before = _rows(candidates_from_index(spark, idx))
    assert before
    tail_before = file_inventory(
        os.path.join(_bands_path(idx), "batch_id=2")
    )
    stats = compact_index_history(spark, _bands_path(idx), upto_batch=1)
    # batches 0+1 merged into batch_id=1; batch 2 untouched — as BYTES:
    # head-only compaction renames the tail dir, never rewrites it
    assert _batch_dirs(_bands_path(idx)) == ["batch_id=1", "batch_id=2"]
    assert (
        file_inventory(os.path.join(_bands_path(idx), "batch_id=2"))
        == tail_before
    )
    # the swap cleaned up after itself: no manifest / recovery siblings
    assert not os.path.exists(
        _bands_path(idx).rstrip("/") + "__compact_manifest.json"
    )
    assert not os.path.exists(_bands_path(idx).rstrip("/") + "__old_compact")
    assert stats["batches_before"] == 3 and stats["batches_after"] == 2
    assert _rows(candidates_from_index(spark, idx)) == before
    # the incremental seam survives: batch 2's new-vs-corpus candidates
    # are computed against the merged corpus-so-far exactly as before
    got = _rows(new_batch_candidates(spark, idx, batch_id=2))
    assert got
    old_ids = {
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 3 != 2)
        .select("doc_id")
        .collect()
    }
    assert all(not (da in old_ids and db in old_ids) for da, db in got)
    # and a NEW batch appends past the compaction point cleanly
    append_minhash_batch(
        spark,
        docs.select((F.col("doc_id") + 5_000_000).alias("doc_id"), "text"),
        idx,
        batch_id=3,
    )
    assert _rows(new_batch_candidates(spark, idx, batch_id=3))


def test_winnow_history_compaction_preserves_serving(
    spark, sf_dir, tmp_path
):
    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "wn")
    for i in range(3):
        append_winnow_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), idx, batch_id=i
        )
    before = _rows(pairs_from_postings(read_postings(spark, idx).cache()))
    assert before
    files_before = sum(
        len(fs) for _, _, fs in os.walk(_winnow_postings(idx))
    )
    stats = compact_index_history(
        spark, _winnow_postings(idx), upto_batch=1
    )
    assert _batch_dirs(_winnow_postings(idx)) == [
        "batch_id=1",
        "batch_id=2",
    ]
    assert stats["files_after"] < stats["files_before"] <= files_before
    assert (
        _rows(pairs_from_postings(read_postings(spark, idx).cache()))
        == before
    )
    assert _rows(new_batch_pairs(spark, idx, batch_id=2))


def test_compaction_refuses_over_leftover_recovery_dir(
    spark, sf_dir, tmp_path
):
    import pytest

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "wn2")
    append_winnow_batch(spark, docs.limit(50), idx, batch_id=0)
    leftover = _winnow_postings(idx).rstrip("/") + "__old_compact"
    os.makedirs(leftover)
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        compact_index_history(spark, _winnow_postings(idx), upto_batch=0)


def test_compaction_swap_failure_rolls_back_intact(spark, sf_dir, tmp_path):
    """A Python-level failure mid-swap (here: injected on the final
    tmp->root rename) must put every tail dir back and restore the
    original root byte-for-byte, leaving no manifest/recovery debris —
    so a retry after a transient fs error starts from a clean slate."""
    import pytest

    from doc2dataset_spark import fsio
    from doc2dataset_spark.operators import index_maintenance as im
    from doc2dataset_spark.session import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    idx = str(tmp_path / "wn_crash")
    for i in range(3):
        append_winnow_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), idx, batch_id=i
        )
    root = _winnow_postings(idx)
    before = file_inventory(root)

    class FlakyFS(fsio.LocalFS):
        def mv(self, src, dst):
            # fail exactly the final publish rename (tmp -> live root);
            # the rollback's own old -> root restore must still work
            if dst.rstrip("/") == root.rstrip("/") and "__compact_" in src:
                raise OSError("injected: rename tmp -> root")
            super().mv(src, dst)

    real = fsio.url_to_fs
    fsio.url_to_fs = lambda p: (FlakyFS(), p) if p == root else real(p)
    try:
        with pytest.raises(OSError, match="injected"):
            im.compact_index_history(spark, root, upto_batch=1)
    finally:
        fsio.url_to_fs = real

    assert file_inventory(root) == before
    assert not os.path.exists(root.rstrip("/") + "__old_compact")
    assert not os.path.exists(root.rstrip("/") + "__compact_manifest.json")
    # the rollback reclaimed the tmp copy (no head-sized leak per retry)
    parent = os.path.dirname(root.rstrip("/"))
    assert not [
        d for d in os.listdir(parent) if "__compact_" in d
    ]
    # and a retry with a healthy fs succeeds from the restored state
    stats = im.compact_index_history(spark, root, upto_batch=1)
    assert stats["batches_after"] == 2


def test_recover_compaction_mid_swap_rolls_back(spark, sf_dir, tmp_path):
    """Hand-built SIGKILL debris (manifest written, root renamed away,
    one tail dir already migrated into tmp): recover_compaction must
    reassemble the ORIGINAL tree byte-for-byte and clean the siblings,
    after which a fresh compaction succeeds."""
    import json
    import shutil

    from doc2dataset_spark.operators.index_maintenance import (
        recover_compaction,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "wn_k")
    for i in range(3):
        append_winnow_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), idx, batch_id=i
        )
    root = _winnow_postings(idx).rstrip("/")
    before = file_inventory(root)

    # simulate the crash: manifest + tmp-with-merged-head stand-in, root
    # renamed to __old_compact, ONE tail dir migrated, then "SIGKILL"
    tmp, old = root + "__compact_dead", root + "__old_compact"
    os.makedirs(tmp)
    with open(root + "__compact_manifest.json", "w") as fh:
        json.dump(
            {"tmp": tmp, "root": root, "tail_dirs": ["batch_id=2"]}, fh
        )
    os.replace(root, old)
    os.replace(
        os.path.join(old, "batch_id=2"), os.path.join(tmp, "batch_id=2")
    )

    assert recover_compaction(root) == {"action": "rolled_back"}
    assert file_inventory(root) == before
    assert not os.path.exists(old)
    assert not os.path.exists(tmp)
    assert not os.path.exists(root + "__compact_manifest.json")
    # idempotent over a healthy tree, and compaction now runs clean
    assert recover_compaction(root) == {"action": "none"}
    stats = compact_index_history(spark, root, upto_batch=1)
    assert stats["batches_after"] == 2
    shutil.rmtree(idx, ignore_errors=True)


def test_recover_compaction_after_publish_finalizes(spark, sf_dir, tmp_path):
    """Crash AFTER the new tree published but before cleanup: the old
    dir holds only superseded head batches — recover must finalize
    (remove debris) and serving stays on the compacted tree."""
    import json

    from doc2dataset_spark.operators.index_maintenance import (
        recover_compaction,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "wn_f")
    for i in range(3):
        append_winnow_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), idx, batch_id=i
        )
    root = _winnow_postings(idx).rstrip("/")
    before = _rows(pairs_from_postings(read_postings(spark, idx).cache()))
    stats = compact_index_history(spark, root, upto_batch=1)
    assert stats["batches_after"] == 2
    # recreate post-publish debris: stale old dir + the manifest
    os.makedirs(root + "__old_compact/batch_id=0")
    with open(root + "__compact_manifest.json", "w") as fh:
        json.dump(
            {"tmp": root + "__gone", "root": root,
             "tail_dirs": ["batch_id=2"]}, fh
        )
    assert recover_compaction(root) == {"action": "finalized"}
    assert not os.path.exists(root + "__old_compact")
    assert (
        _rows(pairs_from_postings(read_postings(spark, idx).cache()))
        == before
    )
