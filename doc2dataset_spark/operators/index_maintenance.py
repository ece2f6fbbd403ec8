"""Batch-history compaction + targeted deletion for the posting indexes.

All four index lifecycles (IVF postings, text postings/doclen, MinHash
bands, winnow fingerprints) append one ``batch_id=<n>`` hive partition
per ingest batch — the idempotence/replay seam. After months of daily
appends that seam becomes the OTHER small-data problem: hundreds of
batch partitions, each with its own directory listing and footers, all
read by every serve-time query (serving prunes on band/tb/cent_id,
never on batch_id, so batch proliferation is pure overhead there).

``compact_index_history`` merges batches ``<= upto_batch`` into ONE
``batch_id=upto_batch`` partition set, leaving later batches byte-
untouched — literally: the Spark job reads and rewrites ONLY the head
(``batch_id <= upto_batch``, a partition-pruned scan), and the later
batches' hive partition directories are MOVED (filesystem rename, no
read) into the compacted root. Compacting a 1% head of a 100 TB index
costs O(head), not O(index). Semantics after compaction:

- every SERVING read (candidates_from_index, pairs_from_postings,
  probe_*) returns exactly what it returned before — postings rows are
  preserved, only their batch_id labels collapse (equality pytest);
- the incremental seam keeps working for NEW batches: appends continue
  at upto_batch + 1, and new-vs-corpus queries for later batches see
  the same corpus-so-far;
- REPLAY of a batch id < upto_batch is finalized (its partition no
  longer exists separately) — compaction is history finalization, run
  it for batches past the replay window, exactly like checkpoint
  truncation in a log-structured system.

THE compaction publish protocol: every persisted log (the posting
indexes and doclen here, cluster labels, hypertable partials and their
RTBF rewrite, as-of views, the CDC changelog, the parquet sink output)
is compacted through ``publish_compaction``; a compactor supplies only
its fold (a write callback), the ids of its untouched tail batches and
its horizon:

1. debris check (``compaction_fs``, which compactors also use to
   resolve the root before their own reads): refuse over an
   ``__old_compact`` sibling left by a crashed swap, reclaim the benign
   debris of a crash before the first rename;
2. tmp sibling ``<root>__compact_<uuid>``, derived from the root URL:
   Spark writes to the URL form (it resolves scheme-less paths against
   its default fs), ``fs`` gets the stripped twin;
3. the caller's write callback fills tmp (a failed write reclaims it);
4. the ``__compaction_horizon`` sidecar, when the caller passes one, is
   written BEFORE the first rename and restored if the swap raises: a
   crash can leave a conservative horizon over an uncompacted log (loud
   over-refusal) but never a compacted log without its refusal marker —
   which would let as-of reads serve compacted content as the past and
   let a fresh-checkpoint replay's stale sweep delete the history;
5. ``swap_in_compacted``: a ``__compact_manifest.json`` recording tmp
   path / tail dirs (plus the caller's ``extra`` tag) lands first, then
   ``mv root -> __old_compact``, mv each tail ``batch_id=<n>`` dir from
   the old root into tmp, ``mv tmp -> root``; only then are the old dir
   and the manifest removed.

The live log is fully the old tree or fully the new one (during the
swap the path is ABSENT: reads fail loudly instead of serving a
truncated log). A failure before the first rename leaves the log
untouched; a Python-level failure inside the swap rolls it back; a
hard crash leaves ``__old_compact`` + the manifest, which the next
compaction refuses to run over and ``recover_compaction`` rolls back
or finalizes in one call. The horizon sidecar is a sibling no rename
touches; streaming ingests read it to refuse fresh-checkpoint replays
of finalized batches.

``delete_from_postings`` (+ the per-family ``delete_docs_*`` wrappers)
is the other maintenance verb: right-to-be-forgotten removal of
specific keys, partition-scoped and idempotent, with explicit removal
of partitions the deletion empties. ``sync_*_index_cdc`` composes the
two verbs into CDC-driven index synchronization (upsert = delete old
postings + append new text; merge_cdc_apply's contract pointed at an
index instead of a table). With build → append → compact → delete →
CDC-sync, each index family has the full lifecycle a long-lived serving
index needs.
"""

from __future__ import annotations

import json
import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2dataset_spark import fsio
from doc2dataset_spark.operators.time_travel import batch_dir, list_batches


def postings_path(index_dir: str) -> str:
    """The batch-partitioned postings log of the IVF, text and winnow
    indexes."""
    return posixpath.join(index_dir, "postings")


def meta_path(index_dir: str) -> str:
    """The build-parameter sidecar of the MinHash and winnow indexes."""
    return posixpath.join(index_dir, "meta")


def compaction_manifest(root: str) -> str:
    """The ``__compact_manifest.json`` sibling a swap writes before its
    first rename — the one place its name is spelled."""
    return f"{root.rstrip('/')}__compact_manifest.json"


def _old_compact(root: str) -> str:
    return f"{root.rstrip('/')}__old_compact"


def check_no_leftover_compaction(fs, root: str) -> None:
    old = _old_compact(root)
    if fs.exists(old):  # leftover from a previous crashed swap
        raise RuntimeError(
            f"found leftover {old!r} from an interrupted compaction — "
            f"run recover_compaction({root!r}) (it reads the "
            "__compact_manifest.json sibling and finishes or rolls back "
            "the swap) before compacting again"
        )
    # benign debris (crash between the manifest write and the first
    # rename): the live root is intact — reclaim the orphaned tmp copy
    # instead of silently overwriting the manifest and leaking it
    manifest = compaction_manifest(root)
    if fs.exists(manifest):
        with fs.open(manifest, "rb") as fh:
            m = json.loads(fh.read().decode())
        if fs.exists(m["tmp"]):
            fs.rm(m["tmp"], recursive=True)
        fs.rm(manifest)


def compaction_fs(root: str):
    """(fs, path) for the log at URL ``root``, after the debris check —
    so a compactor's own listing never runs over a half-swapped root."""
    fs, p = fsio.url_to_fs(root)
    check_no_leftover_compaction(fs, p)
    return fs, p


def compaction_horizon(fs, root: str) -> int | None:
    """The highest batch_id ever finalized by compaction under root
    (None if never compacted). Persisted as a ``__compaction_horizon``
    sidecar so STREAMING ingests can detect that a fresh-checkpoint
    replay is no longer safe: pre-horizon batches are finalized — a
    replay would re-land their documents under renumbered batch ids and
    the stale-batch sweep would delete the compacted history itself."""
    marker = f"{root.rstrip('/')}__compaction_horizon.json"
    if not fs.exists(marker):
        return None
    with fs.open(marker, "rb") as fh:
        return int(json.loads(fh.read().decode())["upto"])


def _write_horizon(fs, root: str, upto: int | None) -> None:
    """Set the horizon sidecar to ``upto``; None removes it (the
    rollback to a never-compacted log)."""
    marker = f"{root.rstrip('/')}__compaction_horizon.json"
    if upto is None:
        if fs.exists(marker):
            fs.rm(marker)
        return
    with fs.open(marker, "wb") as fh:
        fh.write(json.dumps({"upto": int(upto)}).encode())


def recover_compaction(root: str) -> dict:
    """One-call recovery from a hard crash (SIGKILL, OOM) inside a
    compaction swap: read the ``__compact_manifest.json`` sibling, work
    out which swap step the crash interrupted, and either roll the index
    back to its pre-compaction tree or finish cleaning up a swap that
    already published. Idempotent — running it over a healthy index (no
    manifest, no debris) is a no-op.

    Crash windows and their recovery (order of publish_compaction):
    - manifest written, root never renamed → live root is intact:
      remove tmp + manifest ("cleaned");
    - root renamed to __old_compact, tail moves / publish unfinished →
      move any migrated tail dirs back, rename __old_compact to root:
      the original tree, byte-identical ("rolled_back");
    - tmp published as root, __old_compact not yet removed → the new
      tree is live and complete; the old dir holds only superseded head
      batches: remove it + the manifest ("finalized").

    Returns {"action": "none" | "cleaned" | "rolled_back" | "finalized"}.
    """
    fs, p = fsio.url_to_fs(root)
    p = p.rstrip("/")
    manifest = compaction_manifest(p)
    old = _old_compact(p)
    if not fs.exists(manifest):
        if fs.exists(old):
            raise RuntimeError(
                f"{old!r} exists but its manifest is gone — this is not "
                "compaction debris this module wrote; inspect by hand"
            )
        return {"action": "none"}
    with fs.open(manifest, "rb") as fh:
        m = json.loads(fh.read().decode())
    tmp, tail_dirs = m["tmp"], m["tail_dirs"]
    if not fs.exists(old):
        # crash before the first rename (or after the cleanup's rm old):
        # the live root is complete either way
        if fs.exists(tmp):
            fs.rm(tmp, recursive=True)
        fs.rm(manifest)
        return {"action": "cleaned"}
    if fs.exists(p):
        # publish happened: root is the complete new tree, old holds
        # only the superseded head batches
        fs.rm(old, recursive=True)
        fs.rm(manifest)
        return {"action": "finalized"}
    # mid-swap: root is absent; reassemble the ORIGINAL tree
    for d in tail_dirs:
        src = fsio.join(tmp, d)
        if fs.exists(src) and not fs.exists(fsio.join(old, d)):
            fs.mv(src, fsio.join(old, d))
    fs.mv(old, p)
    if fs.exists(tmp):
        fs.rm(tmp, recursive=True)
    fs.rm(manifest)
    return {"action": "rolled_back"}


def swap_in_compacted(
    fs, root: str, tmp: str, tail_dirs: list[str], extra: dict | None = None
) -> None:
    """Step 5 of the publish protocol (module docstring). On a
    Python-level failure the old tree is restored, tmp and the manifest
    reclaimed, and the error re-raised; on return the new tree is live
    and ``__old_compact`` + the manifest await publish_compaction's
    cleanup, so a failed cleanup is told apart from a failed swap.
    ``recover_compaction`` ignores the ``extra`` manifest keys."""
    root = root.rstrip("/")
    old = _old_compact(root)
    manifest = compaction_manifest(root)
    record = {"tmp": tmp, "root": root, "tail_dirs": tail_dirs}
    with fs.open(manifest, "wb") as fh:
        fh.write(json.dumps({**record, **(extra or {})}).encode())
    fs.mv(root, old)
    try:
        for d in tail_dirs:
            fs.mv(fsio.join(old, d), fsio.join(tmp, d))
        fs.mv(tmp, root)
    except BaseException:
        # roll back: return any moved tail dirs, restore the original
        # root, and reclaim the tmp copy (a retry rebuilds it — leaving
        # it would leak one head-sized directory per failed attempt)
        for d in tail_dirs:
            src = fsio.join(tmp, d)
            if fs.exists(src) and not fs.exists(fsio.join(old, d)):
                fs.mv(src, fsio.join(old, d))
        fs.mv(old, root)
        if fs.exists(tmp):
            fs.rm(tmp, recursive=True)
        fs.rm(manifest)
        raise


def publish_compaction(
    root: str,
    write,
    tail_batches=(),
    horizon: int | None = None,
    extra: dict | None = None,
    on_rollback=None,
):
    """Run the publish protocol (module docstring) for the log at URL
    ``root`` and return what ``write(tmp_url)`` returns.
    ``tail_batches``: the live batch ids the fold left alone (their
    partition dirs are renamed in untouched); ``horizon``: the highest
    batch the fold finalizes (None: this log keeps no horizon);
    ``extra``: manifest tag; ``on_rollback``: called once a failed swap
    has restored the old tree and horizon."""
    fs, p = compaction_fs(root)
    tmp_url = f"{root.rstrip('/')}__compact_{uuid.uuid4().hex}"
    tmp = fsio.url_to_fs(tmp_url)[1]
    try:
        out = write(tmp_url)
    except BaseException:
        if fs.exists(tmp):
            fs.rm(tmp, recursive=True)
        raise
    if horizon is not None:
        prev_horizon = compaction_horizon(fs, p)
        _write_horizon(fs, p, max(horizon, prev_horizon or horizon))
    try:
        swap_in_compacted(
            fs, p, tmp, [batch_dir(b) for b in tail_batches], extra
        )
    except BaseException:
        if horizon is not None:
            _write_horizon(fs, p, prev_horizon)
        if on_rollback is not None:
            on_rollback()
        raise
    fs.rm(_old_compact(p), recursive=True)
    fs.rm(compaction_manifest(p))
    return out


def compact_index_history(
    spark: SparkSession,
    postings_path: str,
    upto_batch: int,
    partition_cols: tuple[str, ...] = (),
    shuffle_partitions: int = 1,
) -> dict:
    """Merge ``batch_id <= upto_batch`` partitions into one
    ``batch_id=upto_batch`` set; later batches pass through unchanged —
    as BYTES, not just as rows: only the head is read (partition-pruned
    scan) and rewritten, the tail partition dirs are renamed into the
    new root untouched. Cost is O(head), not O(index).

    ``partition_cols``: the sub-partition columns under batch_id —
    ("band",) for the MinHash index, ("tb",) for text postings,
    ("cent_id",) for IVF postings, () for winnow postings / doclen.

    Returns {batches_before, batches_after, files_before, files_after}.
    """
    fs, p = compaction_fs(postings_path)
    files_before = sum(1 for f in fs.find(p) if f.endswith(".parquet"))
    batches = list_batches(postings_path)

    head = (
        spark.read.option("mergeSchema", "true")
        .parquet(postings_path)
        # partition filter: the scan lists/reads ONLY head partitions
        .filter(F.col("batch_id") <= upto_batch)
        .withColumn("batch_id", F.lit(upto_batch))
    )
    parts = ["batch_id", *partition_cols]
    # repartition(n, cols) HASH-partitions by cols: all rows of one
    # (batch_id, band/tb/cent_id) combo land in a single task, so each
    # hive partition dir gets exactly one file regardless of n — n only
    # spreads DISTINCT combos across tasks (hence the name: it is the
    # shuffle width, not a files-per-dir knob).
    publish_compaction(
        postings_path,
        lambda tmp_url: (
            head.repartition(
                max(shuffle_partitions, 1), *[F.col(c) for c in parts]
            )
            .write.partitionBy(*parts)
            .mode("overwrite")
            .parquet(tmp_url)
        ),
        [b for b in batches if b > upto_batch],
        horizon=upto_batch,
    )

    return {
        "batches_before": len(batches),
        "batches_after": len(list_batches(postings_path)),
        "files_before": files_before,
        "files_after": sum(
            1 for f in fs.find(p) if f.endswith(".parquet")
        ),
    }


# ---------------------------------------------------------------------------
# targeted deletion (right-to-be-forgotten)
# ---------------------------------------------------------------------------
def delete_from_postings(
    spark: SparkSession,
    postings_path: str,
    keys: list[int] | DataFrame,
    key_col: str = "doc_id",
    partition_cols: tuple[str, ...] = (),
) -> dict:
    """Remove every posting row whose ``key_col`` is in ``keys`` —
    the GDPR/right-to-be-forgotten primitive for the persisted indexes.

    ``keys`` is a driver-side list (the interactive/CLI shape) OR a
    DataFrame with a ``key_col`` column (the CDC-sync shape) — a
    changelog-sized key set stays distributed end-to-end instead of
    round-tripping through a Python list on the driver.

    Partition-scoped, never a full rewrite: one partition-pruned probe
    finds the (batch_id, band/tb/cent_id) partitions that actually
    contain the keys, ONLY those partitions are rewritten (dynamic
    overwrite), and partitions left EMPTY by the deletion are removed
    explicitly — dynamic overwrite only replaces partitions present in
    the written data, so an all-rows-deleted partition would otherwise
    silently keep its old files (the failure this function exists to
    prevent). At 100 TB a deletion touches O(partitions containing the
    keys), not O(index).

    Crash contract: survivors are rewritten BEFORE empty partitions are
    removed; a crash in between leaves only already-emptied partitions'
    stale files, and a RERUN of the same call finishes the job — the
    operation is idempotent (rerunning after completion is a no-op).

    Returns {rows_deleted, partitions_rewritten, partitions_removed}.
    """
    fs, p = fsio.url_to_fs(postings_path)
    parts = ["batch_id", *partition_cols]
    posts = spark.read.parquet(postings_path)
    # cast probe keys to the LOG's own key dtype, not a hard-coded
    # bigint: a string identity column would otherwise cast to all-NULL
    # and the semi/anti joins would silently delete nothing (round-15
    # close review) — and refuse loudly if any key fails the cast, since
    # an unparseable key would silently survive the deletion
    key_type = dict(posts.dtypes)[key_col]
    if isinstance(keys, DataFrame):
        # size unknown (could be a 10M-row changelog): no broadcast
        # hint — AQE picks broadcast for small key sets and falls back
        # to a shuffle join instead of OOMing the driver on big ones
        # (try_cast, not cast: ANSI mode would throw a raw
        # NumberFormatException mid-job; the NULL guard below turns a
        # malformed key into the explicit refusal instead)
        ids = keys.select(
            F.col(key_col).try_cast(key_type).alias(key_col)
        ).distinct()
        ids_hinted = ids
    else:
        ids = spark.createDataFrame([(k,) for k in keys]).toDF(
            key_col
        ).select(
            F.col(key_col).try_cast(key_type).alias(key_col)
        ).distinct()
        ids_hinted = F.broadcast(ids)
    n_uncastable = ids.filter(F.col(key_col).isNull()).count()
    if n_uncastable:
        raise ValueError(
            f"{n_uncastable} deletion key(s) are NULL after casting to "
            f"{key_col}'s type {key_type!r} — wrong key column, or keys "
            "that can never match a posting; they would silently "
            "survive the deletion"
        )

    # bounded collect: one row per affected hive partition
    affected = [
        tuple(r)
        for r in posts.join(ids_hinted, key_col, "left_semi")
        .select(*parts)
        .distinct()
        .collect()
    ]
    if not affected:
        return {
            "rows_deleted": 0,
            "partitions_rewritten": 0,
            "partitions_removed": 0,
        }

    # static per-partition predicate -> parquet partition pruning: only
    # the affected partitions are read back for the rewrite
    combo_pred = None
    for combo in affected:
        pred = F.lit(True)
        for col, val in zip(parts, combo):
            pred = pred & (F.col(col) == F.lit(val))
        combo_pred = pred if combo_pred is None else (combo_pred | pred)

    scoped = posts.filter(combo_pred)
    n_before = scoped.count()
    survivors = scoped.join(ids_hinted, key_col, "left_anti")
    # cut lineage so the overwrite below cannot race its own source scan
    survivors = survivors.localCheckpoint()
    n_after = survivors.count()

    kept_combos = {
        tuple(r) for r in survivors.select(*parts).distinct().collect()
    }
    if kept_combos:
        (
            survivors.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*parts)
            .parquet(postings_path)
        )
    removed = 0
    for combo in affected:
        if tuple(combo) in kept_combos:
            continue
        sub = "/".join(
            f"{col}={val}" for col, val in zip(parts, combo)
        )
        dirpath = f"{p.rstrip('/')}/{sub}"
        if fs.exists(dirpath):
            fs.rm(dirpath, recursive=True)
            removed += 1
    return {
        "rows_deleted": n_before - n_after,
        "partitions_rewritten": len(kept_combos),
        "partitions_removed": removed,
    }


def delete_docs_minhash(
    spark, index_dir: str, doc_ids: "list[int] | DataFrame"
) -> dict:
    """Forget documents in a MinHash band index: postings-only (banding
    meta and other batches untouched)."""
    from doc2dataset_spark.operators import minhash_index as mi

    return delete_from_postings(
        spark, mi._bands_path(index_dir), doc_ids,
        key_col="doc_id", partition_cols=("band",),
    )


def delete_docs_winnow(
    spark, index_dir: str, doc_ids: "list[int] | DataFrame"
) -> dict:
    """Forget documents in a winnowing fingerprint index. Document
    frequency needs no fixup: df is derived from the postings at serve
    time (winnow_index module docstring), so it is consistent the moment
    the rows are gone."""
    return delete_from_postings(
        spark, postings_path(index_dir), doc_ids,
        key_col="doc_id", partition_cols=(),
    )


def delete_docs_text(
    spark, index_dir: str, doc_ids: "list[int] | DataFrame"
) -> dict:
    """Forget documents in the inverted text index: postings AND doclen
    rows, then a stats refresh — BM25's df is serve-time-derived from
    postings, but n/avgdl are persisted aggregates of doclen and MUST be
    recomputed or every surviving score silently drifts."""
    from doc2dataset_spark.operators import text_index as ti

    out = delete_from_postings(
        spark, postings_path(index_dir), doc_ids,
        key_col="doc_id", partition_cols=("tb",),
    )
    dl = delete_from_postings(
        spark, ti._doclen_path(index_dir), doc_ids,
        key_col="doc_id", partition_cols=(),
    )
    ti.refresh_index_stats(spark, index_dir)
    out["doclen_rows_deleted"] = dl["rows_deleted"]
    return out


def delete_vecs_ivf(
    spark, index_dir: str, vec_ids: "list[int] | DataFrame"
) -> dict:
    """Forget vectors in an IVF index: cell postings only. The centroid
    codebook is FROZEN state (quantization geometry, not user data) and
    is deliberately untouched — deleting a vector must not re-train the
    index, or every other vector's cell assignment could shift."""
    return delete_from_postings(
        spark, postings_path(index_dir), vec_ids,
        key_col="vec_id", partition_cols=("cent_id",),
    )


# ---------------------------------------------------------------------------
# CDC-driven index synchronization
# ---------------------------------------------------------------------------
def sync_text_index_cdc(
    spark: SparkSession,
    index_dir: str,
    changelog: "DataFrame",
    batch_id: int,
) -> dict:
    """Apply one CDC changelog batch to the inverted text index:
    ``changelog`` is (doc_id, text, op) with op in {'upsert', 'delete'}
    — the merge_cdc_apply contract, pointed at an INDEX instead of a
    table. An upsert of an existing doc is delete + re-add (its old
    postings are invalidated by the text change, not amendable); a
    delete is the right-to-be-forgotten path; a brand-new doc is a plain
    append. All three reduce to the two verbs this module already has:

    1. delete_docs_text(all changelog doc_ids) — removes every touched
       doc's postings + doclen rows, partition-scoped (a no-op for
       brand-new ids);
    2. append_to_text_index(upsert rows, batch_id) — lands the new text
       under this batch's partitions and refreshes n/avgdl.

    The composed result is equality to an index built on the
    post-changelog corpus (pytest). NOT idempotent under replay the way
    a plain append is: step 1 mutates prior batches' partitions, so a
    crash between the steps must be rerun from step 1 — both steps are
    individually idempotent, and rerunning the pair converges.

    Returns {n_deleted_rows, n_upserts, n_deletes}.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    from doc2dataset_spark.operators.text_index import append_to_text_index

    rows = changelog.select("doc_id", "text", "op").localCheckpoint()
    # the changelog's key set stays a DataFrame end-to-end: a 10M-row
    # upsert batch must not materialize 10M ids on the driver
    stats = delete_docs_text(spark, index_dir, rows.select("doc_id"))
    ups = _surviving_upserts(rows)
    n_ups = ups.count()
    if n_ups:
        append_to_text_index(spark, ups, index_dir, batch_id=batch_id)
    # else: deletes-only changelog — the doclen-derived stats were
    # already refreshed inside delete_docs_text
    return {
        "n_deleted_rows": stats["rows_deleted"],
        "n_upserts": n_ups,
        "n_deletes": rows.filter(F.col("op") == "delete").count(),
    }


def _surviving_upserts(rows):
    """Upsert rows minus any doc the SAME changelog also deletes —
    deletes win over updates (the merge_cdc_apply precedence this sync
    implements); without the anti-join, an upsert would resurrect a doc
    deleted in the same batch."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    dels = rows.filter(F.col("op") == "delete").select("doc_id")
    return (
        rows.filter(F.col("op") == "upsert")
        .join(dels, "doc_id", "left_anti")
        .select("doc_id", "text")
    )


def sync_minhash_index_cdc(
    spark: SparkSession,
    index_dir: str,
    changelog: "DataFrame",
    batch_id: int,
) -> dict:
    """sync_text_index_cdc for the MinHash band index: delete every
    touched doc's band postings, then band + append the upsert rows as
    this batch's partition. No derived state to refresh (banding meta is
    frozen; df-style stats don't exist here). Same crash contract:
    rerun the pair to converge."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from doc2dataset_spark.operators.minhash_index import (
        append_minhash_batch,
    )

    rows = changelog.select("doc_id", "text", "op").localCheckpoint()
    stats = delete_docs_minhash(spark, index_dir, rows.select("doc_id"))
    ups = _surviving_upserts(rows)
    n_ups = ups.count()
    if n_ups:
        append_minhash_batch(spark, ups, index_dir, batch_id=batch_id)
    return {
        "n_deleted_rows": stats["rows_deleted"],
        "n_upserts": n_ups,
        "n_deletes": rows.filter(F.col("op") == "delete").count(),
    }
