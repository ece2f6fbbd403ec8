"""The shared micro-batch runner (streaming/util.run_batchwise).

1. Fresh-checkpoint replay: a first run takes a 3-file source as 3
   micro-batches, then a replay with a lost checkpoint takes the same
   files as ONE batch into the same output dirs. After the replay no
   partition above the replay's max batch id may survive, and the
   served doc-id sets must equal the first run's — for curate, neardup
   and the update-mode upsert sink.
2. One wiring: outside ``run_batchwise`` no package module spells the
   micro-batch sink wiring; outside the batch-log layer
   (operators/time_travel.py) no module spells a ``batch_id=``
   partition or lands one with the dynamic-overwrite option, which only
   the sink writer and ``delete_from_postings`` share; only the landing
   records a landing time; only an index family's append spells its
   sub-partition columns; and the retired private listing / snapshot
   helpers are spelled nowhere (code only; docstrings and comments are
   free to name them).
"""

from __future__ import annotations

import ast
import os
import time
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from doc2dataset_spark.queries.curation_extras import gopher_flags
from doc2dataset_spark.session import load_table
from doc2dataset_spark.streaming.curate import run_curate_stream
from doc2dataset_spark.streaming.events import run_foreach_batch_upsert
from doc2dataset_spark.streaming.neardup import run_incremental_neardup

PKG = Path(__file__).resolve().parent.parent / "doc2dataset_spark"
N_DOCS = 120


def _write_files(root: Path, parts: list[pd.DataFrame]) -> str:
    """One parquet file per part, modification times in part order (the
    file source's arrival order)."""
    now = time.time()
    for i, part in enumerate(parts):
        p = root / f"b{i}.parquet"
        part.to_parquet(p.as_posix(), index=False)
        os.utime(p, (now + i, now + i))
    return root.as_posix()


@pytest.fixture(scope="module")
def doc_source(spark, sf_dir, tmp_path_factory):
    """The first N_DOCS documents in doc_id order as 3 files; the third
    also replants the text of the first document that passes the quality
    gate under a fresh doc_id, so both the digest directory and the band
    directory must catch a cross-batch duplicate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pdf = (
        docs.orderBy("doc_id").limit(N_DOCS).toPandas()
        .reset_index(drop=True)
    )
    cut1, cut2 = N_DOCS // 3, 2 * N_DOCS // 3
    donor = gopher_flags(docs).filter("keep").agg(F.min("doc_id")).first()[0]
    assert donor in set(pdf.doc_id.iloc[:cut1])
    clone = pd.DataFrame(
        {
            "doc_id": [int(pdf.doc_id.max()) + 1],
            "text": [pdf.text[pdf.doc_id == donor].iloc[0]],
        }
    )
    clone["doc_id"] = clone["doc_id"].astype(pdf.doc_id.dtype)
    parts = [
        pdf.iloc[:cut1],
        pdf.iloc[cut1:cut2],
        pd.concat([pdf.iloc[cut2:], clone], ignore_index=True),
    ]
    src = _write_files(tmp_path_factory.mktemp("batchwise_docs"), parts)
    return src, docs.schema, N_DOCS + 1


def _stream(spark, src, schema, files_per_trigger):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src)
    )


def _batch_ids(root: str, prefix: str) -> list[int]:
    return sorted(
        int(name[len(prefix):])
        for name in os.listdir(root)
        if name.startswith(prefix)
    )


def _first_run_then_fresh_replay(spark, src, schema, run, tmp_path):
    """Run twice into the same output dirs: 3 batches, then a replay
    from a NEW checkpoint as 1 batch. Returns the served rows after each
    run, and the output and state dirs."""
    out = (tmp_path / "out").as_posix()
    state = (tmp_path / "state").as_posix()
    ck1, ck2 = (tmp_path / "ck1").as_posix(), (tmp_path / "ck2").as_posix()
    run(_stream(spark, src, schema, 1), state, out, ck1)
    first = spark.read.parquet(out).collect()
    assert _batch_ids(out, "batch=") == [0, 1, 2]
    run(_stream(spark, src, schema, 3), state, out, ck2)
    replay = spark.read.parquet(out).collect()
    return first, replay, out, state


def _ids(rows, flag):
    return sorted(r.doc_id for r in rows if r[flag])


def test_curate_fresh_checkpoint_replay_sweeps_stale_batches(
    spark, doc_source, tmp_path
):
    src, schema, n = doc_source
    first, replay, out, state = _first_run_then_fresh_replay(
        spark, src, schema, run_curate_stream, tmp_path
    )
    assert _batch_ids(out, "batch=") == [0]
    assert _batch_ids(state, "batch=") == [0]
    assert len(replay) == len(first) == n
    assert _ids(first, "accepted")  # sanity: the gate accepts something
    assert _ids(replay, "accepted") == _ids(first, "accepted")
    # the replanted text is a duplicate in both incarnations
    assert _ids(replay, "is_dup") == _ids(first, "is_dup") != []


def test_neardup_fresh_checkpoint_replay_matches_only_prior_batches(
    spark, doc_source, tmp_path
):
    src, schema, n = doc_source
    first, replay, out, state = _first_run_then_fresh_replay(
        spark, src, schema, run_incremental_neardup, tmp_path
    )
    assert _batch_ids(out, "batch=") == [0]
    assert _batch_ids(state, "batch=") == [0]
    assert len(replay) == len(first) == n
    assert _ids(first, "is_neardup")  # the replanted clone at least
    assert _ids(replay, "is_neardup") == _ids(first, "is_neardup")


def test_upsert_fresh_checkpoint_replay_sweeps_stale_batches(
    spark, tmp_path
):
    """Update-mode aggregation output, one ``batch_id=<n>`` partition
    per micro-batch: after a fewer-batch fresh replay, the latest row
    per key is the final count and nothing above batch 0 survives."""
    parts = [
        pd.DataFrame({"k": list("aab")}),
        pd.DataFrame({"k": list("bc")}),
        pd.DataFrame({"k": list("acc")}),
    ]
    (tmp_path / "src").mkdir()
    src = _write_files(tmp_path / "src", parts)
    schema = spark.createDataFrame(parts[0]).schema
    out = (tmp_path / "out").as_posix()

    def served():
        rows = spark.read.parquet(out).collect()
        latest = {}
        for r in sorted(rows, key=lambda r: r.batch_id):
            latest[r.k] = r.n
        return latest

    def run(files_per_trigger, ck):
        agg = (
            _stream(spark, src, schema, files_per_trigger)
            .groupBy("k")
            .agg(F.count("*").alias("n"))
        )
        run_foreach_batch_upsert(spark, agg, out, (tmp_path / ck).as_posix())

    run(1, "ck1")
    assert _batch_ids(out, "batch_id=") == [0, 1, 2]
    first = served()
    assert first == {"a": 3, "b": 2, "c": 3}
    run(3, "ck2")
    assert _batch_ids(out, "batch_id=") == [0]
    assert served() == first


# ---------------------------------------------------------------------------
# one wiring
# ---------------------------------------------------------------------------


def _spellings(word: str, root: Path) -> set[str]:
    """``<module>:<top-level function>`` for every code spelling of
    ``word`` under root: identifiers, attribute names, keyword names and
    non-docstring string literals. Comments never reach the AST."""
    hits = set()
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        docstrings = {
            id(n.value)
            for n in ast.walk(tree)
            if isinstance(n, ast.Expr)
            and isinstance(n.value, ast.Constant)
            and isinstance(n.value.value, str)
        }
        rel = path.relative_to(PKG).as_posix()
        for top in tree.body:
            scope = getattr(top, "name", "<module>")
            for n in ast.walk(top):
                spelled = (
                    (isinstance(n, ast.Name) and n.id == word)
                    or (isinstance(n, ast.Attribute) and n.attr == word)
                    or (isinstance(n, ast.keyword) and n.arg == word)
                    or (
                        isinstance(n, ast.Constant)
                        and isinstance(n.value, str)
                        and id(n) not in docstrings
                        and word in n.value
                    )
                )
                if spelled:
                    hits.add(f"{rel}:{scope}")
    return hits


def test_micro_batch_wiring_lives_in_run_batchwise():
    runner = {"streaming/util.py:run_batchwise"}
    # word -> the only places the package may spell it in code
    cases = {
        "foreachBatch": runner,
        "checkpointLocation": runner,
        "writeStream": runner | {"streaming/events.py:run_to_memory"},
        # the batch-log landing, the sink writer and the deletion
        # rewrite of several partitions at once
        "partitionOverwriteMode": {
            "operators/time_travel.py:land_batch",
            "operators/index_maintenance.py:delete_from_postings",
            "sinks/writer.py:write_parquet",
            "sinks/writer.py:write_orc",
            "sinks/writer.py:_write_meta_sidecar",
        },
        # no module but the batch-log layer spells a batch partition
        "batch_id=": {"operators/time_travel.py:<module>"},
        # the retired private listing and snapshot helpers
        "_batch_of": set(),
        "_latest_snapshot_batch": set(),
        # landing times are recorded by the landing alone, and a rebuild
        # forgets them through drop_log alone
        "record_batch_time": {"operators/time_travel.py:land_batch"},
        "reset_batch_times": set(),
        # a family's sub-partition layout is spelled in its append only:
        # builds append batch 0, compaction and deletion read the layout
        "partition_cols": {
            "operators/time_travel.py:land_batch",
            "operators/vector_index.py:append_to_ivf_index",
            "operators/text_index.py:_write_index",
            "operators/minhash_index.py:append_minhash_batch",
        },
    }
    for word, allowed in cases.items():
        assert _spellings(word, PKG) == allowed, word
