"""The compaction publish protocol (operators/index_maintenance.py module
docstring), pinned on tiny hand-built logs for four compactor families:
the horizon sidecar already reads ``upto`` when the publish rename is
attempted, a failed publish leaves the log byte-identical with the
horizon back at its prior value, a failed cleanup of ``__old_compact``
keeps the horizon (the log IS compacted) and leaves a manifest that
``recover_compaction`` finishes, a half-swapped root is refused by name,
and no module outside index_maintenance re-implements a piece of the
protocol."""

from __future__ import annotations

import inspect
import os
import pathlib
import re

import pytest

from doc2dataset_spark import fsio
from doc2dataset_spark.operators import index_maintenance as im
from doc2dataset_spark.operators.cluster_state import compact_labels
from doc2dataset_spark.sinks.maintenance import compact_parquet
from doc2dataset_spark.streaming import cdc
from tests.test_index_maintenance import file_inventory

_LOCAL = fsio.LocalFS()


def _write(spark, rows, schema, root):
    spark.createDataFrame(rows, schema).coalesce(1).write.partitionBy(
        "batch_id"
    ).parquet(root)


def _postings(spark, tmp_path):
    """Three winnow-shaped posting batches; a first compaction of batch
    0 leaves prior horizon 0, the compaction under test folds <= 1."""
    root = (tmp_path / "postings").as_posix()
    rows = [(d, d % 3) for d in range(12)]
    _write(spark, rows, "doc_id bigint, batch_id int", root)
    im.compact_index_history(spark, root, upto_batch=0)
    return root, lambda: im.compact_index_history(spark, root, 1), 0, 1


def _labels(spark, tmp_path):
    state = (tmp_path / "state").as_posix()
    root = os.path.join(state, "labels")
    rows = [(d, d - d % 2, d % 3) for d in range(12)]
    schema = "doc_id bigint, cluster_id bigint, batch_id int"
    _write(spark, rows, schema, root)
    compact_labels(spark, state, upto_batch=0)
    return root, lambda: compact_labels(spark, state, upto_batch=1), 0, 1


_CDC_SCHEMA = "doc_id bigint, op string, seq int, text string, batch_id int"
_CDC_ROWS = [
    (1, "upsert", 0, "a", 0),
    (2, "upsert", 0, "b", 0),
    (3, "upsert", 0, "c", 0),
    (2, "upsert", 0, "B", 1),
    (3, "delete", 1, None, 1),
    (4, "upsert", 0, "d", 2),
]


def _cdc(spark, tmp_path):
    root = (tmp_path / "cdc").as_posix()
    _write(spark, _CDC_ROWS, _CDC_SCHEMA, root)
    return root, lambda: cdc.cdc_compact(spark, root), None, 2


def _parquet(spark, tmp_path):
    root = (tmp_path / "flat").as_posix()
    spark.range(40).repartition(8).write.parquet(root)
    return root, lambda: compact_parquet(spark, root, 1 << 40), None, None


LOGS = {
    "compact_index_history": _postings,
    "compact_labels": _labels,
    "cdc_compact": _cdc,
    "compact_parquet": _parquet,
}


class FlakyFS(fsio.LocalFS):
    """Records the horizon at the publish rename (tmp -> root) and fails
    either that rename or the cleanup ``rm(__old_compact)``."""

    def __init__(self, root: str, fail: str):
        self.root, self.fail = root.rstrip("/"), fail
        self.horizon_at_publish = "publish never attempted"

    def mv(self, src, dst):
        if dst.rstrip("/") == self.root and "__compact_" in src:
            self.horizon_at_publish = im.compaction_horizon(self, self.root)
            if self.fail == "publish":
                raise OSError("injected: publish rename")
        super().mv(src, dst)

    def rm(self, path, recursive=False):
        if self.fail == "cleanup" and path.rstrip("/").endswith(
            "__old_compact"
        ):
            raise OSError("injected: cleanup rm(old)")
        super().rm(path, recursive)


def _compact_through(monkeypatch, root, compact, fail):
    flaky = FlakyFS(root, fail)
    real = fsio.url_to_fs
    monkeypatch.setattr(
        fsio,
        "url_to_fs",
        lambda p: (flaky, p) if p.rstrip("/") == root else real(p),
    )
    with pytest.raises(OSError, match="injected"):
        compact()
    monkeypatch.setattr(fsio, "url_to_fs", real)
    return flaky


@pytest.mark.parametrize("family", list(LOGS))
def test_failed_publish_restores_log_and_horizon(
    spark, tmp_path, monkeypatch, family
):
    root, compact, prior, upto = LOGS[family](spark, tmp_path)
    before = file_inventory(root)
    flaky = _compact_through(monkeypatch, root, compact, "publish")

    assert flaky.horizon_at_publish == upto
    assert file_inventory(root) == before
    assert im.compaction_horizon(_LOCAL, root) == prior
    # no tmp, __old_compact or manifest left beside the log
    assert not [
        d
        for d in os.listdir(tmp_path)
        if "__compact_" in d or d.endswith("__old_compact")
    ]


@pytest.mark.parametrize("family", list(LOGS))
def test_failed_cleanup_keeps_horizon_and_recovers(
    spark, tmp_path, monkeypatch, family
):
    root, compact, _, upto = LOGS[family](spark, tmp_path)
    _compact_through(monkeypatch, root, compact, "cleanup")

    assert im.compaction_horizon(_LOCAL, root) == upto
    assert os.path.exists(im.compaction_manifest(root))
    assert im.recover_compaction(root) == {"action": "finalized"}
    assert not os.path.exists(root + "__old_compact")


@pytest.mark.parametrize("family", list(LOGS))
def test_half_swapped_root_is_refused(spark, tmp_path, family):
    """A crash between the swap's renames leaves the root absent beside
    ``__old_compact``: the compactor must name recover_compaction, not
    fail on its own listing of the missing root."""
    root, compact, _, _ = LOGS[family](spark, tmp_path)
    os.rename(root, root + "__old_compact")
    with pytest.raises(RuntimeError, match="recover_compaction"):
        compact()


def test_cdc_compact_on_file_url(spark, tmp_path):
    root = (tmp_path / "cdc").as_posix()
    _write(spark, _CDC_ROWS, _CDC_SCHEMA, root)
    url = "file://" + root
    before = sorted(map(tuple, cdc.cdc_serve(spark, url).collect()))

    assert cdc.cdc_compact(spark, url) == {"rows": 3, "horizon": 2}
    assert sorted(map(tuple, cdc.cdc_serve(spark, url).collect())) == before
    assert im.compaction_horizon(_LOCAL, root) == 2


def test_protocol_pieces_live_only_in_index_maintenance():
    pkg = pathlib.Path(im.__file__).parents[1]
    private = re.compile(
        r"\b(_write_horizon|_restore_horizon|swap_in_compacted)\b"
        r"|__compact_(?!stats)"
    )
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "index_maintenance.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if private.search(line)
    ]
    assert offenders == []
    assert not re.search(
        r"\bos\.rename\b|\bshutil\b", inspect.getsource(cdc.cdc_compact)
    )
