"""Persisted-artifact caches key on the source table's bytes, not its
whole-second mtime.

Each index- or twin-serving query builds its artifact once into a temp
dir named by ``fsio.artifact_cache_dir`` (absolute sf_dir + table size +
mtime_ns). A corpus table rewritten with different bytes inside the same
wall-clock second must get a new dir; otherwise the query silently
serves an artifact built from the old corpus."""

from __future__ import annotations

import os
import types

import pytest

from doc2dataset_spark import fsio
from doc2dataset_spark.queries import (
    bucketed_join,
    dpp_join,
    pipeline_extras,
    search_extras,
)

_SECOND_NS = 1_700_000_000 * 1_000_000_000


class _Captured(Exception):
    pass


def _bucketed(monkeypatch, sf_dir):
    monkeypatch.setattr(bucketed_join, "load_table", lambda *a: None)
    fake = types.SimpleNamespace(
        catalog=types.SimpleNamespace(tableExists=lambda name: False)
    )
    bucketed_join._bucketed_table(fake, sf_dir, "lineitem", "l_orderkey")


# (table file the cache keys on, module whose ensure_local_cache_dir the
# call site uses, the call)
SITES = {
    "bucketed_join": ("lineitem", bucketed_join, _bucketed),
    "dpp_join": (
        "lineitem",
        dpp_join,
        lambda mp, sf: dpp_join.partitioned_lineitem(None, sf),
    ),
    "search_bm25_indexed": (
        "documents",
        fsio,
        lambda mp, sf: search_extras.search_bm25_indexed(None, sf),
    ),
    "curate_corpus_indexed": (
        "embeddings",
        fsio,
        lambda mp, sf: pipeline_extras.curate_corpus_indexed(None, sf),
    ),
}


def _cache_dir(monkeypatch, site, sf_dir) -> str:
    _, module, call = SITES[site]
    seen = []

    def capture(target, marker, build):
        seen.append(target)
        raise _Captured

    monkeypatch.setattr(module, "ensure_local_cache_dir", capture)
    with pytest.raises(_Captured):
        call(monkeypatch, sf_dir)
    return seen[0]


def _write(path, payload: bytes, mtime_ns: int) -> None:
    with open(path, "wb") as fh:
        fh.write(payload)
    os.utime(path, ns=(mtime_ns, mtime_ns))


@pytest.mark.parametrize("site", sorted(SITES))
def test_same_second_rewrite_misses_the_cache(monkeypatch, tmp_path, site):
    table = tmp_path / f"{SITES[site][0]}.parquet"
    _write(table, b"old corpus", _SECOND_NS + 100_000_000)
    before = _cache_dir(monkeypatch, site, str(tmp_path))
    assert before == _cache_dir(monkeypatch, site, str(tmp_path))

    _write(table, b"regenerated corpus", _SECOND_NS + 900_000_000)
    assert int(os.path.getmtime(table)) == _SECOND_NS // 1_000_000_000
    after = _cache_dir(monkeypatch, site, str(tmp_path))
    assert after != before
