"""URL-aware filesystem routing for sinks, manifests, and resume state.

The reference opens every output through fsspec (`writer.py:19-20` —
``fsspec.core.url_to_fs(...)`` then ``fs.open``) and absolutizes paths up
front (`main.py:110-117`), so ``output_folder="s3://bucket/run1"`` just
works. This module gives the Spark port the same property without making
fsspec a hard dependency (it is not in this container):

- plain paths and ``file://`` → a stdlib-backed LocalFS
- ``memory://``              → an in-process object store (hermetic tests;
                               per-process, like fsspec's MemoryFileSystem)
- anything else (s3, gs, …)  → real fsspec, if importable, else a clear
                               error naming the missing extra

All three expose the *fsspec method surface* (``open / exists / makedirs /
rm / mv / find``), so call sites are identical whether the object came from
here or from ``fsspec.core.url_to_fs`` — a deployment with fsspec+s3fs
installed gets S3 for free with no code change.

Scale note: Spark's own DataFrame writers reach remote stores through the
Hadoop FS layer (file/hdfs/s3a/…) and stay the fast path for bulk data;
this module is for the *driver- and executor-side Python IO* — sample
files, tars, tfrecords, the ``_stats`` manifest — which Hadoop never sees.
"""

from __future__ import annotations

import io
import os
import posixpath
import shutil
import threading

# schemes Spark/Hadoop handle natively: bulk DataFrame reads/writes should
# go through Spark for these, and through arrow-over-fs otherwise
SPARK_NATIVE_SCHEMES = ("", "file", "hdfs", "s3a", "wasbs", "abfss", "gs")


def scheme_of(path: str) -> str:
    return path.split("://", 1)[0] if "://" in path else ""


def is_spark_native(path: str) -> bool:
    return scheme_of(path) in SPARK_NATIVE_SCHEMES


def join(base: str, *parts: str) -> str:
    """Path join that is URL-safe: posix separators for every backend
    (this engine targets linux containers and object stores)."""
    return posixpath.join(base, *parts)


def absolutize(path: str) -> str:
    """Reference `main.py:110-117`: local relative paths become absolute so
    executors resolve them identically; URLs pass through untouched."""
    if "://" in path:
        return path
    return os.path.abspath(path)


class LocalFS:
    """stdlib filesystem with the fsspec method surface."""

    def _strip(self, path: str) -> str:
        return path[len("file://"):] if path.startswith("file://") else path

    def open(self, path: str, mode: str = "rb"):
        return open(self._strip(path), mode)

    def exists(self, path: str) -> bool:
        return os.path.exists(self._strip(path))

    def makedirs(self, path: str, exist_ok: bool = True) -> None:
        os.makedirs(self._strip(path), exist_ok=exist_ok)

    def rm(self, path: str, recursive: bool = False) -> None:
        p = self._strip(path)
        if recursive and os.path.isdir(p):
            shutil.rmtree(p)
        else:
            os.unlink(p)

    def mv(self, src: str, dst: str) -> None:
        os.replace(self._strip(src), self._strip(dst))

    def find(self, path: str) -> list[str]:
        root = self._strip(path)
        out: list[str] = []
        for d, _, files in os.walk(root):
            out.extend(os.path.join(d, f) for f in files)
        return sorted(out)

    def ls(self, path: str, detail: bool = False) -> list[str]:
        # fsspec surface: immediate children as full paths (detail=False)
        p = self._strip(path)
        return sorted(os.path.join(p, e) for e in os.listdir(p))


class _MemFile(io.BytesIO):
    def __init__(self, store: dict, key: str):
        super().__init__()
        self._store, self._key = store, key

    def close(self) -> None:
        if not self.closed:
            self._store[self._key] = self.getvalue()
        super().close()


class MemoryFS:
    """In-process object store with object-store semantics: no real
    directories (makedirs is a no-op, like S3), rename is key rewrite.
    Per-process, exactly like fsspec's MemoryFileSystem — executor writes
    are not visible to the driver, so tests route executor-side sinks
    through file:// and driver-side state (manifest/resume) through here."""

    _store: dict[str, bytes] = {}
    _lock = threading.Lock()

    @staticmethod
    def _key(path: str) -> str:
        return path[len("memory://"):] if path.startswith("memory://") else path

    def open(self, path: str, mode: str = "rb"):
        k = self._key(path)
        if "r" in mode:
            with self._lock:
                try:
                    return io.BytesIO(self._store[k])
                except KeyError:
                    raise FileNotFoundError(path) from None
        return _MemFile(self._store, k)

    def exists(self, path: str) -> bool:
        k = self._key(path)
        with self._lock:
            return k in self._store or any(
                s.startswith(k.rstrip("/") + "/") for s in self._store
            )

    def makedirs(self, path: str, exist_ok: bool = True) -> None:
        pass  # object stores have no directories

    def rm(self, path: str, recursive: bool = False) -> None:
        k = self._key(path)
        with self._lock:
            victims = [
                s for s in self._store
                if s == k or (recursive and s.startswith(k.rstrip("/") + "/"))
            ]
            if not victims:
                raise FileNotFoundError(path)
            for s in victims:
                del self._store[s]

    def mv(self, src: str, dst: str) -> None:
        with self._lock:
            try:
                self._store[self._key(dst)] = self._store.pop(self._key(src))
            except KeyError:
                # fsspec error contract: missing source is FileNotFoundError
                raise FileNotFoundError(src) from None

    def find(self, path: str) -> list[str]:
        k = self._key(path).rstrip("/")
        with self._lock:
            return sorted(
                "memory://" + s
                for s in self._store
                if s == k or s.startswith(k + "/")
            )

    def ls(self, path: str, detail: bool = False) -> list[str]:
        # fsspec surface: immediate children (keys and pseudo-dirs)
        # derived from the key store, full-path form like LocalFS.ls
        k = self._key(path).rstrip("/")
        with self._lock:
            children = set()
            for s in self._store:
                if s == k:
                    children.add(s)
                elif s.startswith(k + "/"):
                    children.add(k + "/" + s[len(k) + 1:].split("/", 1)[0])
        return sorted("memory://" + c for c in children)


_LOCAL = LocalFS()
_MEMORY = MemoryFS()


# Hadoop-flavored schemes whose fsspec protocol is spelled differently:
# Spark reads wasbs:// natively, but fsspec/adlfs registers only abfs/az,
# so driver-side ops (exists/rm for overwrite/resume) must translate or
# they fail even with adlfs installed. s3a is registered by fsspec itself.
_FSSPEC_SCHEME_ALIASES = {"wasb": "abfs", "wasbs": "abfs"}


def url_to_fs(path: str):
    """(filesystem, path) for any URL — the fsspec entry point's shape
    (reference `writer.py:19-20`). Unknown schemes defer to real fsspec."""
    scheme = scheme_of(path)
    if scheme in ("", "file"):
        return _LOCAL, path
    if scheme == "memory":
        return _MEMORY, path
    fsspec_path = path
    if scheme in _FSSPEC_SCHEME_ALIASES:
        fsspec_path = _FSSPEC_SCHEME_ALIASES[scheme] + path[len(scheme):]
    try:
        from fsspec.core import url_to_fs as _fsspec_url_to_fs
    except ImportError as exc:  # pragma: no cover - depends on container
        raise ValueError(
            f"output scheme {scheme!r} needs fsspec (pip install "
            f"fsspec[{scheme}]) — only local/file/memory are built in"
        ) from exc
    return _fsspec_url_to_fs(fsspec_path)


# ---------------------------------------------------------------------------
# small-parquet helpers for non-Hadoop URLs (the _stats manifest contract:
# per-shard counter rows, small by design — reference writes its stats
# JSON the same driver-side way, `writer.py:60-66`)
# ---------------------------------------------------------------------------
def write_parquet_file(table, dir_path: str, filename: str) -> str:
    """Write one pyarrow Table as a parquet part file under dir_path.
    Arrow in/out (not pandas) so nested/map columns survive byte-exact —
    pair with DataFrame.toArrow() / spark.createDataFrame(table)."""
    import pyarrow.parquet as pq

    fs, _ = url_to_fs(dir_path)
    fs.makedirs(dir_path, exist_ok=True)
    target = join(dir_path, filename)
    with fs.open(target, "wb") as fh:
        pq.write_table(table, fh)
    return target


def read_parquet_dir(dir_path: str):
    """All parquet parts under dir_path as one pyarrow Table (None if
    the directory or any parts are absent)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs, _ = url_to_fs(dir_path)
    if not fs.exists(dir_path):
        return None
    parts = [p for p in fs.find(dir_path) if p.endswith(".parquet")]
    if not parts:
        return None
    tables = []
    for p in parts:
        with fs.open(p, "rb") as fh:
            tables.append(pq.read_table(fh))
    return pa.concat_tables(tables, promote_options="default")


def artifact_cache_dir(sf_dir: str, kind: str, table: str) -> str:
    """Deterministic per-corpus cache location for persisted artifacts
    (IVF postings, band index, fixed-point model): keyed by the absolute
    sf_dir AND the source table's (size, mtime_ns) so a regenerated
    corpus never serves a stale artifact. mtime_ns + size — not
    whole-second mtime — because a corpus regenerated within the same
    second (or with preserved mtimes but different bytes) must miss the
    cache; nanosecond stamps plus the byte count make a silent collision
    require an identical-length rewrite inside one filesystem timestamp
    quantum. Every query-side artifact cache keys through this one
    helper (IVF/band/winnow/text indexes, bucketed and partitioned
    table twins, models, logs)."""
    import hashlib
    import tempfile

    src = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(src)
        stamp = f"{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        stamp = "absent"
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{table}|{stamp}".encode()
    ).hexdigest()[:12]
    return posixpath.join(tempfile.gettempdir(), f"d2d_{kind}_cache_{key}")


def ensure_local_cache_dir(target: str, marker: str, build) -> str:
    """Build-once local cache with atomic publication.

    If ``target/marker`` exists, the cache is ready. Otherwise ``build``
    is invoked against a uuid-suffixed sibling, which is then atomically
    ``os.rename``d into place — two processes racing (e.g. bench and the
    correctness mirror sharing a /tmp index cache) each build privately
    and exactly one rename wins; the loser discards its copy. Local
    paths only (the caches live in tempdir by construction)."""
    import uuid as _uuid

    if os.path.exists(os.path.join(target, marker)):
        return target
    tmp = f"{target}.build-{_uuid.uuid4().hex}"
    build(tmp)
    try:
        os.rename(tmp, target)
    except OSError:
        # another builder won the race between our check and rename
        shutil.rmtree(tmp, ignore_errors=True)
    return target


def write_json_sidecar(fs, marker: str, payload: dict) -> None:
    """Persist a small JSON sidecar crash-safely: write a ``.tmp``
    sibling, then ``fs.mv`` it over the marker. ONE home for the idiom
    the landing-time manifest, the RTBF journal, and the compact-stats
    sidecar all share (round-15 close review), so the crash-safety
    reasoning lives once: atomicity is VERIFIED for LocalFileSystem
    (os.rename — readers see old or new, never a half-write); fsspec's
    generic mv is copy-then-delete, so on other backends a crash
    between the copy and the source delete can leave an orphaned
    ``.tmp`` sibling — inert garbage, because readers only open the
    marker and the next write truncates the orphan (open 'wb').
    Single-writer contract: each sidecar is written only by its own
    log's driver, one batch/request at a time."""
    import json

    tmp = f"{marker}.tmp"
    with fs.open(tmp, "wb") as fh:
        fh.write(json.dumps(payload).encode())
    fs.mv(tmp, marker)
