"""Exact O(n²) embedding pair scans as vectorized NumPy kernels.

The kernel family, stated once. Every public kernel runs one chunked
scan (``_scan``) over a block pair — A rows against B rows — under one
of three pair modes, one of two keep rules and one of two task shapes:

- pair modes: ``asc`` (a block against itself, unordered pairs kept as
  ``ua < ub``), ``all`` (two disjoint blocks, every pair), ``ne``
  (directed pairs ``qid != cid``);
- keep rules: threshold (``cos >= t``, emitted as ``(min, max, cos)``)
  or per-qid top-k under ``cos DESC, cid ASC`` (an unordered pair feeds
  both endpoints' lists);
- task shapes: one task per group (``groupBy().applyInPandas``) or
  tiled (``_tiled``: ids hashed into B blocks, each side replicated to
  its tiles through a broadcast tile frame, one
  ``groupBy(keys, ba, bb).cogroup(...)`` group per tile — per-task
  memory is two n/B blocks, never a full side).

=========================  =========  =========  =======================
kernel                     pairs      keep       shape
=========================  =========  =========  =======================
cosine_pairs_blocked       asc / all  threshold  tiled triangle
topk_edges_blocked(_dual)  asc / all  top-k      tiled triangle
cell_pairs_blocked         asc        threshold  per cell; B>1 the
                                                 tiled triangle per cell
group_topk_blocked         ne         top-k      per group; B>1
                                                 cogroup_topk of itself
cogroup_topk_blocked       ne         top-k      per key; B>1 the full
                                                 B×B tile grid per key
=========================  =========  =========  =======================

Why NumPy: the pair kernels used to evaluate the cosine as a JVM
higher-order fold (``queries.dedup.spark_dot`` —
``F.aggregate(F.zip_with(x, y, *), 0.0, +)``) on every row of the joined
pair stream. ArrayAggregate/ZipWith are CodegenFallback, so each of the
O(n²) pairs paid ~2·d interpreted lambda dispatches. Here each vector
crosses the Python boundary once per group or tile it belongs to, and
only the surviving rows (threshold hits, per-qid top-k) come back. Two
rejected alternatives (OPTIMIZATION_r15.md): a codegen'd 64-term
expression chain blows ``spark.sql.codegen.hugeMethodLimit`` (3-4×
slower); a per-pair Arrow ``pandas_udf`` ships the O(n²) pair stream
and loses ~30% to the JVM fold.

Bit-exactness: the fold order of ``spark_dot`` is
``((0.0 + x0*y0) + x1*y1) + ... + x{d-1}*y{d-1}``. ``pair_cos_matrix``
accumulates ``C += A[:, j, None] * B[None, :, j]`` column by column from
``C = 0.0``, the same multiplies and additions in the same per-pair
sequence (including the ``0.0 + z0`` first step). Verified: exact
int64-bit equality of every output double vs the HOF-fold shape at
sf0.1, plus the DuckDB oracle mirrors (list_dot_product).

The n-sized (not n²) fold sites — unit normalization, per-component PCA
projection — keep the JVM fold: their element counts are linear and a
Python crossing would cost more than the interpreted eval saves.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

PAIRS = "va long, vb long, cos double"
CELL_PAIRS = "va long, vb long, cell long, cos double"
EDGES = "qid long, cid long, cos double"
DUAL_EDGES = "metric int, qid long, cid long, cos double"
_NP_DTYPES = {"int": "int32", "long": "int64", "double": "float64"}

# Per-task memory bound for the pair matrix: a scan never holds more
# than ~CHUNK_ELEMS doubles of C at once (128 MiB), processing the row
# side in chunks — this keeps the "per-task memory is two blocks"
# contract true when blocks are large: the O((n/B)²) pair space is
# *scanned* chunk by chunk, never materialized whole. At the shipped SFs
# a block is a single chunk, so the arithmetic (and its fold order) is
# byte-for-byte the unchunked computation.
CHUNK_ELEMS = 1 << 24


def pair_cos_matrix(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(m,d) × (k,d) → (m,k) pair dot-product matrix with the EXACT
    sequential fold order of ``spark_dot`` (see module docstring)."""
    C = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    for j in range(A.shape[1]):
        C += A[:, j][:, None] * B[:, j][None, :]
    return C


def _row_chunks(m: int, k: int, chunk_elems: int):
    step = max(1, chunk_elems // max(k, 1))
    for lo in range(0, m, step):
        yield lo, min(lo + step, m)


def _topk_select(qid, cid, cos, k):
    """Indices of the per-qid top-k under ``cos DESC, cid ASC`` -- exactly
    the old row_number window's order (cos bits are identical between
    both implementations, so ties resolve identically)."""
    order = np.lexsort((cid, -cos, qid))
    q = qid[order]
    new = np.empty(len(q), dtype=bool)
    new[0] = True
    new[1:] = q[1:] != q[:-1]
    starts = np.flatnonzero(new)
    sizes = np.diff(np.append(starts, len(q)))
    rank = np.arange(len(q)) - np.repeat(starts, sizes)
    return order[rank < k]


def _scan(ua, ub, A, B, pairs, ce, threshold=None, k=None):
    """The one pair scan: rows (ua, A) against columns (ub, B) under pair
    mode ``pairs`` (asc / all / ne, see module docstring), at most
    ``ce`` matrix elements per row chunk. With ``threshold``: the
    passing pairs as (min id, max id, cos). With ``k``: the per-qid
    top-k as (qid, cid, cos). None when nothing survives.

    Top-k is chunked losslessly: each chunk pre-selects its own per-qid
    top-k (row-side qids are complete within their chunk; column-side
    qids accumulate <= k per chunk) and a final pass re-selects from the
    survivors — per-subset top-k under a total order is a superset-safe
    prefilter, so winners and their order equal the unchunked
    selection."""
    parts = []
    for lo, hi in _row_chunks(len(ua), len(ub), ce):
        C = pair_cos_matrix(A[lo:hi], B)
        a = ua[lo:hi]
        if pairs == "asc":
            mask = a[:, None] < ub[None, :]
        elif pairs == "ne":
            mask = a[:, None] != ub[None, :]
        else:
            mask = np.ones(C.shape, dtype=bool)
        if threshold is not None:
            mask &= C >= threshold
        i, j = np.nonzero(mask)
        if len(i) == 0:
            continue
        x, y, c = a[i], ub[j], C[i, j]
        if k is None:
            parts.append((np.minimum(x, y), np.maximum(x, y), c))
            continue
        if pairs != "ne":
            # each unordered pair feeds BOTH endpoints' neighbor lists
            x, y = np.concatenate([x, y]), np.concatenate([y, x])
            c = np.concatenate([c, c])
        keep = _topk_select(x, y, c, k)
        parts.append((x[keep], y[keep], c[keep]))
    if not parts:
        return None
    x, y, c = (np.concatenate(p) for p in zip(*parts))
    if k is not None:
        keep = _topk_select(x, y, c, k)
        x, y, c = x[keep], y[keep], c[keep]
    return x, y, c


def _frame(schema: str, res=None, **const) -> pd.DataFrame:
    """A kernel's pandas output under its DDL ``schema``: a scan's
    (x, y, cos) arrays fill the schema's columns in order, except the
    columns named in ``const``, which repeat one value (const names the
    schema lacks are ignored). ``res=None`` is the empty frame — a group
    with nothing to emit must still return the declared dtypes."""
    cols = [f.split() for f in schema.split(",")]
    if res is None:
        return pd.DataFrame(
            {c: pd.Series([], dtype=_NP_DTYPES[t]) for c, t in cols}
        )
    n, arrays, out = len(res[0]), iter(res), {}
    for c, t in cols:
        if c in const:
            out[c] = np.full(n, const[c], dtype=_NP_DTYPES[t])
        else:
            out[c] = next(arrays)
    return pd.DataFrame(out)


def _side(
    frame: DataFrame, keys: list[str], id_col: str, vecs: list[str]
) -> DataFrame:
    """One cogroup side (keys..., u, v0, v1, ...) under fresh aliases, so
    the two sides never share an attribute.

    Keys are cast to bigint: cogroup hash-partitions each side by its
    OWN key type, and e.g. int 5 and bigint 5 hash differently —
    mismatched types silently pair groups with nothing on most
    partitions (measured: a hive-partitioned int cent_id against a
    bigint probe key dropped ~53% of queries at sf0.1, while at sf0.01
    AQE's single coalesced partition masked it completely). Every key
    this module sees is integral, so the cast never changes a value."""
    return frame.select(
        *[F.col(k).cast("bigint").alias(k) for k in keys],
        F.col(id_col).alias("u"),
        *[F.col(v).alias(f"v{i}") for i, v in enumerate(vecs)],
    )


def _tiled(
    side: DataFrame, id_col: str, blocks: int, coord: str, triangular: bool
) -> DataFrame:
    """``side`` replicated to every tile (ba, bb) whose ``coord`` equals
    its block ``pmod(id, blocks)``. ``triangular``: the B×(B+1)/2
    upper-triangular tile list (a frame against itself, unordered
    pairs); else the full B×B grid (directed pairs). Each call joins its
    own fresh tile frame, so a cogroup's two sides are independent
    lineages, not an ambiguous self-join."""
    tiles = [
        (i, j)
        for i in range(blocks)
        for j in range(i if triangular else 0, blocks)
    ]
    t = side.sparkSession.createDataFrame(tiles, "ba int, bb int")
    blk = F.pmod(F.col(id_col), F.lit(blocks)).cast("int")
    return (
        side.withColumn("blk", blk)
        .join(F.broadcast(t), F.col("blk") == F.col(coord))
        .select("ba", "bb", *side.columns)
    )


def _ids_vecs(l: pd.DataFrame, r: pd.DataFrame, i: int = 0):
    """One cogroup group's (ua, ub, A, B) for vector column ``v<i>``."""
    return (
        l["u"].to_numpy(),
        r["u"].to_numpy(),
        np.stack(l[f"v{i}"].to_numpy()),
        np.stack(r[f"v{i}"].to_numpy()),
    )


def _cogroup(
    left: DataFrame, right: DataFrame, keys: list[str], schema: str, body
) -> DataFrame:
    """``body(key, l, r)`` once per key group holding rows on both
    sides; a group with an empty side emits the empty frame."""

    def grp(key, l, r):
        if len(l) == 0 or len(r) == 0:
            return _frame(schema)
        return body(key, l, r)

    return (
        left.groupBy(*keys)
        .cogroup(right.groupBy(*keys))
        .applyInPandas(grp, schema)
    )


def _triangle(
    frame: DataFrame,
    keys: list[str],
    vecs: list[str],
    blocks: int,
    schema: str,
    body,
) -> DataFrame:
    """A (keys..., vec_id, *vecs) frame against itself over the
    triangular tiling: ``body(key, l, r, pairs)`` per tile, with pairs
    ``asc`` on a diagonal tile (it meets each pair twice) and ``all``
    off it. The tile key is ``(*keys, ba, bb)``."""
    left, right = (
        _tiled(_side(frame, keys, "vec_id", vecs), "u", blocks, coord, True)
        for coord in ("ba", "bb")
    )

    def tile(key, l, r):
        return body(key, l, r, "asc" if key[-2] == key[-1] else "all")

    return _cogroup(left, right, [*keys, "ba", "bb"], schema, tile)


def _tile_pairs(
    n: DataFrame, keys: list[str], threshold: float, blocks: int, ce: int
) -> DataFrame:
    """Threshold scan over the triangular tiling; with ``keys`` (cent_id)
    the triangle is per key and the key is emitted as ``cell``."""
    schema = CELL_PAIRS if keys else PAIRS

    def tile(key, l, r, pairs):
        res = _scan(*_ids_vecs(l, r), pairs, ce, threshold=threshold)
        return _frame(schema, res, cell=key[0])

    return _triangle(n, keys, ["ne"], blocks, schema, tile)


def _tile_topk(
    n: DataFrame, vecs: list[str], k: int, blocks: int, ce: int, schema: str
) -> DataFrame:
    """Per-tile per-qid top-k over the triangular tiling, one scan per
    vector column; vector column m is emitted as ``metric`` m."""

    def tile(key, l, r, pairs):
        frames = []
        for m in range(len(vecs)):
            res = _scan(*_ids_vecs(l, r, m), pairs, ce, k=k)
            if res is not None:
                frames.append(_frame(schema, res, metric=m))
        if not frames:
            return _frame(schema)
        return pd.concat(frames, ignore_index=True)

    return _triangle(n, [], vecs, blocks, schema, tile)


def cosine_pairs_blocked(
    n: DataFrame, threshold: float, blocks: int, chunk_elems: int | None = None
) -> DataFrame:
    """(va, vb, cos): all unordered pairs of a (vec_id, ne) frame with
    cos >= threshold -- the dedup_embedding_cosine kernel. The threshold
    is applied inside the tile kernel (the comparison is on bit-identical
    doubles, so the kept set is identical), so only qualifying pairs
    leave Python. ``chunk_elems`` overrides the per-task pair-matrix
    bound (tests force multi-chunk execution with it); captured by value
    in the closure so it reaches the executors."""
    return _tile_pairs(n, [], threshold, blocks, chunk_elems or CHUNK_ELEMS)


def topk_edges_blocked(
    n: DataFrame, k: int, blocks: int, chunk_elems: int | None = None
) -> DataFrame:
    """(qid, cid, cos): per-tile top-k directed neighbor candidates -- the
    first (per-tile) level of knn_edges_from's hierarchical top-k.
    Selection order is exactly the old row_number window's ``ORDER BY
    cos DESC, cid``; <= k*(tiles per vector) candidate rows per query
    survive for the final global window."""
    return _tile_topk(n, ["ne"], k, blocks, chunk_elems or CHUNK_ELEMS, EDGES)


def topk_edges_blocked_dual(
    n2: DataFrame, k: int, blocks: int, chunk_elems: int | None = None
) -> DataFrame:
    """(metric, qid, cid, cos): the per-tile top-k edge candidates of TWO
    embedding variants of the same id space in ONE tile pass -- metric 0
    rows are exactly ``topk_edges_blocked(n2[vec_id, nea])``, metric 1
    rows exactly ``topk_edges_blocked(n2[vec_id, neb])``.

    The recall evaluations (_recall_vs_truth: PCA / MRL variants judged
    against the full-dimension truth) would otherwise run two tile
    passes over the same vectors; fusing them halves every fixed cost
    (scans, tile shuffles, Python dispatches, windows) while shuffling
    the same total vector bytes."""
    return _tile_topk(
        n2, ["nea", "neb"], k, blocks, chunk_elems or CHUNK_ELEMS, DUAL_EDGES
    )


def _cell_blocks_default() -> int:
    """Scale profile for the per-cell kernels (cell_pairs_blocked,
    group_topk_blocked, cogroup_topk_blocked): by default a cell is one
    Python task, whose footprint is the cell's vectors — fine at the
    shipped SFs but unbounded in cell size at the 100 TB design point (a
    hot IVF cell is O(n/K)). SPARK_GRAFT_CELL_BLOCKS=B > 1 (e.g. via
    SPARK_GRAFT_CONF profiles' env companion) decomposes every cell into
    B sub-blocks and scans block pairs as independent tasks, bounding
    per-task memory at two cell/B slices + the chunked pair matrix,
    independent of cell size. Outputs are pinned bit-identical across B
    (tests/test_vecmath_kernels.py) — only task granularity changes, so
    the shipped default B=1 keeps the bench plan shape."""
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CELL_BLOCKS", "1")))
    except ValueError:
        return 1


def cell_pairs_blocked(
    assign: DataFrame,
    threshold: float,
    chunk_elems: int | None = None,
    cell_blocks: int | None = None,
) -> DataFrame:
    """(va, vb, cell, cos): all within-cell ascending-id pairs with
    cos >= threshold of a (vec_id, ne, cent_id) assignment frame -- the
    dedup_embedding_cell / SemDeDup-stage kernel. One scan per cell via
    groupBy(cent_id).applyInPandas: cell vectors cross the boundary
    once, only threshold survivors come back, per-task footprint one
    cell's vectors. ``cell_blocks`` > 1 (default:
    $SPARK_GRAFT_CELL_BLOCKS) runs cosine_pairs_blocked's triangular
    tiling per cell instead (cent_id added to the tile key) -- same
    pairs, same cos bits, per-task memory bounded by two cell/B
    slices."""
    ce = chunk_elems or CHUNK_ELEMS
    blocks = cell_blocks or _cell_blocks_default()
    if blocks > 1:
        return _tile_pairs(assign, ["cent_id"], threshold, blocks, ce)

    def cell(key, pdf):
        ids, M = pdf["vec_id"].to_numpy(), np.stack(pdf["ne"].to_numpy())
        res = _scan(ids, ids, M, M, "asc", ce, threshold=threshold)
        return _frame(CELL_PAIRS, res, cell=key[0])

    return (
        assign.select("vec_id", "ne", "cent_id")
        .groupBy("cent_id")
        .applyInPandas(cell, CELL_PAIRS)
    )


def group_topk_blocked(
    sig: DataFrame,
    group_cols: list[str],
    k: int,
    chunk_elems: int | None = None,
    cell_blocks: int | None = None,
) -> DataFrame:
    """(qid, cid, cos): per-group directed top-k candidate edges of a
    (group_cols..., vec_id, ne) signature frame -- all ordered pairs
    qid != cid within a group, ranked per qid by (cos DESC, cid ASC).

    The ANN candidate-scoring kernel (IVF cells, LSH buckets). Per-group
    top-k preselection is lossless for any downstream global top-k: a
    group's candidates for a query are distinct cids, so a pair beaten
    by >= k candidates inside its own group is beaten by >= k distinct
    candidates globally.

    ``cell_blocks`` > 1 (default: $SPARK_GRAFT_CELL_BLOCKS) runs
    cogroup_topk_blocked of the frame against itself, tiled into a B×B
    sub-block grid per group. A tile emits its own per-qid top-k, so a
    query returns <= B·k rows instead of <= k; that is the same
    preselection-lossless contract (every consumer re-selects its global
    top-k downstream with the identical (cos DESC, cid) order), pinned
    bit-identical at the consumer level by tests. Group columns must be
    integral (they are tile keys, cast to bigint)."""
    ce = chunk_elems or CHUNK_ELEMS
    blocks = cell_blocks or _cell_blocks_default()
    if blocks > 1:
        probe, corpus = (
            sig.select(
                *group_cols,
                F.col("vec_id").alias(i),
                F.col("ne").alias(v),
            )
            for i, v in (("qid", "qne"), ("cid", "cne"))
        )
        return cogroup_topk_blocked(probe, corpus, group_cols, k, ce, blocks)

    def grp(key, pdf):
        ids, M = pdf["vec_id"].to_numpy(), np.stack(pdf["ne"].to_numpy())
        return _frame(EDGES, _scan(ids, ids, M, M, "ne", ce, k=k))

    return (
        sig.select(*group_cols, "vec_id", "ne")
        .groupBy(*group_cols)
        .applyInPandas(grp, EDGES)
    )


def cogroup_topk_blocked(
    probe: DataFrame,
    corpus: DataFrame,
    key_cols: list[str],
    k: int,
    chunk_elems: int | None = None,
    cell_blocks: int | None = None,
) -> DataFrame:
    """(qid, cid, cos): per-key directed top-k of a probe frame
    (key_cols..., qid, qne) against a corpus frame (key_cols..., cid,
    cne), qid != cid -- the nprobe>1 IVF shape where the query side
    joins more cells than it belongs to. Same preselection argument as
    group_topk_blocked. Keys are cast to bigint on both sides (_side).

    ``cell_blocks`` > 1 (default: $SPARK_GRAFT_CELL_BLOCKS) tiles each
    key's pair space into the full B×B grid (probe rows by their qid
    block, corpus rows by their cid block), so no task holds a whole hot
    cell; a query then returns <= B·k rows per key, and the consumers'
    global per-qid re-selection yields the B=1 result to the bit."""
    ce = chunk_elems or CHUNK_ELEMS
    blocks = cell_blocks or _cell_blocks_default()
    left = _side(probe, key_cols, "qid", ["qne"])
    right = _side(corpus, key_cols, "cid", ["cne"])
    if blocks > 1:
        left = _tiled(left, "u", blocks, "ba", False)
        right = _tiled(right, "u", blocks, "bb", False)
        key_cols = [*key_cols, "ba", "bb"]

    def grp(key, l, r):
        return _frame(EDGES, _scan(*_ids_vecs(l, r), "ne", ce, k=k))

    return _cogroup(left, right, key_cols, EDGES, grp)
