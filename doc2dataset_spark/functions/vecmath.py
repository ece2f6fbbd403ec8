"""Cogrouped tile kernels for the exact O(n²) embedding pair scans.

The pair kernels (``dedup_embedding_cosine``'s threshold scan,
``knn_edges_from``'s exact top-k graph) used to evaluate the cosine as a
JVM higher-order fold (``queries.dedup.spark_dot`` —
``F.aggregate(F.zip_with(x, y, *), 0.0, +)``) on every row of the joined
pair stream. ArrayAggregate/ZipWith are CodegenFallback, so each of the
O(n²) pairs paid ~2·d interpreted lambda dispatches, and that expression
dominated the wall of every query built on these kernels.

This module keeps the identical tile decomposition (vectors hashed into
B blocks, the B×(B+1)/2 upper-triangular block-pair list broadcast, each
tile one shuffle group — per-task memory is two n/B blocks, never a full
side) but evaluates the tile's pair products in ONE vectorized NumPy
kernel per tile via ``groupBy(tile).cogroup(...).applyInPandas`` (guide
§8 / §4.2): each vector crosses the Python boundary once per tile it
belongs to (O(n·B) rows), never the O(n²) pair expansion, and only the
surviving rows (threshold hits, per-tile top-k) come back.

Two rejected alternatives, measured in this round (OPTIMIZATION_r15.md):

- unrolling the fold into a codegen'd 64-term expression chain — blows
  ``spark.sql.codegen.hugeMethodLimit``; the whole stage falls back to
  interpreted eval and every pair kernel regresses 3-4×;
- a per-pair Arrow ``pandas_udf`` dot — bit-exact, but it ships the
  joined pair stream (two d-dim arrays per pair, ~1 KB × O(n²) rows)
  across the boundary and loses ~30% to the JVM fold.

Bit-exactness: the fold order of ``spark_dot`` is
``((0.0 + x0*y0) + x1*y1) + ... + x{d-1}*y{d-1}``. ``pair_cos_matrix``
accumulates ``C += A[:, j, None] * B[None, :, j]`` column by column from
``C = 0.0``, which performs the same multiplies and the same additions
in the same per-pair sequence (IEEE-754 ops are deterministic; only the
*order* threatens bit-equality, and the order is identical, including
the ``0.0 + z0`` first step). Verified: exact int64-bit equality of
every output double vs the HOF-fold shape at sf0.1, plus the DuckDB
oracle mirrors (list_dot_product) at the shipped SFs.

The n-sized (not n²) fold sites — unit normalization, per-component PCA
projection — keep the JVM fold: their element counts are linear and a
Python crossing would cost more than the interpreted eval saves.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

# Empty result frames with the exact kernel output dtypes (a tile whose
# side is empty must still return the declared schema).
_EMPTY_PAIRS = {
    "va": pd.Series([], dtype="int64"),
    "vb": pd.Series([], dtype="int64"),
    "cos": pd.Series([], dtype="float64"),
}
_EMPTY_EDGES = {
    "qid": pd.Series([], dtype="int64"),
    "cid": pd.Series([], dtype="int64"),
    "cos": pd.Series([], dtype="float64"),
}


def pair_cos_matrix(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(m,d) × (k,d) → (m,k) pair dot-product matrix with the EXACT
    sequential fold order of ``spark_dot`` (see module docstring)."""
    m = A.shape[0]
    k = B.shape[0]
    C = np.zeros((m, k), dtype=np.float64)
    for j in range(A.shape[1]):
        C += A[:, j][:, None] * B[:, j][None, :]
    return C


# Per-task memory bound for the pair matrix: the kernels never hold more
# than ~CHUNK_ELEMS doubles of C at once (128 MiB), processing the row
# side in chunks — this is what keeps the documented "per-task memory is
# two n/B blocks" contract true when blocks are large: the O((n/B)²)
# pair space is *scanned* chunk-by-chunk, never materialized whole. At
# the shipped SFs a block is a single chunk, so the arithmetic (and its
# fold order) is byte-for-byte the unchunked computation.
CHUNK_ELEMS = 1 << 24


def _row_chunks(m: int, k: int, chunk_elems: int):
    step = max(1, chunk_elems // max(k, 1))
    for lo in range(0, m, step):
        yield lo, min(lo + step, m)


def tile_block_frames(n: DataFrame, blocks: int) -> tuple[DataFrame, DataFrame]:
    """The two sides of the tile decomposition of a (vec_id, ne) frame:
    ``left``  = (ba, bb, ua, na) — every vector replicated to the tiles
    where its block is the row coordinate;
    ``right`` = (ba, bb, ub, nb) — same for the column coordinate.
    Built from two independent lineages (fresh tile frames, renamed
    columns) so the cogroup below is not an ambiguous self-join."""
    spark = n.sparkSession
    v = n.select(
        "vec_id", "ne",
        F.pmod(F.col("vec_id"), F.lit(blocks)).cast("int").alias("blk"),
    )
    tiles = [(i, j) for i in range(blocks) for j in range(i, blocks)]
    tl = spark.createDataFrame(tiles, "ba int, bb int")
    tr = spark.createDataFrame(tiles, "ba int, bb int")
    left = v.join(F.broadcast(tl), F.col("blk") == F.col("ba")).select(
        "ba", "bb", F.col("vec_id").alias("ua"), F.col("ne").alias("na")
    )
    vr = n.select(
        F.col("vec_id").alias("vid2"),
        F.col("ne").alias("ne2"),
        F.pmod(F.col("vec_id"), F.lit(blocks)).cast("int").alias("blk2"),
    )
    right = vr.join(F.broadcast(tr), F.col("blk2") == F.col("bb")).select(
        "ba", "bb", F.col("vid2").alias("ub"), F.col("ne2").alias("nb")
    )
    return left, right



def _tile_inputs(left: pd.DataFrame, right: pd.DataFrame):
    """Stack one tile's two blocks into id vectors + row matrices."""
    ua = left["ua"].to_numpy()
    ub = right["ub"].to_numpy()
    A = np.stack(left["na"].to_numpy())
    B = np.stack(right["nb"].to_numpy())
    return ua, ub, A, B


def _pair_mask(diag: bool, ua_chunk: np.ndarray, ub: np.ndarray) -> np.ndarray:
    """Unordered-pair mask for one row chunk (diagonal tiles meet each
    pair twice -> keep the ascending order only)."""
    if diag:
        return ua_chunk[:, None] < ub[None, :]
    return np.ones((len(ua_chunk), len(ub)), dtype=bool)


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


def cosine_pairs_blocked(
    n: DataFrame, threshold: float, blocks: int, chunk_elems: int | None = None
) -> DataFrame:
    """(va, vb, cos): all unordered pairs with cos >= threshold -- the
    dedup_embedding_cosine kernel. The threshold is applied INSIDE the
    tile kernel (the comparison is on bit-identical doubles, so the kept
    set is identical), so only qualifying pairs ever leave Python.
    ``chunk_elems`` overrides the per-task pair-matrix bound (tests force
    multi-chunk execution with it); captured by value in the closure so
    it reaches the executors."""
    ce = chunk_elems or CHUNK_ELEMS

    def tile(key, left, right):
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(_EMPTY_PAIRS)
        ua, ub, A, B = _tile_inputs(left, right)
        diag = key[0] == key[1]
        va, vb, cs = [], [], []
        for lo, hi in _row_chunks(len(ua), len(ub), ce):
            C = pair_cos_matrix(A[lo:hi], B)
            mask = _pair_mask(diag, ua[lo:hi], ub)
            mask &= C >= threshold
            i, j = np.nonzero(mask)
            if len(i):
                a, b = ua[lo:hi][i], ub[j]
                va.append(np.minimum(a, b))
                vb.append(np.maximum(a, b))
                cs.append(C[i, j])
        if not va:
            return pd.DataFrame(_EMPTY_PAIRS)
        return pd.DataFrame(
            {
                "va": np.concatenate(va),
                "vb": np.concatenate(vb),
                "cos": np.concatenate(cs),
            }
        )

    left, right = tile_block_frames(n, blocks)
    return (
        left.groupBy("ba", "bb")
        .cogroup(right.groupBy("ba", "bb"))
        .applyInPandas(tile, "va long, vb long, cos double")
    )


def _tile_topk(ua, ub, A, B, diag: bool, k: int, ce: int):
    """One tile's per-qid top-k candidate edges (qid, cid, cos arrays,
    or None if the tile contributes nothing) -- the chunked body shared
    by topk_edges_blocked and its dual-metric variant. Each chunk
    pre-selects its own per-qid top-k (row-side qids are complete within
    their chunk; column-side qids accumulate <= k per chunk), and a
    final pass selects the tile-wide top-k from the <= chunks*k
    survivors per qid -- the winners and their order are identical to
    the unchunked selection because per-subset top-k under a total order
    is a superset-safe prefilter."""
    qs, cs, ss = [], [], []
    for lo, hi in _row_chunks(len(ua), len(ub), ce):
        C = pair_cos_matrix(A[lo:hi], B)
        mask = _pair_mask(diag, ua[lo:hi], ub)
        i, j = np.nonzero(mask)
        if len(i) == 0:
            continue
        a, b, c = ua[lo:hi][i], ub[j], C[i, j]
        # each unordered pair feeds BOTH endpoints' neighbor lists
        qid = np.concatenate([a, b])
        cid = np.concatenate([b, a])
        cos = np.concatenate([c, c])
        keep = _topk_select(qid, cid, cos, k)
        qs.append(qid[keep])
        cs.append(cid[keep])
        ss.append(cos[keep])
    if not qs:
        return None
    qid = np.concatenate(qs)
    cid = np.concatenate(cs)
    cos = np.concatenate(ss)
    keep = _topk_select(qid, cid, cos, k)
    return qid[keep], cid[keep], cos[keep]


def topk_edges_blocked(
    n: DataFrame, k: int, blocks: int, chunk_elems: int | None = None
) -> DataFrame:
    """(qid, cid, cos): per-tile top-k directed neighbor candidates -- the
    first (per-tile) level of knn_edges_from's hierarchical top-k,
    computed inside the tile kernel (_tile_topk). Selection order is
    exactly the old row_number window's ``ORDER BY cos DESC, cid`` (cos
    bits are identical, so ties resolve identically); <= k*(tiles per
    vector) candidate rows per query survive for the final global
    window."""
    ce = chunk_elems or CHUNK_ELEMS

    def tile(key, left, right):
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(_EMPTY_EDGES)
        ua, ub, A, B = _tile_inputs(left, right)
        out = _tile_topk(ua, ub, A, B, key[0] == key[1], k, ce)
        if out is None:
            return pd.DataFrame(_EMPTY_EDGES)
        qid, cid, cos = out
        return pd.DataFrame({"qid": qid, "cid": cid, "cos": cos})

    left, right = tile_block_frames(n, blocks)
    return (
        left.groupBy("ba", "bb")
        .cogroup(right.groupBy("ba", "bb"))
        .applyInPandas(tile, "qid long, cid long, cos double")
    )


def topk_edges_blocked_dual(
    n2: DataFrame, k: int, blocks: int, chunk_elems: int | None = None
) -> DataFrame:
    """(metric, qid, cid, cos): the per-tile top-k edge candidates of TWO
    embedding variants of the same id space in ONE tile pass -- metric 0
    rows are exactly ``topk_edges_blocked(n2[vec_id, nea])``, metric 1
    rows exactly ``topk_edges_blocked(n2[vec_id, neb])`` (same
    _tile_topk body per metric, bit-identical cos and selection).

    The recall evaluations (_recall_vs_truth: PCA / MRL variants judged
    against the full-dimension truth) previously ran two independent
    tile passes over the same vectors: two scans, two tile shuffles, two
    Python dispatches per tile, two windows. Fusing them halves every
    fixed cost while shuffling the same total vector bytes (each row
    carries both variants once instead of one variant twice)."""
    ce = chunk_elems or CHUNK_ELEMS
    empty = {
        "metric": pd.Series([], dtype="int32"),
        "qid": pd.Series([], dtype="int64"),
        "cid": pd.Series([], dtype="int64"),
        "cos": pd.Series([], dtype="float64"),
    }

    def tile(key, left, right):
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(empty)
        ua = left["ua"].to_numpy()
        ub = right["ub"].to_numpy()
        diag = key[0] == key[1]
        frames = []
        for metric, (lcol, rcol) in enumerate((("la", "ra"), ("lb", "rb"))):
            A = np.stack(left[lcol].to_numpy())
            B = np.stack(right[rcol].to_numpy())
            out = _tile_topk(ua, ub, A, B, diag, k, ce)
            if out is None:
                continue
            qid, cid, cos = out
            frames.append(
                pd.DataFrame(
                    {
                        "metric": np.full(len(qid), metric, dtype="int32"),
                        "qid": qid,
                        "cid": cid,
                        "cos": cos,
                    }
                )
            )
        if not frames:
            return pd.DataFrame(empty)
        return pd.concat(frames, ignore_index=True)

    spark = n2.sparkSession
    v = n2.select(
        "vec_id", "nea", "neb",
        F.pmod(F.col("vec_id"), F.lit(blocks)).cast("int").alias("blk"),
    )
    tiles = [(i, j) for i in range(blocks) for j in range(i, blocks)]
    tl = spark.createDataFrame(tiles, "ba int, bb int")
    tr = spark.createDataFrame(tiles, "ba int, bb int")
    left = v.join(F.broadcast(tl), F.col("blk") == F.col("ba")).select(
        "ba", "bb",
        F.col("vec_id").alias("ua"),
        F.col("nea").alias("la"),
        F.col("neb").alias("lb"),
    )
    vr = n2.select(
        F.col("vec_id").alias("vid2"),
        F.col("nea").alias("nea2"),
        F.col("neb").alias("neb2"),
        F.pmod(F.col("vec_id"), F.lit(blocks)).cast("int").alias("blk2"),
    )
    right = vr.join(F.broadcast(tr), F.col("blk2") == F.col("bb")).select(
        "ba", "bb",
        F.col("vid2").alias("ub"),
        F.col("nea2").alias("ra"),
        F.col("neb2").alias("rb"),
    )
    return (
        left.groupBy("ba", "bb")
        .cogroup(right.groupBy("ba", "bb"))
        .applyInPandas(tile, "metric int, qid long, cid long, cos double")
    )


def _cell_blocks_default() -> int:
    """Scale profile for the per-cell kernels (round-15 verdict, What's
    wrong #5): by default a cell is one Python task, whose footprint is
    the cell's vectors — the same bound the pre-kernel SHUFFLE_HASH
    build side had, fine at the shipped SFs but unbounded in cell size
    at the 100 TB design point (a hot IVF cell is O(n/K)). Setting
    SPARK_GRAFT_CELL_BLOCKS=B > 1 (e.g. via SPARK_GRAFT_CONF profiles'
    env companion) decomposes every cell into B sub-blocks and scans
    block pairs as independent tasks, bounding per-task memory at two
    cell/B slices + the chunked pair matrix, independent of cell size.
    Outputs are pinned bit-identical across B (tests/test_vecmath_
    kernels.py): same pairs, same cosine bits — only task granularity
    changes, so the shipped default B=1 keeps the bench plan shape.
    Covers cell_pairs_blocked and group_topk_blocked only:
    cogroup_topk_blocked (the nprobe>1 IVF probe) has no block split and
    keeps the unbounded hot-cell footprint (ROADMAP C4)."""
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
    dedup_embedding_cell / SemDeDup-stage kernel. One vectorized NumPy
    scan per cell via groupBy(cent_id).applyInPandas, replacing the
    within-cell self-join + interpreted HOF fold: cell vectors cross the
    boundary once, only threshold survivors come back. Same fold order,
    same chunked memory bound, same per-task footprint (one cell's
    vectors -- exactly what the cell equi-join's build side held).
    ``cell_blocks`` > 1 (default: $SPARK_GRAFT_CELL_BLOCKS) splits each
    cell into the tile decomposition instead -- per-task memory bounded
    by two cell/B slices regardless of cell size (see
    _cell_blocks_default)."""
    ce = chunk_elems or CHUNK_ELEMS
    blocks = cell_blocks or _cell_blocks_default()
    if blocks > 1:
        return _cell_pairs_tiled(assign, threshold, ce, blocks)

    def cell(key, pdf):
        empty = pd.DataFrame(
            {
                "va": pd.Series([], dtype="int64"),
                "vb": pd.Series([], dtype="int64"),
                "cell": pd.Series([], dtype="int64"),
                "cos": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        M = np.stack(pdf["ne"].to_numpy())
        va, vb, cs = [], [], []
        for lo, hi in _row_chunks(len(ids), len(ids), ce):
            C = pair_cos_matrix(M[lo:hi], M)
            mask = ids[lo:hi][:, None] < ids[None, :]
            mask &= C >= threshold
            i, j = np.nonzero(mask)
            if len(i):
                va.append(ids[lo:hi][i])
                vb.append(ids[j])
                cs.append(C[i, j])
        if not va:
            return empty
        va = np.concatenate(va)
        return pd.DataFrame(
            {
                "va": va,
                "vb": np.concatenate(vb),
                "cell": np.full(len(va), key[0], dtype="int64"),
                "cos": np.concatenate(cs),
            }
        )

    return (
        assign.select("vec_id", "ne", "cent_id")
        .groupBy("cent_id")
        .applyInPandas(cell, "va long, vb long, cell long, cos double")
    )


def _cell_pairs_tiled(
    assign: DataFrame, threshold: float, ce: int, blocks: int
) -> DataFrame:
    """cell_pairs_blocked at cell_blocks > 1: the within-cell pair space
    tiled exactly like cosine_pairs_blocked (upper-triangular block
    pairs, diagonal tiles keep ascending ids, off-diagonal tiles keep
    everything and emit (min, max)), with cent_id prefixed to the tile
    key. Same per-pair fold order and threshold comparison, so the kept
    pair set and every cosine bit are identical to the one-task path."""
    spark = assign.sparkSession
    tiles = [(i, j) for i in range(blocks) for j in range(i, blocks)]
    tl = spark.createDataFrame(tiles, "ba int, bb int")
    tr = spark.createDataFrame(tiles, "ba int, bb int")
    v = assign.select(
        "vec_id",
        "ne",
        "cent_id",
        F.pmod(F.col("vec_id"), F.lit(blocks)).cast("int").alias("blk"),
    )
    left = v.join(F.broadcast(tl), F.col("blk") == F.col("ba")).select(
        "cent_id", "ba", "bb",
        F.col("vec_id").alias("ua"), F.col("ne").alias("na"),
    )
    vr = assign.select(
        F.col("vec_id").alias("vid2"),
        F.col("ne").alias("ne2"),
        F.col("cent_id").alias("cent2"),
        F.pmod(F.col("vec_id"), F.lit(blocks)).cast("int").alias("blk2"),
    )
    right = vr.join(F.broadcast(tr), F.col("blk2") == F.col("bb")).select(
        F.col("cent2").alias("cent_id"), "ba", "bb",
        F.col("vid2").alias("ub"), F.col("ne2").alias("nb"),
    )

    def tile(key, l, r):
        empty = pd.DataFrame(
            {
                "va": pd.Series([], dtype="int64"),
                "vb": pd.Series([], dtype="int64"),
                "cell": pd.Series([], dtype="int64"),
                "cos": pd.Series([], dtype="float64"),
            }
        )
        if len(l) == 0 or len(r) == 0:
            return empty
        ua = l["ua"].to_numpy()
        ub = r["ub"].to_numpy()
        A = np.stack(l["na"].to_numpy())
        B = np.stack(r["nb"].to_numpy())
        diag = key[1] == key[2]
        va, vb, cs = [], [], []
        for lo, hi in _row_chunks(len(ua), len(ub), ce):
            C = pair_cos_matrix(A[lo:hi], B)
            mask = _pair_mask(diag, ua[lo:hi], ub)
            mask &= C >= threshold
            i, j = np.nonzero(mask)
            if len(i):
                a, b = ua[lo:hi][i], ub[j]
                va.append(np.minimum(a, b))
                vb.append(np.maximum(a, b))
                cs.append(C[i, j])
        if not va:
            return empty
        va = np.concatenate(va)
        return pd.DataFrame(
            {
                "va": va,
                "vb": np.concatenate(vb),
                "cell": np.full(len(va), key[0], dtype="int64"),
                "cos": np.concatenate(cs),
            }
        )

    return (
        left.groupBy("cent_id", "ba", "bb")
        .cogroup(right.groupBy("cent_id", "ba", "bb"))
        .applyInPandas(tile, "va long, vb long, cell long, cos double")
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

    The ANN candidate-scoring kernel (IVF cells, LSH buckets): replaces
    the within-group self-join + interpreted HOF fold + full-pair window
    sort. Per-group top-k preselection is lossless for any downstream
    global top-k: a group's candidates for a query are distinct cids, so
    a pair beaten by >= k candidates inside its own group is beaten by
    >= k distinct candidates globally. Chunked like the other kernels
    (row-side qids are complete within their chunk; a final pass
    re-selects across chunks).

    ``cell_blocks`` > 1 (default: $SPARK_GRAFT_CELL_BLOCKS) tiles each
    group into a B×B sub-block grid of independent tasks — per-task
    memory two group/B slices regardless of group size (see
    _cell_blocks_default). A tile emits its own per-qid top-k, so a
    query returns <= B·k rows instead of <= k; that is the same
    preselection-lossless contract (every consumer re-selects its
    global top-k in a downstream window over these survivor rows, with
    the identical (cos DESC, cid) order), pinned bit-identical at the
    consumer level by tests."""
    ce = chunk_elems or CHUNK_ELEMS
    blocks = cell_blocks or _cell_blocks_default()
    if blocks > 1:
        return _group_topk_tiled(sig, group_cols, k, ce, blocks)

    def grp(key, pdf):
        empty = pd.DataFrame(_EMPTY_EDGES)
        if len(pdf) < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        M = np.stack(pdf["ne"].to_numpy())
        qs, cs, ss = [], [], []
        for lo, hi in _row_chunks(len(ids), len(ids), ce):
            C = pair_cos_matrix(M[lo:hi], M)
            mask = ids[lo:hi][:, None] != ids[None, :]
            i, j = np.nonzero(mask)
            if len(i) == 0:
                continue
            qid, cid, cos = ids[lo:hi][i], ids[j], C[i, j]
            keep = _topk_select(qid, cid, cos, k)
            qs.append(qid[keep])
            cs.append(cid[keep])
            ss.append(cos[keep])
        if not qs:
            return empty
        qid = np.concatenate(qs)
        cid = np.concatenate(cs)
        cos = np.concatenate(ss)
        keep = _topk_select(qid, cid, cos, k)
        return pd.DataFrame({"qid": qid[keep], "cid": cid[keep], "cos": cos[keep]})

    return (
        sig.select(*group_cols, "vec_id", "ne")
        .groupBy(*group_cols)
        .applyInPandas(grp, "qid long, cid long, cos double")
    )


def _group_topk_tiled(
    sig: DataFrame, group_cols: list[str], k: int, ce: int, blocks: int
) -> DataFrame:
    """group_topk_blocked at cell_blocks > 1: the directed pair space of
    each group tiled as a full B×B sub-block grid (query rows by their
    block on the rows, candidate rows by theirs on the columns), each
    tile an independent task emitting its own per-qid top-k survivors.
    Union over a query's B tiles covers its full candidate set, so the
    preselection-losslessness proof is unchanged."""
    spark = sig.sparkSession
    grid = [(i, j) for i in range(blocks) for j in range(blocks)]
    gl = spark.createDataFrame(grid, "ba int, bb int")
    gr = spark.createDataFrame(grid, "ba int, bb int")
    v = sig.select(
        *group_cols, "vec_id", "ne",
        F.pmod(F.col("vec_id"), F.lit(blocks)).cast("int").alias("blk"),
    )
    left = v.join(F.broadcast(gl), F.col("blk") == F.col("ba")).select(
        *group_cols, "ba", "bb",
        F.col("vec_id").alias("qid"), F.col("ne").alias("qne"),
    )
    vr = sig.select(
        *[F.col(c).alias(f"{c}__r") for c in group_cols],
        F.col("vec_id").alias("vid2"),
        F.col("ne").alias("ne2"),
        F.pmod(F.col("vec_id"), F.lit(blocks)).cast("int").alias("blk2"),
    )
    right = vr.join(F.broadcast(gr), F.col("blk2") == F.col("bb")).select(
        *[F.col(f"{c}__r").alias(c) for c in group_cols], "ba", "bb",
        F.col("vid2").alias("cid"), F.col("ne2").alias("cne"),
    )

    def grp(key, l, r):
        empty = pd.DataFrame(_EMPTY_EDGES)
        if len(l) == 0 or len(r) == 0:
            return empty
        qids = l["qid"].to_numpy()
        cids = r["cid"].to_numpy()
        Q = np.stack(l["qne"].to_numpy())
        C_ = np.stack(r["cne"].to_numpy())
        qs, cs, ss = [], [], []
        for lo, hi in _row_chunks(len(qids), len(cids), ce):
            C = pair_cos_matrix(Q[lo:hi], C_)
            mask = qids[lo:hi][:, None] != cids[None, :]
            i, j = np.nonzero(mask)
            if len(i) == 0:
                continue
            qid, cid, cos = qids[lo:hi][i], cids[j], C[i, j]
            keep = _topk_select(qid, cid, cos, k)
            qs.append(qid[keep])
            cs.append(cid[keep])
            ss.append(cos[keep])
        if not qs:
            return empty
        qid = np.concatenate(qs)
        cid = np.concatenate(cs)
        cos = np.concatenate(ss)
        keep = _topk_select(qid, cid, cos, k)
        return pd.DataFrame(
            {"qid": qid[keep], "cid": cid[keep], "cos": cos[keep]}
        )

    keys = [*group_cols, "ba", "bb"]
    return (
        left.groupBy(*keys)
        .cogroup(right.groupBy(*keys))
        .applyInPandas(grp, "qid long, cid long, cos double")
    )


def cogroup_topk_blocked(
    probe: DataFrame,
    corpus: DataFrame,
    key_cols: list[str],
    k: int,
    chunk_elems: int | None = None,
) -> DataFrame:
    """(qid, cid, cos): per-key directed top-k of a probe frame
    (key_cols..., qid, qne) against a corpus frame (key_cols..., cid,
    cne), qid != cid -- the nprobe>1 IVF shape where the query side
    joins more cells than it belongs to. Same preselection argument and
    chunking as group_topk_blocked, but NOT its cell_blocks split:
    SPARK_GRAFT_CELL_BLOCKS does not reach this kernel, so one task
    holds a whole (hot) cell's probe and corpus rows (ROADMAP C4)."""
    ce = chunk_elems or CHUNK_ELEMS

    def grp(key, l, r):
        empty = pd.DataFrame(_EMPTY_EDGES)
        if len(l) == 0 or len(r) == 0:
            return empty
        qids = l["qid"].to_numpy()
        cids = r["cid"].to_numpy()
        Q = np.stack(l["qne"].to_numpy())
        C_ = np.stack(r["cne"].to_numpy())
        qs, cs, ss = [], [], []
        for lo, hi in _row_chunks(len(qids), len(cids), ce):
            C = pair_cos_matrix(Q[lo:hi], C_)
            mask = qids[lo:hi][:, None] != cids[None, :]
            i, j = np.nonzero(mask)
            if len(i) == 0:
                continue
            qid, cid, cos = qids[lo:hi][i], cids[j], C[i, j]
            keep = _topk_select(qid, cid, cos, k)
            qs.append(qid[keep])
            cs.append(cid[keep])
            ss.append(cos[keep])
        if not qs:
            return empty
        qid = np.concatenate(qs)
        cid = np.concatenate(cs)
        cos = np.concatenate(ss)
        keep = _topk_select(qid, cid, cos, k)
        return pd.DataFrame({"qid": qid[keep], "cid": cid[keep], "cos": cos[keep]})

    # Defensive key normalization: cogroup hash-partitions each side by
    # its OWN key type, and e.g. int 5 and bigint 5 hash differently —
    # mismatched types silently pair groups with nothing on most
    # partitions (measured: a hive-partitioned int cent_id against a
    # bigint probe key dropped ~53% of queries at sf0.1, while at sf0.01
    # AQE's single coalesced partition masked it completely). Cast both
    # sides to bigint so the shuffle keys are physically identical.
    lsel = probe.select(
        *[F.col(k).cast("bigint").alias(k) for k in key_cols], "qid", "qne"
    )
    rsel = corpus.select(
        *[F.col(k).cast("bigint").alias(k) for k in key_cols], "cid", "cne"
    )
    return (
        lsel.groupBy(*key_cols)
        .cogroup(rsel.groupBy(*key_cols))
        .applyInPandas(grp, "qid long, cid long, cos double")
    )
