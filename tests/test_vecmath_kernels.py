"""The cogrouped tile kernels (functions/vecmath.py) replaced the
interpreted HOF-fold pair kernels in round 15's optimization pass; these
tests pin the two properties the swap rests on:

1. bit-exactness of the kernel fold order vs spark_dot (the registry
   queries themselves are oracle-gated, but the low-level invariant is
   pinned here so a future kernel edit fails fast);
2. chunk-invariance: the row-chunked pair scan (the per-task memory
   bound for large blocks) returns byte-identical results to the
   single-chunk path — forced by shrinking CHUNK_ELEMS so the fixture
   splits into many chunks.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from doc2dataset_spark.functions import vecmath
from doc2dataset_spark.queries.dedup import (
    EMB_COS_THRESHOLD,
    N_EMB_BLOCKS,
    normalized_embeddings,
    spark_dot,
)


def _collect_sorted(df, keys):
    pdf = df.toPandas().sort_values(keys).reset_index(drop=True)
    return pdf


def test_pair_cos_matrix_matches_spark_dot_bits(spark, sf_dir):
    """Kernel fold order == spark_dot fold order, to the last bit."""
    n = normalized_embeddings(spark, sf_dir).limit(40)
    rows = n.collect()
    ids = [r["vec_id"] for r in rows]
    M = np.stack([np.array(r["ne"], dtype=np.float64) for r in rows])
    C = vecmath.pair_cos_matrix(M, M)
    # spark-side dots for the same pairs
    a = n.select(F.col("vec_id").alias("ia"), F.col("ne").alias("na"))
    b = n.select(F.col("vec_id").alias("ib"), F.col("ne").alias("nb"))
    sd = (
        a.crossJoin(b)
        .select("ia", "ib", spark_dot(F.col("na"), F.col("nb")).alias("d"))
        .collect()
    )
    pos = {v: i for i, v in enumerate(ids)}
    for r in sd:
        got = C[pos[r["ia"]], pos[r["ib"]]]
        assert np.float64(got).view(np.int64) == np.float64(r["d"]).view(
            np.int64
        ), (r["ia"], r["ib"])


def _chunk_cases(spark, sf_dir):
    """(name, build(chunk_elems) -> DataFrame, sort keys) for every public
    kernel; the three per-group kernels once per cell_blocks in {1, 3}
    (B=3 is their tiled path)."""
    from doc2dataset_spark.queries.dedup import cell_assignments

    n = normalized_embeddings(spark, sf_dir)
    both = n.select(
        "vec_id", F.col("ne").alias("nea"), F.col("ne").alias("neb")
    )
    assign = cell_assignments(spark, sf_dir)
    probe = assign.select(
        F.col("vec_id").alias("qid"), F.col("ne").alias("qne"), "cent_id"
    )
    corpus = assign.select(
        F.col("vec_id").alias("cid"), F.col("ne").alias("cne"), "cent_id"
    )
    cases = [
        (
            "cosine_pairs_blocked",
            lambda ce: vecmath.cosine_pairs_blocked(
                n, EMB_COS_THRESHOLD, N_EMB_BLOCKS, chunk_elems=ce
            ),
            ["va", "vb"],
        ),
        (
            "topk_edges_blocked",
            lambda ce: vecmath.topk_edges_blocked(
                n, 3, N_EMB_BLOCKS, chunk_elems=ce
            ),
            ["qid", "cid"],
        ),
        (
            "topk_edges_blocked_dual",
            lambda ce: vecmath.topk_edges_blocked_dual(
                both, 3, N_EMB_BLOCKS, chunk_elems=ce
            ),
            ["metric", "qid", "cid"],
        ),
    ]
    for b in (1, 3):
        cases += [
            (
                f"cell_pairs_blocked[B={b}]",
                lambda ce, b=b: vecmath.cell_pairs_blocked(
                    assign, -1.0, chunk_elems=ce, cell_blocks=b
                ),
                ["va", "vb"],
            ),
            (
                f"group_topk_blocked[B={b}]",
                lambda ce, b=b: vecmath.group_topk_blocked(
                    assign, ["cent_id"], 3, chunk_elems=ce, cell_blocks=b
                ),
                ["qid", "cid"],
            ),
            (
                f"cogroup_topk_blocked[B={b}]",
                lambda ce, b=b: vecmath.cogroup_topk_blocked(
                    probe, corpus, ["cent_id"], 3, chunk_elems=ce,
                    cell_blocks=b,
                ),
                ["qid", "cid"],
            ),
        ]
    return cases


def test_kernels_chunk_invariant(spark, sf_dir):
    """Forcing many row chunks must not change a single byte of any
    kernel's output (same pairs, same top-k winners, same cos bits),
    for all six public kernels and, for the three per-group kernels,
    both the one-task (B=1) and the tiled (B=3) shape. chunk_elems is
    captured by value into the kernel closure, so the override reaches
    the executor-side Python workers."""
    # a block at sf0.001 has ~12 rows; chunk_elems=16 -> 1-row chunks
    for name, build, keys in _chunk_cases(spark, sf_dir):
        big = _collect_sorted(build(None), keys)
        small = _collect_sorted(build(16), keys)
        assert len(big) == len(small) > 0, name
        for k in keys:
            assert (big[k].values == small[k].values).all(), (name, k)
        assert (
            big["cos"].values.view(np.int64)
            == small["cos"].values.view(np.int64)
        ).all(), name


def test_cogroup_topk_key_type_mismatch(spark, sf_dir):
    """cogroup pairs groups by the PHYSICAL shuffle key: an int key on
    one side and a bigint on the other hash differently and silently
    pair most groups with nothing (caught live by the IVF probe reading
    a hive-partitioned int cent_id against a bigint probe key — ~53% of
    queries lost at sf0.1). The kernel normalizes both sides to bigint;
    this pins that an int-typed side produces identical results to a
    bigint one."""
    import pandas as pd
    from pyspark.sql import functions as F

    n = normalized_embeddings(spark, sf_dir)
    probe = n.select(
        F.col("vec_id").alias("qid"),
        F.col("ne").alias("qne"),
        F.pmod(F.col("vec_id"), F.lit(7)).cast("bigint").alias("cell"),
    )
    corpus_big = n.select(
        F.col("vec_id").alias("cid"),
        F.col("ne").alias("cne"),
        F.pmod(F.col("vec_id"), F.lit(7)).cast("bigint").alias("cell"),
    )
    corpus_int = corpus_big.withColumn("cell", F.col("cell").cast("int"))
    a = (
        vecmath.cogroup_topk_blocked(probe, corpus_big, ["cell"], 3)
        .toPandas()
        .sort_values(["qid", "cid"])
        .reset_index(drop=True)
    )
    b = (
        vecmath.cogroup_topk_blocked(probe, corpus_int, ["cell"], 3)
        .toPandas()
        .sort_values(["qid", "cid"])
        .reset_index(drop=True)
    )
    assert len(a) == len(b) and len(a) > 0
    assert (a["qid"].values == b["qid"].values).all()
    assert (a["cid"].values == b["cid"].values).all()
    assert (
        a["cos"].values.view(np.int64) == b["cos"].values.view(np.int64)
    ).all()

def test_dual_kernel_matches_single_per_metric(spark, sf_dir):
    """topk_edges_blocked_dual's metric-m rows must be byte-identical to
    topk_edges_blocked over that metric's vectors alone (the fused
    recall-eval pass rests on this), including under forced 1-row
    chunks."""
    n = normalized_embeddings(spark, sf_dir)
    # variant = prefix-8 renormalized (an MRL-style second metric)
    t = F.transform(F.slice("ne", 1, 8), lambda x: x.cast("double"))
    nrm = F.sqrt(spark_dot(t, t))
    nt = n.select("vec_id", F.transform(t, lambda x: x / nrm).alias("ne"))
    both = n.select("vec_id", F.col("ne").alias("nea")).join(
        nt.select("vec_id", F.col("ne").alias("neb")), "vec_id"
    )
    for ce in (None, 16):
        dual = _collect_sorted(
            vecmath.topk_edges_blocked_dual(
                both, 3, N_EMB_BLOCKS, chunk_elems=ce
            ),
            ["metric", "qid", "cid"],
        )
        for metric, frame in ((0, n), (1, nt)):
            single = _collect_sorted(
                vecmath.topk_edges_blocked(
                    frame, 3, N_EMB_BLOCKS, chunk_elems=ce
                ),
                ["qid", "cid"],
            )
            part = dual[dual["metric"] == metric].reset_index(drop=True)
            assert len(part) == len(single)
            assert (part["qid"].values == single["qid"].values).all()
            assert (part["cid"].values == single["cid"].values).all()
            assert (
                part["cos"].values.view(np.int64)
                == single["cos"].values.view(np.int64)
            ).all()


def test_cell_blocks_bit_identical_pairs(spark, sf_dir):
    """The round-16 scale-safety lever: cell_pairs_blocked at
    cell_blocks > 1 (sub-tiled cells, per-task memory bounded by two
    cell/B slices) must return byte-identical pairs to the one-task
    path — same pair set, same cell labels, same cosine bits."""
    from doc2dataset_spark.queries.dedup import cell_assignments

    assign = cell_assignments(spark, sf_dir)
    # threshold -1 keeps EVERY within-cell pair: the strongest bit
    # comparison the fixture can provide
    one = _collect_sorted(
        vecmath.cell_pairs_blocked(assign, -1.0, cell_blocks=1),
        ["va", "vb"],
    )
    tiled = _collect_sorted(
        vecmath.cell_pairs_blocked(assign, -1.0, cell_blocks=3),
        ["va", "vb"],
    )
    assert len(one) == len(tiled) > 0
    for k in ("va", "vb", "cell"):
        assert (one[k].values == tiled[k].values).all(), k
    assert (
        one["cos"].values.view(np.int64)
        == tiled["cos"].values.view(np.int64)
    ).all()


def test_cell_blocks_group_topk_preselect_lossless(spark, sf_dir):
    """group_topk_blocked at cell_blocks > 1 emits up to B·k rows per
    query (per-tile top-k), but the global per-qid top-k selected from
    them — the thing every consumer computes downstream — must equal
    the one-task kernel's output to the bit, and the one-task rows must
    all be present among the tiled survivors."""
    import pandas as pd

    from doc2dataset_spark.queries.dedup import cell_assignments

    k = 3
    sig = cell_assignments(spark, sf_dir)
    one = _collect_sorted(
        vecmath.group_topk_blocked(sig, ["cent_id"], k, cell_blocks=1),
        ["qid", "cid"],
    )
    tiled_raw = vecmath.group_topk_blocked(
        sig, ["cent_id"], k, cell_blocks=3
    ).toPandas()
    # global re-selection with the consumers' exact order
    sel = tiled_raw.sort_values(
        ["qid", "cos", "cid"], ascending=[True, False, True]
    )
    sel = sel.groupby("qid", sort=True).head(k)
    sel = sel.sort_values(["qid", "cid"]).reset_index(drop=True)
    assert len(one) == len(sel)
    for col in ("qid", "cid"):
        assert (one[col].values == sel[col].values).all(), col
    assert (
        one["cos"].values.view(np.int64)
        == sel["cos"].values.view(np.int64)
    ).all()
    # superset property: every one-task row is among the tiled survivors
    key_one = set(zip(one["qid"], one["cid"]))
    key_tiled = set(zip(tiled_raw["qid"], tiled_raw["cid"]))
    assert key_one <= key_tiled
    assert isinstance(tiled_raw, pd.DataFrame)


def _global_topk(pdf, k):
    """The consumers' global per-qid re-selection: (cos DESC, cid ASC)."""
    sel = pdf.sort_values(
        ["qid", "cos", "cid"], ascending=[True, False, True]
    )
    sel = sel.groupby("qid", sort=True).head(k)
    return sel.sort_values(["qid", "cid"]).reset_index(drop=True)


def test_cell_blocks_cogroup_topk_preselect_lossless(spark, sf_dir):
    """cogroup_topk_blocked (the nprobe>1 IVF probe kernel) honours
    cell_blocks like its siblings: at B=3 each key's pair space is a
    3×3 tile grid, a query returns up to B·k rows per key, and the
    global per-qid re-selection equals the B=1 kernel's to the bit,
    with every B=1 row among the tiled survivors. The probe side joins
    two cells per query (the nprobe=2 shape)."""
    k = 3
    n = normalized_embeddings(spark, sf_dir)
    probe = n.select(
        F.col("vec_id").alias("qid"),
        F.col("ne").alias("qne"),
        F.pmod(F.col("vec_id"), F.lit(7)).alias("cell"),
    ).unionByName(
        n.select(
            F.col("vec_id").alias("qid"),
            F.col("ne").alias("qne"),
            F.pmod(F.col("vec_id") + 1, F.lit(7)).alias("cell"),
        )
    )
    corpus = n.select(
        F.col("vec_id").alias("cid"),
        F.col("ne").alias("cne"),
        F.pmod(F.col("vec_id"), F.lit(7)).alias("cell"),
    )
    one_raw = vecmath.cogroup_topk_blocked(
        probe, corpus, ["cell"], k, cell_blocks=1
    ).toPandas()
    tiled_raw = vecmath.cogroup_topk_blocked(
        probe, corpus, ["cell"], k, cell_blocks=3
    ).toPandas()
    one, sel = _global_topk(one_raw, k), _global_topk(tiled_raw, k)
    assert len(one) == len(sel) > 0
    for col in ("qid", "cid"):
        assert (one[col].values == sel[col].values).all(), col
    assert (
        one["cos"].values.view(np.int64)
        == sel["cos"].values.view(np.int64)
    ).all()
    key_one = set(zip(one_raw["qid"], one_raw["cid"]))
    key_tiled = set(zip(tiled_raw["qid"], tiled_raw["cid"]))
    assert key_one <= key_tiled
    # the split is real: some query keeps more than k rows per cell
    assert len(tiled_raw) > len(one_raw)


def test_scan_and_tiler_live_in_one_place():
    """Structure guard: the chunked pair scan and the tile-grid builder
    are each written once in functions/vecmath.py — pair_cos_matrix and
    _row_chunks are each called from exactly one module-level function,
    and exactly one builds the ``ba int, bb int`` tile frame."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(vecmath))
    callers: dict[str, set[str]] = {
        "pair_cos_matrix": set(),
        "_row_chunks": set(),
    }
    tile_builders = set()
    # module-level functions; a call inside a nested closure counts
    # for the function that defines the closure
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id in callers
            ):
                callers[node.func.id].add(fn.name)
            if (
                isinstance(node, ast.Constant)
                and node.value == "ba int, bb int"
            ):
                tile_builders.add(fn.name)
    for name, fns in callers.items():
        assert len(fns) == 1, (name, sorted(fns))
    assert len(tile_builders) == 1, sorted(tile_builders)


def test_cell_blocks_env_consumer_identical(spark, sf_dir, monkeypatch):
    """Consumer-level pin for the SPARK_GRAFT_CELL_BLOCKS profile: the
    full sim_ann_ivf query (kernel preselect + final window) returns
    identical rows whether cells run as one task or tiled."""
    from doc2dataset_spark.queries import REGISTRY

    base = _collect_sorted(
        REGISTRY["sim_ann_ivf"].builder(spark, sf_dir).toDF(
            "qid", "cid", "cos"
        ),
        ["qid", "cid"],
    )
    monkeypatch.setenv("SPARK_GRAFT_CELL_BLOCKS", "3")
    tiled = _collect_sorted(
        REGISTRY["sim_ann_ivf"].builder(spark, sf_dir).toDF(
            "qid", "cid", "cos"
        ),
        ["qid", "cid"],
    )
    assert len(base) == len(tiled)
    for col in ("qid", "cid"):
        assert (base[col].values == tiled[col].values).all(), col
    assert (
        base["cos"].values.view(np.int64)
        == tiled["cos"].values.view(np.int64)
    ).all()
