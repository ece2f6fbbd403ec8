"""Invariant tests for the SQL-dialect surface (sql_surface.py) and the
corpus-rewrite/PQ extras (corpus_extras.py); value equality is
oracle-gated (scripts/driver_mirror.py), these pin the semantic claims:
spine contiguity + real gap rows, per-group top-k bounds, UDF inlining
equivalence, ordered-concat lengths, grouping-id algebra, the CMS
no-underestimate guarantee, substring-rewrite conservation laws, PQ code
compactness + score monotonicity, and recall bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.queries.corpus_extras import (
    PQ_K,
    PQ_M,
    PQ_NQ,
    PQ_TOPK,
    SUB_W,
)
from doc2dataset_spark.queries.sql_surface import (
    CMS_PROBE_KEYS,
    Q38_TOPN,
)
from doc2dataset_spark.session import load_table


# ---------------------------------------------------------------------------
# sql_surface
# ---------------------------------------------------------------------------
def test_recursive_spine_is_contiguous_and_gap_filled(spark, sf_dir):
    rows = (
        REGISTRY["q37_recursive_cte"].builder(spark, sf_dir).toPandas()
    ).sort_values("month")
    months = list(rows["month"])
    # contiguous: every consecutive pair is exactly one month apart
    def nxt(m: str) -> str:
        y, mo = int(m[:4]), int(m[5:7])
        y, mo = (y + 1, 1) if mo == 12 else (y, mo + 1)
        return f"{y:04d}-{mo:02d}"

    assert months == sorted(months)
    assert all(nxt(a) == b for a, b in zip(months, months[1:]))
    # the gap-fill branch is exercised for real: some months have no
    # qualifying orders and appear as explicit zeros
    assert (rows["n_orders"] == 0).any()
    assert (rows["n_orders"] > 0).any()
    # zero-count months carry zero totals
    z = rows[rows["n_orders"] == 0]
    assert (z["total_price"] == 0.0).all()


def test_lateral_topk_bounds_and_ordering(spark, sf_dir):
    rows = REGISTRY["q38_lateral_topk"].builder(spark, sf_dir).toPandas()
    per = rows.groupby("c_custkey")
    assert (per.size() <= Q38_TOPN).all()
    # within each customer the rows really are that customer's maxima
    orders = load_table(spark, sf_dir, "orders").toPandas()
    for ck, grp in list(per)[:20]:
        mine = orders[orders.o_custkey == ck].sort_values(
            ["o_totalprice", "o_orderkey"], ascending=[False, True]
        )
        expect = list(mine.o_orderkey[:Q38_TOPN])
        got = list(
            grp.sort_values(
                ["o_totalprice", "o_orderkey"], ascending=[False, True]
            ).o_orderkey
        )
        assert got == expect


def test_sql_udf_matches_inline_expression(spark, sf_dir):
    rows = REGISTRY["q39_sql_udf"].builder(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 1000
    )
    inline = li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            (
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).cast("decimal(38,6)"),
            4,
        )
        .cast("double")
        .alias("charge"),
    )
    a = rows.groupBy().agg(
        F.count("*").alias("n"), F.sum("charge").alias("s")
    ).collect()[0]
    b = inline.groupBy().agg(
        F.count("*").alias("n"), F.sum("charge").alias("s")
    ).collect()[0]
    assert a["n"] == b["n"] and abs(a["s"] - b["s"]) < 1e-6
    bands = {
        r["discount_band"] for r in rows.select("discount_band").distinct().collect()
    }
    assert bands <= {"deep", "shallow", "none"}


def test_listagg_lengths_match_group_sizes(spark, sf_dir):
    rows = REGISTRY["q40_listagg"].builder(spark, sf_dir).toPandas()
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .groupBy("l_orderkey")
        .count()
        .toPandas()
        .set_index("l_orderkey")["count"]
    )
    for _, r in rows.iterrows():
        n = int(li[r.l_orderkey])
        assert len(r.flag_seq) == n  # '' delimiter, 1 char per line
        assert len(r.status_seq.split(",")) == n


def test_grouping_sets_algebra(spark, sf_dir):
    rows = REGISTRY["q17c_grouping_sets"].builder(spark, sf_dir).toPandas()
    total = load_table(spark, sf_dir, "lineitem").count()
    # gid 3 = both columns rolled up = the global row
    g3 = rows[rows.gid == 3]
    assert len(g3) == 1 and int(g3.n.iloc[0]) == total
    # each partial level re-adds to the global count
    for gid in (0, 1, 2):
        level = rows[rows.gid == gid]
        assert int(level.n.sum()) == total


def test_count_min_never_underestimates(spark, sf_dir):
    rows = REGISTRY["agg_count_min"].builder(spark, sf_dir).toPandas()
    assert len(rows) == CMS_PROBE_KEYS
    assert rows.no_underestimate.all()
    assert (rows.cms_est >= rows.exact_n).all()
    # sanity: the probe set includes genuinely present keys
    assert (rows.exact_n > 0).any()


# ---------------------------------------------------------------------------
# corpus_extras
# ---------------------------------------------------------------------------
def test_substring_rewrite_conservation(spark, sf_dir):
    out = (
        REGISTRY["dedup_substring_rewrite"].builder(spark, sf_dir).toPandas()
    )
    # keeper conservation: exactly one survivor per distinct chunk
    docs = load_table(spark, sf_dir, "documents")
    from doc2dataset_spark.queries.corpus_extras import _SUBCHUNKS, _TOKS

    # the SAME filter the query uses (empty tokens removed): split('') is
    # [''] so a whitespace-only doc would pass a split-based filter and
    # sequence(0, -1) = [0, -1] would fabricate two empty chunks (ADVICE r5)
    ch = docs.filter(F.size(F.expr(_TOKS)) > 0).select(
        F.explode(F.expr(_SUBCHUNKS)).alias("chunk")
    )
    n_distinct = ch.distinct().count()
    assert int(out.n_kept.sum()) == n_distinct
    # per-doc bounds + the corpus really contains duplicates
    assert (out.n_kept <= out.n_chunks).all()
    assert (out.n_kept < out.n_chunks).any()
    # untouched documents reconstruct verbatim (token-joined)
    sample = out[out.n_kept == out.n_chunks].head(5)
    texts = {
        r["doc_id"]: r["joined"]
        for r in docs.select(
            "doc_id",
            F.array_join(
                F.expr(
                    "filter(split(lower(text), '\\\\s+'), t -> t <> '')"
                ),
                " ",
            ).alias("joined"),
        )
        .filter(F.col("doc_id").isin([int(x) for x in sample.doc_id]))
        .collect()
    }
    for _, r in sample.iterrows():
        assert r.clean_text == texts[r.doc_id]


def test_pq_codes_and_scores(spark, sf_dir):
    from doc2dataset_spark.queries.corpus_extras import _pq_parts

    codes, _ = _pq_parts(spark, sf_dir)
    pdf = codes.toPandas()
    n_vec = pdf.vec_id.nunique()
    # every vector gets exactly one code per sub-space, all codes valid
    assert len(pdf) == n_vec * PQ_M
    assert pdf.code.between(0, PQ_K - 1).all()
    top = REGISTRY["sim_ann_pq"].builder(spark, sf_dir).toPandas()
    per = top.groupby("qid")
    assert (per.size() == PQ_TOPK).all()
    assert (top.qid != top.cid).all()
    for _, grp in list(per)[:10]:
        s = list(grp.sort_values("rk").score_pq)
        assert s == sorted(s, reverse=True)


def test_pq_recall_bounds(spark, sf_dir):
    rows = REGISTRY["ann_pq_recall"].builder(spark, sf_dir).toPandas()
    assert len(rows) == PQ_NQ
    assert rows.recall.between(0.0, 1.0).all()
    assert (rows.n_hits <= PQ_TOPK).all()
    # trained 32-bit codes retrieve something real even on this
    # PQ-pessimal corpus
    assert rows.recall.mean() > 0.05


def test_grouped_agg_udf_matches_builtin(spark, sf_dir):
    rows = (
        REGISTRY["q36_grouped_agg_udf"].builder(spark, sf_dir).toPandas()
    ).set_index("l_returnflag")
    ref = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("s"))
        .toPandas()
        .set_index("l_returnflag")
    )
    for flag in ref.index:
        assert int(rows.loc[flag, "sum_qty"]) == int(ref.loc[flag, "s"])


def test_bloom_filter_guarantees(spark, sf_dir):
    rows = REGISTRY["agg_bloom_filter"].builder(spark, sf_dir).toPandas()
    # one-sided error: membership never missed
    assert rows.no_false_negative.all()
    assert int((rows.present & ~rows.in_bloom).sum()) == 0
    # the probe set genuinely exercises both branches
    assert rows.present.any() and (~rows.present).any()
    # flag algebra consistent
    assert (
        (rows.in_bloom & ~rows.present) == rows.is_false_positive
    ).all()


def test_ivfpq_composition(spark, sf_dir):
    """IVF-PQ candidates are exactly the query's cell (coarse bound) and
    scores come from the same PQ machinery sim_ann_pq uses: every
    (qid, cid) in the result shares the qid's cell, and each query's
    result is capped at top-k with descending scores."""
    from doc2dataset_spark.queries.corpus_extras import PQ_TOPK

    top = REGISTRY["sim_ann_ivfpq"].builder(spark, sf_dir).toPandas()
    per = top.groupby("qid")
    assert (per.size() <= PQ_TOPK).all()
    assert (top.qid != top.cid).all()
    for _, grp in list(per)[:10]:
        s = list(grp.sort_values("rk").score_pq)
        assert s == sorted(s, reverse=True)
    # cell-bounded candidates: fewer result rows than the unblocked PQ
    # search would admit is allowed, but the result must be non-trivial
    assert len(top) > 0


def test_pagerank_mass_and_hubs(spark, sf_dir):
    """Rank mass stays ~1 over the dangling-free symmetric graph and the
    highest-ranked nodes are the highest-degree ones (template hubs)."""
    rows = REGISTRY["graph_pagerank"].builder(spark, sf_dir).toPandas()
    assert (rows.pagerank > 0).all()
    # symmetric graph = no dangling mass; total stays ≈ 1
    assert abs(rows.pagerank.sum() - 1.0) < 0.01
    # top-ranked node has at least median degree (sanity, not exactness)
    pairs = REGISTRY["dedup_simhash_pairs"].builder(spark, sf_dir).toPandas()
    import pandas as pd

    deg = pd.concat([pairs.da, pairs.db]).value_counts()
    top = rows.sort_values("pagerank", ascending=False).doc_id.iloc[0]
    assert deg.get(top, 0) >= deg.median()


def test_cc_canonical_one_keeper_per_cluster(spark, sf_dir):
    rows = REGISTRY["dedup_cc_canonical"].builder(spark, sf_dir).toPandas()
    per = rows.groupby("cluster_id")
    # exactly one keeper per cluster, membership counts consistent
    assert (per.keep.sum() == 1).all()
    assert (per.size() == per.n_members.first()).all()
    # the keeper is its own canonical
    keepers = rows[rows.keep]
    assert (keepers.doc_id == keepers.canonical_id).all()


def test_substring_rewrite_against_python_reference(spark, tmp_path):
    """Keep-first semantics verified against an independent pure-Python
    reference on adversarial documents: a full duplicate (keeps nothing),
    a shared prefix (keeps only its new tail), internal repetition
    (second copy dropped), and a lone partial chunk (verbatim)."""
    import pandas as pd

    from doc2dataset_spark.queries.corpus_extras import SUB_W

    a = [f"a{i}" for i in range(40)]
    c = a[:16] + [f"c{i}" for i in range(16)]
    d = [f"d{i}" for i in range(16)] * 2
    e = ["e0", "e1", "e2", "e3", "e4"]
    docs = {1: a, 2: a[:], 3: c, 4: d, 5: e}

    def ref():
        seen, out = set(), {}
        for doc_id in sorted(docs):
            toks = docs[doc_id]
            chunks = [
                " ".join(toks[i : i + SUB_W])
                for i in range(0, len(toks), SUB_W)
            ]
            kept = []
            for chk in chunks:
                if chk not in seen:
                    seen.add(chk)
                    kept.append(chk)
            out[doc_id] = (len(chunks), len(kept), " ".join(kept))
        return out

    src = tmp_path / "mini"
    src.mkdir()
    pd.DataFrame(
        {
            "doc_id": list(docs),
            "text": [" ".join(t) for t in docs.values()],
            "lang": ["en"] * 5,
            "source": ["s"] * 5,
            "n_chars": [len(" ".join(t)) for t in docs.values()],
        }
    ).to_parquet((src / "documents.parquet").as_posix())

    got = {
        r.doc_id: (r.n_chunks, r.n_kept, r.clean_text)
        for r in REGISTRY["dedup_substring_rewrite"]
        .builder(spark, src.as_posix())
        .collect()
    }
    want = ref()
    assert got == want
    assert got[2][1] == 0 and got[2][2] == ""  # full duplicate emptied
    assert got[5][2] == "e0 e1 e2 e3 e4"  # partial chunk verbatim


def test_packed_key_guard_raises_on_overflow(spark):
    """ADVICE r5: the (doc_id, ci) bigint packing silently mis-orders
    first-occurrence selection past 2^20 chunks or doc_id >= 2^43 — the
    guard must fail loudly per violating row, not dedup wrongly."""
    import pytest
    from doc2dataset_spark.queries.corpus_extras import _CI_PACK, _packed_key

    ok = spark.createDataFrame(
        [(7, 3), ((1 << 43) - 1, _CI_PACK - 1)], "doc_id long, ci long"
    )
    vals = [r[0] for r in ok.select(_packed_key()).collect()]
    assert vals[0] == 7 * _CI_PACK + 3

    for bad_doc, bad_ci in [(1 << 43, 0), (1, _CI_PACK), (-1, 0)]:
        bad = spark.createDataFrame(
            [(bad_doc, bad_ci)], "doc_id long, ci long"
        )
        with pytest.raises(Exception, match="packing overflow"):
            bad.select(_packed_key()).collect()


def test_pq_parts_memoized_per_session(spark, sf_dir):
    """ADVICE r5: repeated _pq_parts entries must share one cached
    sub-vector frame / trained codebook instead of re-training and
    re-caching per query (the BENCH_r05 'already cached' warnings)."""
    from doc2dataset_spark.queries.corpus_extras import _pq_parts

    a = _pq_parts(spark, sf_dir)
    b = _pq_parts(spark, sf_dir)
    assert a[0] is b[0] and a[1] is b[1]
