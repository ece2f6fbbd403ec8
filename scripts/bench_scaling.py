#!/usr/bin/env python
"""Scaling-curve benchmark: how do per-query times grow with data size?

Two parts:

1. ``curve``  — run the headline set at every shipped SF (0.001/0.01/0.1,
   a real 100× span) on BOTH engines and report per-query times plus the
   log-log slope over the last decade (slope 1.0 = linear scaling; <1 =
   fixed-overhead-dominated; >1 = superlinear, the red flag).
2. ``make-big`` + ``big`` — synthesize sf0.5 (5× key-offset replication of
   sf0.1, FKs preserved, dims unreplicated) under .bench_scale/ and run
   the HEAVY subset on it, extending the Spark curve past the shipped
   data. Replica documents get a distinct lead token and replica vectors
   are exact twins, so dup density grows (noted in BASELINE.md) — the
   timing signal is still the join/shuffle volume.

Usage:
    python scripts/bench_scaling.py curve
    python scripts/bench_scaling.py make-big && python scripts/bench_scaling.py big

Output: one JSON line per (sf, engine) with per-query seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from doc2dataset_spark.queries import REGISTRY  # noqa: E402
from doc2dataset_spark.session import get_spark, load_table  # noqa: E402

SHIPPED = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
_SCALE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_scale"
)
BIG_DIR = os.path.join(_SCALE_ROOT, "sf0.5")
REPLICAS = 5
# round-6: one more decade — sf1 = 10x sf0.1, same FK-preserving recipe
BIG1_DIR = os.path.join(_SCALE_ROOT, "sf1")
REPLICAS1 = 10

HEADLINE = [
    "q01_project_filter", "q08_join_chain", "q12_range_join", "q14_tpch_q1",
    "q19_topk", "q22_frame_windows", "q31_sessionize", "q32_asof_join",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_embedding_cosine", "sim_cosine_topk",
    "sim_ann_hyperplane", "q35_term_freq", "text_quality_score",
    "text_fingerprint", "q12b_bucketed_range_join", "sim_ann_ivf",
    "agg_percentiles", "text_tfidf_topk", "sample_deterministic",
    "dedup_cluster_cc",
    # round-5 training-pipeline ops
    "pack_sequences", "text_repetition_bigram", "dedup_boilerplate_spans",
    "shuffle_deterministic", "dedup_cross_source", "curate_corpus",
]
# heavy subset for the replicated big run (DuckDB skipped where its oracle
# is known 10-100x slower already — the point is the Spark slope)
BIG_SET = [
    "q01_project_filter", "q08_join_chain", "q14_tpch_q1",
    "q22_frame_windows", "q31_sessionize", "dedup_exact",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_embedding_cosine", "sim_ann_hyperplane", "text_tfidf_topk",
    "text_quality_score", "dedup_cluster_cc",
    "pack_sequences", "text_repetition_bigram", "dedup_boilerplate_spans",
    "curate_corpus",
]

# round-5 session-3 ops: rewrite dedup, sketches, trained PQ, SQL surface
SESSION3_SET = [
    "dedup_substring_rewrite", "sim_ann_pq", "ann_pq_recall",
    "sim_ann_ivfpq", "graph_pagerank",
    "agg_count_min", "agg_bloom_filter", "q37_recursive_cte",
    "q38_lateral_topk", "q40_listagg", "q17c_grouping_sets",
]

# round-6 ops: rerank search, text search, quality/mixture/diff, composed
# curate (now 4-stage)
ROUND6_SET = [
    "sim_ann_pq_rerank", "search_bm25_topk", "search_boolean_and",
    "search_phrase", "search_fuzzy_term", "text_gopher_rules",
    "sample_quality_weighted", "sample_mixture_rebalance",
    "corpus_snapshot_diff", "curate_corpus", "q45_tpch_q3", "q46_tpch_q5",
]

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def spark_time(spark, name: str, sf_dir: str, runs: int = 2) -> float:
    spec = REGISTRY[name]
    best = float("inf")
    for _ in range(runs):
        t0 = time.time()
        spec.builder(spark, sf_dir).count()
        best = min(best, time.time() - t0)
    return round(best, 3)


def duck_time(name: str, sf_dir: str, runs: int = 1) -> float | None:
    spec = REGISTRY[name]
    if not spec.oracle:
        return None
    con = duckdb.connect()
    con.execute(f"SET threads={os.environ.get('SPARK_GRAFT_CPUS', 32)}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    best = float("inf")
    for _ in range(runs):
        t0 = time.time()
        con.sql(spec.oracle).fetchall()
        best = min(best, time.time() - t0)
    return round(best, 3)


def run_set(spark, names, sf_dir, with_duck: bool) -> None:
    load_table(spark, sf_dir, "lineitem").count()  # warmup
    s_times, d_times = {}, {}
    for name in names:
        if name not in REGISTRY:
            continue
        s_times[name] = spark_time(spark, name, sf_dir)
        if with_duck:
            d_times[name] = duck_time(name, sf_dir)
        print(
            f"# {sf_dir.rsplit('/',1)[-1]} {name}: spark={s_times[name]}s"
            + (f" duckdb={d_times.get(name)}s" if with_duck else ""),
            file=sys.stderr,
        )
    print(json.dumps({"sf_dir": sf_dir, "spark": s_times, "duckdb": d_times}))


# round-6 heavy six (verdict Next round #7): the shuffle-dominant dedup/
# ANN/graph operators whose slopes decide 100 TB viability
HEAVY6 = [
    "dedup_cluster_cc", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_embedding_cell", "sim_ann_pq", "graph_pagerank",
]


def _exec_metric_totals(spark) -> dict[str, int]:
    """Cumulative shuffle/spill bytes from the UI REST API (needs a
    spark.ui.enabled session — heavy6 mode builds its own)."""
    import json as _json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    tot = {"shuffle_read": 0, "shuffle_write": 0,
           "spill_mem": 0, "spill_disk": 0, "input_bytes": 0}
    if not base:
        return tot
    url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            stages = _json.load(r)
    except Exception:  # pragma: no cover - UI off or race
        return tot
    for s in stages:
        tot["shuffle_read"] += int(s.get("shuffleReadBytes", 0))
        tot["shuffle_write"] += int(s.get("shuffleWriteBytes", 0))
        tot["spill_mem"] += int(s.get("memoryBytesSpilled", 0))
        tot["spill_disk"] += int(s.get("diskBytesSpilled", 0))
        tot["input_bytes"] += int(s.get("inputBytes", 0))
    return tot


# round-7 additions (verdict Next round #7): the round-6/7 ops that
# earned scale claims this round — the de-windowed search/collocation
# pair, the heavy-hitters sketch, both curation paths, multi-table LSH
HEAVY_R7 = [
    "search_bm25_topk", "text_pmi_pairs", "text_heavy_hitters",
    "curate_corpus", "curate_corpus_indexed", "sim_ann_hyperplane_multi",
    "search_bm25_indexed", "sim_ann_ivf_indexed",
]

# round-7 new query set: slope data vs DuckDB at the shipped SFs
ROUND7_SET = [
    "q48_tpch_q10", "q49_tpch_q18", "curriculum_length_buckets",
    "corpus_source_overlap", "text_lang_fertility",
    "sample_cluster_balanced", "join_salted_replicated",
    "search_hybrid_rrf", "sim_ann_hyperplane_multi",
    "ann_hyperplane_multi_recall", "search_bm25_indexed",
    "sim_ann_ivf_indexed",
]


# round-7 TPC-H completion: all 16 expressible TPC-H shapes, slope data
# vs DuckDB at the shipped SFs; the join-heavy five get sf1 shuffle/spill
# metrics (run_heavy6) to extend the scale-decade evidence
TPCH_SET = [
    "q14_tpch_q1", "q45_tpch_q3", "q46_tpch_q5", "q50_tpch_q6",
    "q48_tpch_q10", "q49_tpch_q18",
    "q54_tpch_q4", "q55_tpch_q7", "q56_tpch_q8", "q57_tpch_q9",
    "q58_tpch_q13", "q59_tpch_q15", "q60_tpch_q17", "q61_tpch_q22",
    "q62_tpch_q14", "q63_tpch_q19",
    # 22/22 completion: derived-partsupp four + Q12/Q21 adaptations
    "q64_tpch_q2", "q65_tpch_q11", "q66_tpch_q16", "q67_tpch_q20",
    "q68_tpch_q12", "q69_tpch_q21",
]
TPCH_HEAVY = [
    "q55_tpch_q7", "q56_tpch_q8", "q57_tpch_q9", "q49_tpch_q18",
    "q58_tpch_q13",
]

# round-7 session-2 ops: dataset maintenance + storage layout + the
# late wave (KMV sketch, windowed funnel, retail analytics)
ROUND7B_SET = [
    "merge_cdc_apply", "rollup_incremental_merge",
    "join_bucketed_colocated", "join_dpp_partitioned",
    "agg_bottomk_sketch", "events_funnel_windowed",
    "customer_rfm_segments", "basket_pair_lift",
]

ROUND7C_SET = [
    "corpus_health_report", "events_resample_interp", "events_ewma",
]

ROUND7D_SET = ["quality_psi_drift", "q74_higher_order_fns"]

# round-7 session-5 ops: PPJoin prefix join + stats, clustering
# coefficient, k-core, temperature mixture
ROUND7E_SET = [
    "dedup_jaccard_prefix", "dedup_prefix_stats", "graph_clustering_coef",
    "graph_kcore", "sample_temperature_mix",
]

# round-7 session-6 ops: bigram-LM perplexity, BPE pair stats, DSIR
ROUND7F_SET = ["text_lm_perplexity", "text_bpe_pairs", "quality_dsir_weights"]

# round-7 session-7 trainers + their round-9 apply-side closures
# (graph_kcore / graph_clustering_coef slopes live in the round7e table)
ROUND7G_SET = [
    "quality_classifier_lr",
    "text_bpe_merges",
    "text_bpe_encode",
    "curate_corpus_scored",
]

# round-9 warm serving paths, each beside its cold twin: the measured
# claim is the warm/cold ratio per SF, not the absolute walls. First run
# at an SF pays the artifact build (mtime-keyed /tmp cache); min-of-2
# reports the warm steady state.
ROUND9_SET = [
    "dedup_minhash_lsh",
    "dedup_minhash_indexed",
    "curate_corpus_scored",
    "curate_corpus_scored_indexed",
]

# round-10 additions: winnowing warm-vs-cold + the detector-evaluation
# rows (dedup_embedding_cell_recall embeds the exact O(n^2) cosine
# ground truth, so it runs at shipped SFs only — at sf1's 20k replicated
# vectors the truth side, not the detector, dominates the wall)
ROUND10_SET = [
    "dedup_winnow",
    "dedup_winnow_indexed",
    "dedup_simhash_recall",
    "dedup_embedding_cell_recall",
]
ROUND10_SF1_SET = [
    "dedup_winnow",
    "dedup_winnow_indexed",
    "dedup_simhash_recall",
]

# round-11 additions: detection->decision ops + the incremental cluster
# state machine. embedding_mrl_recall runs at shipped SFs only — it
# embeds TWO exact O(n^2) tiled top-k graphs (full-dim truth AND the
# truncated side), so at sf1 the exact ground truths, not the operator
# under test, dominate the wall (the dedup_embedding_cell_recall
# precedent). dedup_cluster_keep_best / dedup_cluster_incremental embed
# the full SimHash pair detection + CC, so their sf1 walls are
# detection-dominated; the incremental row's own claim (subgraph-local
# fold) is measured separately by run_incremental_cluster below.
ROUND11_SET = [
    "dedup_cluster_keep_best",
    "curate_ccnet_buckets",
    "embedding_mrl_recall",
    "dedup_cluster_incremental",
]
ROUND11_SF1_SET = [
    "dedup_cluster_keep_best",
    "curate_ccnet_buckets",
    "dedup_cluster_incremental",
]


def run_heavy6(spark, sf_dir: str, names: list[str] | None = None) -> None:
    """Heavy-set wall time + per-query shuffle/spill deltas."""
    load_table(spark, sf_dir, "documents").count()  # warmup
    out = {}
    for name in names or HEAVY6:
        before = _exec_metric_totals(spark)
        t = spark_time(spark, name, sf_dir, runs=1)
        after = _exec_metric_totals(spark)
        out[name] = {
            "sec": t,
            **{
                k: round((after[k] - before[k]) / 1e6, 1)
                for k in before
            },
        }
        print(f"# {sf_dir.rsplit('/', 1)[-1]} {name}: {out[name]}",
              file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "heavy6": out,
                      "units": "sec / MB"}))


def make_big(big_dir: str = BIG_DIR, replicas: int = REPLICAS) -> None:
    """Key-offset replication of sf0.1 (FKs preserved; region/nation
    stay fixed like real dimension tables)."""
    os.makedirs(big_dir, exist_ok=True)
    con = duckdb.connect()
    src = "/root/testdata/sf0.1"
    offs = {  # key offsets = 10x the max key, per table domain
        "cust": 1_000_000, "ord": 10_000_000, "part": 1_000_000,
        "supp": 100_000, "doc": 1_000_000, "vec": 1_000_000,
        "user": 1_000_000, "event": 10_000_000,
    }
    rep = f"(SELECT unnest(range({replicas})) AS r)"
    plans = {
        "region": "SELECT * FROM t",
        "nation": "SELECT * FROM t",
        "supplier": f"""SELECT s_suppkey + r*{offs['supp']} AS s_suppkey,
            s_name, s_nationkey, s_acctbal FROM t, {rep}""",
        "customer": f"""SELECT c_custkey + r*{offs['cust']} AS c_custkey,
            c_name, c_nationkey, c_acctbal, c_mktsegment FROM t, {rep}""",
        "part": f"""SELECT p_partkey + r*{offs['part']} AS p_partkey,
            p_name, p_brand, p_type, p_size, p_retailprice FROM t, {rep}""",
        "orders": f"""SELECT o_orderkey + r*{offs['ord']} AS o_orderkey,
            o_custkey + r*{offs['cust']} AS o_custkey, o_orderstatus,
            o_totalprice, o_orderdate, o_orderpriority FROM t, {rep}""",
        "lineitem": f"""SELECT l_orderkey + r*{offs['ord']} AS l_orderkey,
            l_partkey + r*{offs['part']} AS l_partkey,
            l_suppkey + r*{offs['supp']} AS l_suppkey, l_linenumber,
            l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag,
            l_linestatus, l_shipdate FROM t, {rep}""",
        "events": f"""SELECT event_id + r*{offs['event']} AS event_id, ts,
            user_id + r*{offs['user']} AS user_id, event_type, value, props
            FROM t, {rep}""",
        "documents": f"""SELECT doc_id + r*{offs['doc']} AS doc_id,
            'r' || r || ' ' || text AS text, lang, source, n_chars
            FROM t, {rep}""",
        "embeddings": f"""SELECT vec_id + r*{offs['vec']} AS vec_id,
            embedding, label FROM t, {rep}""",
    }
    for t, sql in plans.items():
        con.execute(
            f"""COPY (WITH t AS (SELECT * FROM
                read_parquet('{src}/{t}.parquet')) {sql})
                TO '{big_dir}/{t}.parquet' (FORMAT PARQUET)"""
        )
        print(f"# wrote {t}", file=sys.stderr)


def run_incremental_dedup(spark) -> None:
    """The daily-batch claim, measured (round 10): split the sf1 corpus
    90/10, index the 90% once, then time (a) appending the 10% batch and
    (b) its new-vs-corpus candidate/pair query — against (c) the full
    from-scratch dedup wall a rebuild-everything pipeline would pay.
    Runs both incremental indexes (MinHash bands, winnow fingerprints).
    Falls back to sf0.1 when the sf1 twin isn't built."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from doc2dataset_spark.operators.minhash_index import (
        append_minhash_batch,
        new_batch_candidates,
    )
    from doc2dataset_spark.operators.winnow_index import (
        append_winnow_batch,
        new_batch_pairs,
    )
    from doc2dataset_spark.queries.dedup import minhash_verify

    sf_dir = BIG1_DIR if os.path.exists(BIG1_DIR) else SHIPPED[-1]
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    out = {"sf_dir": sf_dir, "corpus_docs": docs.count(),
           "batch_docs": new.count()}
    root = tempfile.mkdtemp(prefix="inc_bench_")
    try:
        for kind, append, query_fn in (
            (
                "minhash",
                append_minhash_batch,
                # index gives candidates; the comparable end-to-end unit
                # includes the shared exact-Jaccard verification stage
                lambda idx: minhash_verify(
                    spark, sf_dir, new_batch_candidates(spark, idx, 1)
                ),
            ),
            ("winnow", append_winnow_batch,
             lambda idx: new_batch_pairs(spark, idx, 1)),
        ):
            idx = os.path.join(root, kind)
            t0 = time.time()
            append(spark, old, idx, 0)
            base_build = round(time.time() - t0, 2)
            t0 = time.time()
            append(spark, new, idx, 1)
            append_sec = round(time.time() - t0, 2)
            t0 = time.time()
            n_pairs = query_fn(idx).count()
            query_sec = round(time.time() - t0, 2)
            full_name = (
                "dedup_minhash_lsh" if kind == "minhash" else "dedup_winnow"
            )
            full_sec = spark_time(spark, full_name, sf_dir, runs=1)
            out[kind] = {
                "base_build_sec": base_build,
                "batch_append_sec": append_sec,
                "new_vs_corpus_sec": query_sec,
                "incremental_total_sec": round(append_sec + query_sec, 2),
                "full_rebuild_dedup_sec": full_sec,
                "new_pairs": n_pairs,
            }
            print(f"# incremental {kind}: {out[kind]}", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


def run_incremental_cluster(spark) -> None:
    """The subgraph-local cluster-fold claim, measured: split the corpus
    90/10, band-index the 90% and fold its pairs into cluster state (the
    one-time base cost), then time the daily unit — append the 10% batch
    to the index, pull its new-vs-corpus candidates, apply_batch into
    the persisted labels — against the full-recompute wall (one CC over
    ALL candidate pairs plus the corpus singleton join). Falls back to
    sf0.1 when the sf1 twin isn't built."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from doc2dataset_spark.operators.cluster_state import (
        apply_batch,
        serve_labels,
    )
    from doc2dataset_spark.operators.minhash_index import (
        append_minhash_batch,
        new_batch_candidates,
    )
    from doc2dataset_spark.queries.dedup import cc_labels_from_pairs

    sf_dir = BIG1_DIR if os.path.exists(BIG1_DIR) else SHIPPED[-1]
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    out = {"sf_dir": sf_dir, "corpus_docs": docs.count(),
           "batch_docs": new.count()}
    root = tempfile.mkdtemp(prefix="inc_cluster_")
    try:
        idx = os.path.join(root, "mh")
        state = os.path.join(root, "state")
        t0 = time.time()
        append_minhash_batch(spark, old, idx, 0)
        p0 = new_batch_candidates(spark, idx, 0).select("da", "db")
        apply_batch(spark, state, p0, old.select("doc_id"), batch_id=0)
        out["base_build_sec"] = round(time.time() - t0, 2)

        t0 = time.time()
        append_minhash_batch(spark, new, idx, 1)
        p1 = new_batch_candidates(spark, idx, 1).select("da", "db")
        stats1 = apply_batch(
            spark, state, p1, new.select("doc_id"), batch_id=1
        )
        out["incremental_total_sec"] = round(time.time() - t0, 2)
        out["batch_stats"] = stats1

        t0 = time.time()
        full = cc_labels_from_pairs(p0.union(p1))
        n_full = (
            docs.select("doc_id")
            .join(full, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            )
            .count()
        )
        out["full_recompute_sec"] = round(time.time() - t0, 2)

        t0 = time.time()
        n_served = serve_labels(spark, state).count()
        out["serve_sec"] = round(time.time() - t0, 2)
        assert n_served == n_full == out["corpus_docs"]
        print(f"# incremental cluster: {out}", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


def run_scored_gate(spark) -> None:
    """Streaming scored-gate per-batch wall at sf1 batches (round-9
    verdict, Next round #6): train+persist the fixed-point model once on
    the sf1 corpus (the one-time ingest-side cost), then score the
    corpus as 10 arriving batches through the exact foreachBatch unit
    (score_batch + per-batch overwrite write) and report per-batch wall
    and docs/s. Falls back to sf0.1 when the sf1 twin isn't built."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from doc2dataset_spark.queries.quality_classifier import save_fx_model
    from doc2dataset_spark.streaming.scored_gate import (
        load_fx_model,
        score_batch,
    )

    sf_dir = BIG1_DIR if os.path.exists(BIG1_DIR) else SHIPPED[-1]
    mdir = tempfile.mkdtemp(prefix="sg_model_")
    out = tempfile.mkdtemp(prefix="sg_out_")
    try:
        t0 = time.time()
        save_fx_model(spark, sf_dir, mdir)
        train_sec = round(time.time() - t0, 2)
        w, b, thr = load_fx_model(spark, mdir)
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        k = 10
        batches = []
        for i in range(k):
            bd = docs.filter(F.col("doc_id") % k == i)
            t0 = time.time()
            score_batch(bd, w, b, thr).write.mode("overwrite").parquet(
                f"{out}/batch={i}"
            )
            wall = round(time.time() - t0, 2)
            rows = spark.read.parquet(f"{out}/batch={i}").count()
            batches.append({"batch": i, "sec": wall, "rows": rows})
            print(
                f"# scoredgate batch {i}: {wall}s {rows} rows "
                f"({round(rows / max(wall, 1e-9))} docs/s)",
                file=sys.stderr,
            )
        total_rows = sum(x["rows"] for x in batches)
        total_sec = sum(x["sec"] for x in batches)
        print(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "train_sec": train_sec,
                    "batches": batches,
                    "total_rows": total_rows,
                    "total_sec": round(total_sec, 2),
                    "docs_per_sec": round(total_rows / max(total_sec, 1e-9)),
                }
            )
        )
    finally:
        shutil.rmtree(mdir, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def run_maintenance(spark) -> None:
    """Price the maintenance verbs at sf1 (round-11 verdict, Next round
    #3/#7): per index family, delete 0.1%/1%/10% key fractions and record
    partitions rewritten vs total (the O(affected-partitions) claim as
    numbers); forget docs from cluster state with the member-scoped
    relabel; apply a mixed upsert/delete CDC changelog; and measure
    serve_labels wall at 10/50/100-batch log depths pre/post compaction.
    Falls back to sf0.1 when the sf1 twin isn't built."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from doc2dataset_spark.operators.cluster_state import (
        apply_batch,
        compact_labels,
        forget_docs,
        member_pairs_minhash,
        serve_labels,
        _labels_path,
    )
    from doc2dataset_spark.operators.index_maintenance import (
        compact_index_history,
        delete_docs_minhash,
        delete_docs_text,
        delete_docs_winnow,
        delete_vecs_ivf,
        sync_minhash_index_cdc,
        sync_text_index_cdc,
    )
    from doc2dataset_spark.operators.minhash_index import (
        _bands_path,
        build_minhash_index,
        candidates_from_index,
    )
    from doc2dataset_spark.operators.text_index import (
        _postings_path as _tx_path,
        build_text_index,
    )
    from doc2dataset_spark.operators.vector_index import (
        _postings_path as _ivf_path,
        build_ivf_index,
    )
    from doc2dataset_spark.operators.winnow_index import (
        _postings_path as _wn_path,
        build_winnow_index,
    )

    def leaf_partitions(root: str) -> int:
        # hive leaf dirs that actually hold parquet files
        leaves = set()
        for d, _, files in os.walk(root):
            if any(f.endswith(".parquet") for f in files):
                leaves.add(d)
        return len(leaves)

    sf_dir = BIG1_DIR if os.path.exists(BIG1_DIR) else SHIPPED[-1]
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    out = {"sf_dir": sf_dir, "corpus_docs": n_docs}
    root = tempfile.mkdtemp(prefix="maint_bench_")
    try:
        # ---- one-time builds (not the number under test, but recorded)
        idx = {}
        for kind, build, path_of in (
            ("minhash", build_minhash_index, _bands_path),
            ("winnow", build_winnow_index, _wn_path),
            ("text", build_text_index, _tx_path),
            ("ivf", build_ivf_index, _ivf_path),
        ):
            d = os.path.join(root, kind)
            t0 = time.time()
            build(spark, sf_dir, d)
            idx[kind] = {"dir": d, "postings": path_of(d),
                         "build_sec": round(time.time() - t0, 2)}
            print(f"# built {kind} in {idx[kind]['build_sec']}s",
                  file=sys.stderr)

        # ---- cluster state from the band index (forget_docs target)
        state = os.path.join(root, "state")
        pairs = candidates_from_index(spark, idx["minhash"]["dir"]).select(
            "da", "db"
        )
        t0 = time.time()
        apply_batch(spark, state, pairs, docs.select("doc_id"), batch_id=0)
        out["state_build_sec"] = round(time.time() - t0, 2)

        # ---- forget_docs: RTBF with member-scoped relabel (possible
        # splits). Victims = ~0.1% of doc_ids; band-index deletion first
        # (the provider contract), then the state relabel.
        victims = [
            r[0]
            for r in docs.filter(F.col("doc_id") % 1009 == 7)
            .select("doc_id")
            .collect()
        ]
        t0 = time.time()
        del_stats = delete_docs_minhash(spark, idx["minhash"]["dir"], victims)
        fg = forget_docs(
            spark,
            state,
            victims,
            member_pairs_minhash(spark, idx["minhash"]["dir"]),
            batch_id=1,
        )
        out["forget"] = {
            "n_victims": len(victims),
            "index_delete": del_stats,
            "state_stats": fg,
            "sec": round(time.time() - t0, 2),
        }
        print(f"# forget: {out['forget']}", file=sys.stderr)

        # ---- per-family fraction deletes: disjoint key sets so each
        # fraction measures a fresh deletion (the index shrinks by the
        # prior fractions' rows — noted, second-order at these sizes)
        fractions = ((0.001, 997, 3), (0.01, 101, 5), (0.1, 10, 1))
        for kind, deleter, key_src in (
            ("minhash", delete_docs_minhash, "doc"),
            ("winnow", delete_docs_winnow, "doc"),
            ("text", delete_docs_text, "doc"),
            ("ivf", delete_vecs_ivf, "vec"),
        ):
            if key_src == "doc":
                keys_frame = docs.select("doc_id")
                col = "doc_id"
            else:
                keys_frame = load_table(spark, sf_dir, "embeddings").select(
                    F.col("vec_id")
                )
                col = "vec_id"
            total = leaf_partitions(idx[kind]["postings"])
            rows = []
            for frac, mod, residue in fractions:
                ks = [
                    r[0]
                    for r in keys_frame.filter(
                        F.col(col) % mod == residue
                    ).collect()
                ]
                t0 = time.time()
                st = deleter(spark, idx[kind]["dir"], ks)
                sec = round(time.time() - t0, 2)
                rows.append(
                    {
                        "fraction": frac,
                        "n_keys": len(ks),
                        "sec": sec,
                        "partitions_total": total,
                        **st,
                    }
                )
                print(f"# delete {kind} {frac}: {rows[-1]}", file=sys.stderr)
                total = leaf_partitions(idx[kind]["postings"])
            out[f"delete_{kind}"] = rows

        # ---- partition-scoping demonstrated: a 20-batch band index,
        # then (a) forget one ingest batch's docs (the realistic RTBF
        # shape: a crawl snapshot, one user's uploads) vs (b) the same
        # key COUNT spread uniformly over all batches. (a) must rewrite
        # ~1/20th of the partitions; (b) touches nearly all of them —
        # the honest physics of posting deletion.
        multi = os.path.join(root, "mh_multi")
        from doc2dataset_spark.operators.minhash_index import (
            append_minhash_batch,
        )

        for b in range(20):
            append_minhash_batch(
                spark,
                docs.filter(F.col("doc_id") % 20 == b),
                multi,
                batch_id=b,
            )
        total = leaf_partitions(_bands_path(multi))
        one_batch_keys = [
            r[0]
            # ≡ 13 (mod 40) ⇒ inside ingest batch 13, half its docs
            for r in docs.filter(F.col("doc_id") % 40 == 13)
            .select("doc_id")
            .collect()
        ]
        t0 = time.time()
        st = delete_docs_minhash(spark, multi, one_batch_keys)
        clustered = {
            "n_keys": len(one_batch_keys),
            "sec": round(time.time() - t0, 2),
            "partitions_total": total,
            **st,
        }
        spread_keys = [
            r[0]
            # hash-based pick: decorrelated from doc_id % 20, so the
            # same key COUNT lands across (nearly) all ingest batches
            for r in docs.filter(F.pmod(F.hash("doc_id"), F.lit(40)) == 3)
            .select("doc_id")
            .collect()
        ]
        t0 = time.time()
        st = delete_docs_minhash(spark, multi, spread_keys)
        spread = {
            "n_keys": len(spread_keys),
            "sec": round(time.time() - t0, 2),
            "partitions_total": leaf_partitions(_bands_path(multi)),
            **st,
        }
        out["delete_scoping_20batch"] = {
            "clustered_one_batch": clustered,
            "spread_all_batches": spread,
        }
        print(
            f"# delete_scoping_20batch: {out['delete_scoping_20batch']}",
            file=sys.stderr,
        )

        # ---- CDC sync: mixed changelog, 1% upserts (rewritten text) +
        # 0.5% deletes, with overlap so delete-wins precedence is on the
        # measured path
        up = (
            docs.filter(F.col("doc_id") % 100 == 9)
            .select(
                "doc_id",
                F.concat(F.lit("v2 "), F.col("text")).alias("text"),
            )
            .withColumn("op", F.lit("upsert"))
        )
        dl = (
            docs.filter(F.col("doc_id") % 200 == 9)  # half overlap with up
            .select("doc_id", F.lit(None).cast("string").alias("text"))
            .withColumn("op", F.lit("delete"))
        )
        changelog = up.unionByName(dl)
        n_change = changelog.count()
        for kind, sync in (
            ("text", sync_text_index_cdc),
            ("minhash", sync_minhash_index_cdc),
        ):
            t0 = time.time()
            st = sync(spark, idx[kind]["dir"], changelog, batch_id=7)
            out[f"cdc_{kind}"] = {
                "changelog_rows": n_change,
                "sec": round(time.time() - t0, 2),
                **st,
            }
            print(f"# cdc {kind}: {out[f'cdc_{kind}']}", file=sys.stderr)

        # ---- index-history compaction: head-only claim as numbers —
        # compact the first half of an 8-batch winnow index and record
        # wall + files (tail batches are renamed, never rewritten)
        hist = os.path.join(root, "wn_hist")
        from doc2dataset_spark.operators.winnow_index import (
            append_winnow_batch,
        )

        for b in range(8):
            append_winnow_batch(
                spark, docs.filter(F.col("doc_id") % 8 == b), hist, batch_id=b
            )
        t0 = time.time()
        st = compact_index_history(spark, _wn_path(hist), upto_batch=3)
        out["compact_history"] = {
            "sec": round(time.time() - t0, 2),
            **st,
        }
        print(f"# compact_history: {out['compact_history']}", file=sys.stderr)

        # ---- serve_labels vs log depth, pre/post compaction: synthetic
        # 100-batch upsert log (batch 0 = full corpus self-labels, each
        # later batch upserts ~1% of docs), served through partition-
        # pruned prefixes at depth 10/50/100 — the same aggregate
        # serve_labels runs, reading only that many batch partitions
        depth_state = os.path.join(root, "depth_state")
        labels = _labels_path(depth_state)
        base = (
            docs.select("doc_id")
            .withColumn("cluster_id", F.col("doc_id"))
            .withColumn("batch_id", F.lit(0))
        )
        upserts = (
            docs.select("doc_id")
            .withColumn(
                "cluster_id", F.col("doc_id") - (F.col("doc_id") % 2)
            )
            .withColumn(
                "batch_id", (F.col("doc_id") % 99 + 1).cast("int")
            )
        )
        (
            base.unionByName(upserts)
            .repartition("batch_id")
            .write.partitionBy("batch_id")
            .parquet(labels)
        )
        depths = {}
        for depth in (10, 50, 100):
            pruned = (
                spark.read.parquet(labels)
                .filter(F.col("batch_id") < depth)
                .groupBy("doc_id")
                .agg(
                    F.expr("max_by(cluster_id, batch_id)").alias("cluster_id")
                )
                .filter(F.col("cluster_id").isNotNull())
            )
            t0 = time.time()
            n = pruned.count()
            depths[str(depth)] = {
                "serve_sec": round(time.time() - t0, 2),
                "rows": n,
            }
        t0 = time.time()
        compact_labels(spark, depth_state, upto_batch=99)
        compact_sec = round(time.time() - t0, 2)
        t0 = time.time()
        n = serve_labels(spark, depth_state).count()
        out["serve_depth"] = {
            "pre": depths,
            "compact_sec": compact_sec,
            "post_100": {
                "serve_sec": round(time.time() - t0, 2),
                "rows": n,
            },
        }
        print(f"# serve_depth: {out['serve_depth']}", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


def run_asof(
    spark, sf_dir: str, hot_keys: int | None = None,
    include_naive: bool = True,
) -> None:
    """Price the AS-OF rewrite (round 12): the linear-state carry
    (operators/asof.asof_join — union + one per-key ordered window)
    against the naive range-join + row_number plan (the q32 shape) on
    the SAME attribution semantics, matched-pairs equality asserted.

    ``hot_keys``: collapse user_id to this many keys (pmod) to expose
    the asymptotic difference — the naive plan's candidate count is
    sum_k(purchases_k x preceding_views_k), quadratic in per-key volume,
    while the carry touches each event exactly once. With natural keys
    the per-key volume is constant across SFs (make_big replicates
    users), so both scale linearly and only the constant factor and the
    candidate multiplier show; the hot variant is where the naive plan
    dies."""
    from pyspark.sql import Window as W  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    from doc2dataset_spark.operators.asof import asof_join  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        (
            F.pmod("user_id", F.lit(hot_keys)) if hot_keys else F.col("user_id")
        ).alias("user_id"),
        "event_type",
        "value",
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("v_value"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )

    t0 = time.time()
    carry = asof_join(
        purchases, views, on="ts", by=("user_id",), direction="backward"
    )
    n_carry_matched = carry.filter(F.col("r_ts").isNotNull()).count()
    carry_sec = time.time() - t0

    # the hot-key escape hatch: same semantics, every window partition
    # bounded by one day's per-key volume (span in µs)
    t0 = time.time()
    bucketed = asof_join(
        purchases, views, on="ts", by=("user_id",), direction="backward",
        bucket=86_400_000_000,
    )
    n_bucketed_matched = bucketed.filter(F.col("r_ts").isNotNull()).count()
    bucketed_sec = time.time() - t0
    assert n_bucketed_matched == n_carry_matched

    # the forward direction (round-13: the bucketed escape hatch now
    # covers it — the skewed next-event-attribution shape the round-12
    # verdict flagged as having no bounded-partition plan)
    t0 = time.time()
    fcarry = asof_join(
        purchases, views, on="ts", by=("user_id",), direction="forward"
    )
    n_fwd_matched = fcarry.filter(F.col("r_ts").isNotNull()).count()
    fwd_carry_sec = time.time() - t0
    t0 = time.time()
    fbucketed = asof_join(
        purchases, views, on="ts", by=("user_id",), direction="forward",
        bucket=86_400_000_000,
    )
    n_fwd_bucketed = fbucketed.filter(F.col("r_ts").isNotNull()).count()
    fwd_bucketed_sec = time.time() - t0
    assert n_fwd_bucketed == n_fwd_matched

    n_naive_matched = n_carry_matched
    naive_sec = None
    n_candidates = None
    t0 = time.time()
    p = purchases.alias("p")
    v = views.alias("v")
    joined = p.join(
        v,
        (F.col("p.user_id") == F.col("v.user_id"))
        & (F.col("v.ts") <= F.col("p.ts")),
    )
    w = W.partitionBy("p.event_id").orderBy(F.col("v.ts").desc())
    naive = joined.select(
        F.col("p.event_id").alias("event_id"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") == 1)
    if include_naive:
        n_naive_matched = naive.count()
        naive_sec = round(time.time() - t0, 2)
        n_candidates = joined.count()

    assert n_carry_matched == n_naive_matched, (
        n_carry_matched,
        n_naive_matched,
    )
    out = {
        "mode": "asof",
        "sf_dir": sf_dir,
        "hot_keys": hot_keys,
        "n_events": e.count(),
        "n_purchases": purchases.count(),
        "n_matched": n_carry_matched,
        "n_candidates_naive": n_candidates,
        "carry_sec": round(carry_sec, 2),
        "bucketed_carry_sec": round(bucketed_sec, 2),
        "n_matched_forward": n_fwd_matched,
        "forward_carry_sec": round(fwd_carry_sec, 2),
        "forward_bucketed_sec": round(fwd_bucketed_sec, 2),
        "naive_sec": naive_sec,
    }
    print(json.dumps(out))


def run_asof_auto(
    spark, sf_dir: str, hot_keys: int | None = None, replicate: int = 1
) -> None:
    """Price the ``bucket="auto"`` decision (round-14 verdict, Next
    round #4): on NATURAL keys the ANALYZE rule must resolve to None and
    the auto wall must track the plain carry; on a HOT-KEY collapse past
    the partition budget it must resolve to a positive span and track
    the manual bucketed carry. Match counts asserted equal across all
    arms — auto only chooses the physical plan.

    ``replicate``: event-level replication (ts jittered by replica
    index µs, so view keys stay unique) — the knob that pushes a single
    hot key past the 1M-row budget on the shipped data sizes."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from doc2dataset_spark.operators.asof import (  # noqa: PLC0415
        asof_join,
        resolve_auto_bucket,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        (
            F.pmod("user_id", F.lit(hot_keys)) if hot_keys else F.col("user_id")
        ).alias("user_id"),
        "event_type",
        "value",
    )
    if replicate > 1:
        reps = spark.range(replicate).withColumnRenamed("id", "rep")
        e = e.crossJoin(reps).select(
            (F.col("event_id") * replicate + F.col("rep")).alias("event_id"),
            F.timestamp_micros(
                F.unix_micros("ts") + F.col("rep")
            ).alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
        e = e.localCheckpoint()
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("v_value"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )

    t0 = time.time()
    decision = resolve_auto_bucket(purchases, views, "ts", ("user_id",))
    decide_sec = time.time() - t0

    walls, matched = {}, {}
    arms = {
        "plain": {},
        "auto": {"bucket": "auto"},
        "bucketed_1d": {"bucket": 86_400_000_000},
    }
    for label, kw in arms.items():
        t0 = time.time()
        j = asof_join(
            purchases, views, on="ts", by=("user_id",),
            direction="backward", **kw,
        )
        matched[label] = j.filter(F.col("r_ts").isNotNull()).count()
        walls[label] = round(time.time() - t0, 2)
    assert len(set(matched.values())) == 1, matched
    print(
        json.dumps(
            {
                "mode": "asof-auto",
                "sf_dir": sf_dir,
                "hot_keys": hot_keys,
                "replicate": replicate,
                "n_events": e.count(),
                "auto_decision_span_us": decision,
                "decide_sec": round(decide_sec, 2),
                "n_matched": matched["plain"],
                **{f"{k}_sec": v for k, v in walls.items()},
            }
        )
    )


def run_ht_rtbf(spark, sf_dir: str, n_batches: int = 30) -> None:
    """Price the cagg RTBF (round 15): build a watermarked partial log
    from ``n_batches`` EVENT-TIME slices (calendar slicing = the
    realistic arrival layout, so an hour's partials live in ~one batch
    — unlike the mod-slice worst case) and erase two cohort shapes:

    - ``narrow``: every event of ONE mid-corpus hour — affected hours
      = 1, touched partitions ~1 + anchor;
    - ``spread``: a user-id mod cohort — affected hours ~ all, touched
      partitions = all (the worst case the collapse-to-anchor design
      pays for up front).

    The claim under test: the forget wall tracks TOUCHED PARTITIONS
    (narrow stays flat as the log deepens; spread grows with depth),
    and the post-deletion serve still equals the filtered recompute
    (asserted). Each erasure runs on its own fresh copy of the log."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F  # noqa: PLC0415

    from doc2dataset_spark.streaming.hypertable import (  # noqa: PLC0415
        forget_hypertable_rows,
        ingest_hypertable_late_batch,
        serve_hypertable,
    )

    e = load_table(spark, sf_dir, "events").localCheckpoint()
    span = e.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).first()
    lo, hi = int(span["lo"]), int(span["hi"])
    step = (hi - lo) // n_batches + 1
    root = tempfile.mkdtemp(prefix="sg_ht_rtbf_")
    base = os.path.join(root, "base")
    try:
        t0 = time.time()
        for i in range(n_batches):
            ingest_hypertable_late_batch(
                e.filter(
                    (F.unix_micros("ts") >= lo + i * step)
                    & (F.unix_micros("ts") < lo + (i + 1) * step)
                ),
                base,
                i,
                lateness_us=2 * step,
            )
        build_wall = round(time.time() - t0, 2)

        mid_hour = F.date_trunc(
            "hour", F.timestamp_micros(F.lit(lo + (hi - lo) // 2))
        )
        cohorts = {
            "narrow": e.filter(F.date_trunc("hour", F.col("ts")) == mid_hour),
            "spread": e.filter(F.pmod("user_id", F.lit(97)) == 13),
        }
        out = {
            "mode": "ht-rtbf",
            "sf_dir": sf_dir,
            "n_batches": n_batches,
            "build_wall": build_wall,
        }
        for name, cohort in cohorts.items():
            copy = os.path.join(root, name)
            shutil.copytree(base, copy)
            t0 = time.time()
            res = forget_hypertable_rows(
                spark, copy, cohort, request_id=f"bench-{name}"
            )
            wall = round(time.time() - t0, 2)
            # correctness spot-check: the served fold equals the
            # filtered recompute at the hour level
            from doc2dataset_spark.streaming.hypertable import (  # noqa: PLC0415
                fold_hourly,
            )

            got = (
                fold_hourly(
                    spark.read.parquet(os.path.join(copy, "hourly")).drop(
                        "batch_id"
                    )
                )
                .agg(F.sum("n_events"))
                .first()[0]
            )
            want = e.join(
                cohort.select("event_id"), "event_id", "left_anti"
            ).count()
            assert got == want, (name, got, want)
            # touched partitions, from the journal
            import json as _json  # noqa: PLC0415

            from doc2dataset_spark import fsio as _fsio  # noqa: PLC0415

            fs, p = _fsio.url_to_fs(os.path.join(copy, "hourly"))
            with fs.open(f"{p}__rtbf_log.json", "rb") as fh:
                rec = _json.loads(fh.read().decode())["requests"][-1]
            out[name] = {
                "wall": wall,
                "touched_partitions": len(rec["touched"]),
                "affected_hours": len(rec["buckets"]),
                "forgotten_rows": res["n_forgotten_rows"],
                "sealed_revised": res["n_sealed_buckets_revised"],
            }
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_ht_depth(
    spark,
    sf_dir: str,
    n_batches: int = 50,
    compact_every: int | None = None,
    compact_auto_factor: int | None = None,
) -> None:
    """Price the cagg fold at depth (round-14 verdict, Next round #7):
    land ``n_batches`` event_id-mod hourly-partial batches (mod slices =
    worst case — every batch touches every hour, so the uncompacted log
    grows O(hours × batches)) and measure the SERVE wall as the log
    deepens, with and without periodic compact_hypertable_partials. The
    claim under test: post-compaction the fold input is pinned at
    O(hours) + tail, so serve cost stays flat while the uncompacted arm
    grows with depth. Final serve row-set equality vs the direct
    recompute is asserted (compaction + depth are invisible to readers)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F  # noqa: PLC0415

    from doc2dataset_spark.queries.timeseries_hypertable import (  # noqa: PLC0415
        events_hypertable_rollup,
    )
    from doc2dataset_spark.streaming.hypertable import (  # noqa: PLC0415
        compact_hypertable_partials,
        decide_hypertable_compaction,
        hourly_partial,
        ingest_hypertable_late_batch,
        serve_hypertable,
    )
    from doc2dataset_spark.streaming.util import land_batch_exact  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events").localCheckpoint()
    root = tempfile.mkdtemp(prefix="sg_ht_depth_")
    out = os.path.join(root, "ht")
    hdir = os.path.join(out, "hourly")
    try:
        serve_walls, compact_walls, log_rows = [], [], []
        auto_fired: list[int] = []
        probe_every = max(1, n_batches // 10)
        for i in range(n_batches):
            batch = e.filter(F.pmod("event_id", F.lit(n_batches)) == i)
            if compact_auto_factor is not None:
                # the auto arm goes through the REAL watermarked core
                # (it writes the n_partial_rows counters the decision
                # reads) with a span-covering bound — same partials,
                # same serve
                ingest_hypertable_late_batch(
                    batch, out, i, lateness_us=365 * 24 * 3600 * 1_000_000
                )
                if i > 0:
                    d = decide_hypertable_compaction(
                        spark, out, factor=compact_auto_factor
                    )
                    if d["fire"]:
                        t0 = time.time()
                        st = compact_hypertable_partials(
                            spark, out, upto_batch=i - 1
                        )
                        compact_walls.append(round(time.time() - t0, 2))
                        log_rows.append(
                            (i - 1, st["rows_before"], st["rows_after"])
                        )
                        auto_fired.append(i - 1)
            else:
                land_batch_exact(hourly_partial(batch), hdir, i)
            if compact_every and (i + 1) % compact_every == 0:
                t0 = time.time()
                st = compact_hypertable_partials(spark, out, upto_batch=i)
                compact_walls.append(round(time.time() - t0, 2))
                log_rows.append((i, st["rows_before"], st["rows_after"]))
            if (i + 1) % probe_every == 0 or i + 1 == n_batches:
                t0 = time.time()
                serve_hypertable(spark, out).count()
                serve_walls.append(
                    (i + 1, round(time.time() - t0, 2))
                )
        final_rows = spark.read.parquet(hdir).count()
        got = {
            tuple(r)
            for r in serve_hypertable(spark, out).collect()
        }
        want = {
            tuple(r) for r in events_hypertable_rollup(spark, sf_dir).collect()
        }
        assert got == want, "depth/compaction changed the served rollup"
        print(
            json.dumps(
                {
                    "mode": "ht-depth",
                    "sf_dir": sf_dir,
                    "n_batches": n_batches,
                    "compact_every": compact_every,
                    "compact_auto_factor": compact_auto_factor,
                    "auto_fired_at": auto_fired,
                    "serve_walls": serve_walls,
                    "compact_walls": compact_walls,
                    "compact_rows": log_rows,
                    "final_log_rows": final_rows,
                    "serve_rows": len(got),
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_asof_stream(
    spark,
    sf_dir: str,
    n_batches: int = 10,
    compact_every: int | None = None,
) -> None:
    """Price the streaming as-of attribution (round 12; deepened in
    round 13 per the verdict's Next-round #8): drive the watermarked
    late-data variant over ``n_batches`` event-time slices of the events
    table through the REAL file-stream path — ONE micro-batch per
    driver call (add a file, run to drain, stop), which yields a true
    PER-BATCH wall series rather than one averaged total, and lets
    ``compact_every`` run compact_view_state mid-stream on the stopped
    stream (its documented contract) the way a production deployment
    would cron it. Reports the per-batch wall curve (first/median/last +
    the full series), pending/view-log sizes, and compaction costs —
    the numbers behind 'state is the price of lateness, periodic
    compaction holds the per-batch wall flat as the log grows'."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F  # noqa: PLC0415

    from doc2dataset_spark.streaming.asof import (  # noqa: PLC0415
        compact_view_state,
        finalize_asof_attribution,
        run_asof_attribution_late,
    )

    lateness_us = 2 * 24 * 3600 * 1_000_000  # 2 days
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    qs = [i / n_batches for i in range(1, n_batches)]
    cuts = e.select(
        F.expr(
            f"percentile(unix_micros(ts), array({', '.join(map(str, qs))}))"
        )
    ).first()[0]
    bounds = [int(c) for c in cuts]
    root = tempfile.mkdtemp(prefix="sg_asof_stream_")
    src = os.path.join(root, "stream")
    os.makedirs(src)
    try:
        import glob as _glob
        import shutil as _shutil

        lowers = [None, *bounds]
        uppers = [*bounds, None]
        slice_files = []
        for i, (lo, hi) in enumerate(zip(lowers, uppers)):
            f = e
            if lo is not None:
                f = f.filter(F.unix_micros("ts") > lo)
            if hi is not None:
                f = f.filter(F.unix_micros("ts") <= hi)
            d = os.path.join(root, f"slice_{i}")
            f.coalesce(1).write.parquet(d)
            slice_files.append(
                _glob.glob(os.path.join(d, "part-*.parquet"))[0]
            )
        out = os.path.join(root, "out")
        ckpt = os.path.join(root, "ckpt")
        schema = (
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )

        def drain_new_files():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            run_asof_attribution_late(spark, stream, out, ckpt, lateness_us)

        batch_walls, compact_walls, view_rows = [], [], []
        for i, part in enumerate(slice_files):
            dst = os.path.join(src, f"b{i:03d}.parquet")
            _shutil.copy(part, dst)
            os.utime(dst, (time.time() + 2 * i, time.time() + 2 * i))
            t0 = time.time()
            drain_new_files()  # exactly this one new file = one batch
            batch_walls.append(round(time.time() - t0, 2))
            if compact_every and (i + 1) % compact_every == 0 and i + 1 < len(
                slice_files
            ):
                t0 = time.time()
                cst = compact_view_state(spark, out)
                compact_walls.append(round(time.time() - t0, 2))
                view_rows.append(
                    (i, cst["views_before"], cst["views_after"])
                )
        stream_sec = sum(batch_walls)
        sealed = spark.read.parquet(os.path.join(out, "attributed")).count()
        t0 = time.time()
        final = finalize_asof_attribution(spark, out).count()
        finalize_sec = time.time() - t0
        t0 = time.time()
        cstats = compact_view_state(spark, out)
        compact_sec = time.time() - t0
        walls = sorted(batch_walls)
        print(
            json.dumps(
                {
                    "mode": "asof-stream",
                    "sf_dir": sf_dir,
                    "n_batches": n_batches,
                    "lateness_days": 2,
                    "compact_every": compact_every,
                    "stream_sec": round(stream_sec, 2),
                    "per_batch_sec": round(stream_sec / n_batches, 2),
                    "batch_wall_first5": batch_walls[:5],
                    "batch_wall_last5": batch_walls[-5:],
                    "batch_wall_median": walls[len(walls) // 2],
                    "batch_walls": batch_walls,
                    "mid_compactions": view_rows,
                    "mid_compact_secs": compact_walls,
                    "sealed": sealed,
                    "finalized_total": final,
                    "finalize_sec": round(finalize_sec, 2),
                    "views_before": cstats["views_before"],
                    "views_after": cstats["views_after"],
                    "compact_sec": round(compact_sec, 2),
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "curve"
    if mode == "asof":
        # --skip-naive: drop the range-join timing (the sf1 hot-key
        # naive plan alone takes ~270 s; the carries finish in ~1.5 s)
        include_naive = "--skip-naive" not in sys.argv[2:]
        spark = get_spark(app_name="bench_scaling_asof")
        for sf_dir in ["/root/testdata/sf0.01", "/root/testdata/sf0.1", BIG1_DIR]:
            if os.path.exists(sf_dir):
                run_asof(spark, sf_dir, include_naive=include_naive)
                run_asof(
                    spark, sf_dir, hot_keys=15, include_naive=include_naive
                )
        return
    if mode == "asof-auto":
        spark = get_spark(app_name="bench_scaling_asof_auto")
        for sf_dir in ["/root/testdata/sf0.1", BIG1_DIR]:
            if os.path.exists(sf_dir):
                run_asof_auto(spark, sf_dir)
                run_asof_auto(spark, sf_dir, hot_keys=15)
        # the other regime: a key hot enough to blow the partition
        # budget (sf1 collapsed to 3 keys / 1 key) — auto must flip to
        # the bucketed carry
        if os.path.exists(BIG1_DIR):
            run_asof_auto(spark, BIG1_DIR, hot_keys=1)
            run_asof_auto(spark, BIG1_DIR, hot_keys=1, replicate=10)
        return
    if mode == "ht-rtbf":
        # optional args: n_batches sf_dir
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 30
        sfd = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
        spark = get_spark(app_name="bench_scaling_ht_rtbf")
        run_ht_rtbf(spark, sfd, n_batches=n)
        return
    if mode == "ht-depth":
        # optional args: n_batches compact_every|auto[:factor] sf_dir
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 50
        ce_arg = sys.argv[3] if len(sys.argv) > 3 else "0"
        sfd = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
        spark = get_spark(app_name="bench_scaling_ht_depth")
        if ce_arg.startswith("auto"):
            factor = int(ce_arg.split(":")[1]) if ":" in ce_arg else 8
            run_ht_depth(
                spark, sfd, n_batches=n, compact_auto_factor=factor
            )
        else:
            run_ht_depth(
                spark, sfd, n_batches=n, compact_every=int(ce_arg) or None
            )
        return
    if mode == "asof-stream":
        # optional args: n_batches compact_every sf_dir
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 10
        ce = int(sys.argv[3]) if len(sys.argv) > 3 else 0
        sfd = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
        spark = get_spark(app_name="bench_scaling_asof_stream")
        run_asof_stream(spark, sfd, n_batches=n, compact_every=ce or None)
        return
    if mode == "make-big":
        make_big()
        return
    if mode == "make-big1":
        make_big(BIG1_DIR, REPLICAS1)
        return
    if mode in ("heavy6", "heavy-r7"):
        # own UI-enabled session so shuffle/spill deltas are readable
        spark = get_spark(
            app_name=f"bench_scaling_{mode}",
            extra_conf={"spark.ui.enabled": "true"},
        )
        names = HEAVY_R7 if mode == "heavy-r7" else HEAVY6
        for sf_dir in ["/root/testdata/sf0.1", BIG1_DIR]:
            if os.path.exists(sf_dir):
                run_heavy6(spark, sf_dir, names)
        return
    if mode == "bucketed":
        # bucketed co-located join vs the identical plain join, both SMJ
        # (merge hint), shuffle deltas from the UI endpoint: the
        # measured shuffle-elimination claim behind
        # queries/bucketed_join.py. The bucketed build cost is reported
        # separately — it is the amortized one-time layout investment.
        from pyspark.sql import functions as F  # noqa: PLC0415

        from doc2dataset_spark.queries.bucketed_join import (  # noqa: PLC0415
            _bucketed_table,
            _joined,
        )

        spark = get_spark(
            app_name="bench_scaling_bucketed",
            extra_conf={"spark.ui.enabled": "true"},
        )

        def agg(j):
            return (
                j.groupBy("o_orderpriority")
                .agg(
                    F.sum(
                        (
                            F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))
                        ).cast("decimal(38,6)")
                    ).alias("revenue"),
                    F.count(F.lit(1)).alias("n"),
                )
            )

        for sf_dir in ["/root/testdata/sf0.1", BIG1_DIR]:
            if not os.path.exists(sf_dir):
                continue
            out = {}
            t0 = time.time()
            _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
            _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
            out["build_sec"] = round(time.time() - t0, 3)
            li = load_table(spark, sf_dir, "lineitem")
            o = load_table(spark, sf_dir, "orders")
            plain = li.hint("merge").join(
                o, F.col("l_orderkey") == F.col("o_orderkey")
            )
            for label, j in (("plain", plain), ("bucketed", _joined(spark, sf_dir))):
                before = _exec_metric_totals(spark)
                t0 = time.time()
                agg(j).count()
                sec = round(time.time() - t0, 3)
                after = _exec_metric_totals(spark)
                out[label] = {
                    "sec": sec,
                    **{
                        k: round((after[k] - before[k]) / 1e6, 1)
                        for k in before
                    },
                }
            print(json.dumps({"sf_dir": sf_dir, "bucketed_vs_plain": out,
                              "units": "sec / MB"}))
        return
    if mode == "dpp":
        # dynamic partition pruning: the month-partitioned fact twin +
        # quarter-filtered dim join vs the identical join over the flat
        # table — input_bytes deltas show the scan elimination.
        from pyspark.sql import functions as F  # noqa: PLC0415

        from doc2dataset_spark.queries.dpp_join import (  # noqa: PLC0415
            DPP_QUARTER,
            join_dpp_partitioned,
            month_dim,
            partitioned_lineitem,
        )

        spark = get_spark(
            app_name="bench_scaling_dpp",
            extra_conf={"spark.ui.enabled": "true"},
        )
        for sf_dir in ["/root/testdata/sf0.1", BIG1_DIR]:
            if not os.path.exists(sf_dir):
                continue
            out = {}
            t0 = time.time()
            partitioned_lineitem(spark, sf_dir).rdd.getNumPartitions()
            out["build_sec"] = round(time.time() - t0, 3)
            li_flat = load_table(spark, sf_dir, "lineitem").withColumn(
                "ship_month",
                F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM"),
            )
            dim = month_dim(spark, sf_dir).filter(
                F.col("quarter") == DPP_QUARTER
            )
            flat = (
                li_flat.join(
                    F.broadcast(dim), li_flat["ship_month"] == dim["month"]
                )
                .groupBy("month")
                .count()
            )
            for label, df in (
                ("flat", flat),
                ("dpp", join_dpp_partitioned(spark, sf_dir)),
            ):
                before = _exec_metric_totals(spark)
                t0 = time.time()
                df.count()
                sec = round(time.time() - t0, 3)
                after = _exec_metric_totals(spark)
                out[label] = {
                    "sec": sec,
                    **{
                        k: round((after[k] - before[k]) / 1e6, 1)
                        for k in before
                    },
                }
            print(json.dumps({"sf_dir": sf_dir, "dpp_vs_flat": out,
                              "units": "sec / MB"}))
        return
    if mode == "cbo":
        # CBO join-reorder off vs on: the SAME adversarial-syntax SQL
        # against the SAME analyzed catalog tables — the only variable
        # is spark.sql.cbo.{enabled,joinReorder.enabled}. Off preserves
        # syntax order (fact ⋈ fact first); on rebuilds dimension-first
        # (plan-asserted in tests/test_cbo.py). ANALYZE cost reported
        # separately: it is the once-per-dataset price of admission.
        from doc2dataset_spark.queries.cbo_join import (  # noqa: PLC0415
            _cbo_sql,
            stats_table,
        )

        spark = get_spark(
            app_name="bench_scaling_cbo",
            extra_conf={"spark.ui.enabled": "true"},
        )
        for sf_dir in ["/root/testdata/sf0.1", BIG1_DIR]:
            if not os.path.exists(sf_dir):
                continue
            out = {}
            load_table(spark, sf_dir, "lineitem").count()  # warmup
            t0 = time.time()
            tabs = [
                stats_table(spark, sf_dir, t)
                for t in ("lineitem", "orders", "customer")
            ]
            out["analyze_sec"] = round(time.time() - t0, 3)
            sql = _cbo_sql(*tabs)
            for label, flag in (("cbo_off", "false"), ("cbo_on", "true")):
                spark.conf.set("spark.sql.cbo.enabled", flag)
                spark.conf.set("spark.sql.cbo.joinReorder.enabled", flag)
                secs = []
                before = _exec_metric_totals(spark)
                for _ in range(2):
                    t0 = time.time()
                    spark.sql(sql).collect()
                    secs.append(round(time.time() - t0, 3))
                after = _exec_metric_totals(spark)
                out[label] = {
                    "sec": min(secs),
                    "runs": secs,
                    **{
                        k: round((after[k] - before[k]) / 2e6, 1)
                        for k in before
                    },
                }
            print(json.dumps({"sf_dir": sf_dir, "cbo_off_vs_on": out,
                              "units": "sec / MB-per-run"}))
        return
    if mode == "skew":
        # AQE skew-join off vs on: a deterministic 90%-hot-key fact
        # (20M rows, key 0 carries 90%) merge-joined to a 998-key dim.
        # With skewJoin off the hot key pins ONE reducer (the wall time
        # IS that task); with it on, OptimizeSkewedJoin splits the hot
        # partition across the executor threads — the mechanism that
        # absorbs shard-size skew at 100 TB, here given a number.
        # Broadcast is disabled for the measured join (a broadcast
        # would dodge the shuffle and measure nothing); real pipelines
        # with big-both-sides joins have no such dodge.
        from pyspark.sql import functions as F  # noqa: PLC0415

        spark = get_spark(
            app_name="bench_scaling_skew",
            extra_conf={"spark.ui.enabled": "true"},
        )
        n = 20_000_000
        fact_dir = os.path.join(BIG1_DIR, "_skew_fact")
        if not os.path.exists(fact_dir):
            t0 = time.time()
            (
                spark.range(n)
                .select(
                    F.col("id"),
                    F.when(F.col("id") % 10 < 9, F.lit(0))
                    .otherwise(1 + F.col("id") % 997)
                    .cast("long")
                    .alias("key"),
                    (F.col("id") % 1000).cast("double").alias("v"),
                )
                .write.mode("overwrite")
                .parquet(fact_dir)
            )
            print(json.dumps({"skew_fact_build_sec":
                              round(time.time() - t0, 3)}))
        dim = spark.range(998).select(
            F.col("id").alias("key"),
            (F.col("id") % 7).alias("grp"),
        )
        out = {}
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # production defaults (256MB skew threshold) are sized for real
        # clusters; the 20M-row fixture's hot partition shuffles ~150MB,
        # so scale the thresholds down to let the optimizer SEE the skew
        # (the test_scale_patterns discipline). Identical for both
        # labels — only skewJoin.enabled varies.
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "16MB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16MB"
        )
        for label, flag in (("skew_off", "false"), ("skew_on", "true")):
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", flag)
            secs = []
            for _ in range(2):
                fact = spark.read.parquet(fact_dir)
                j = (
                    fact.hint("merge")
                    .join(dim, "key")
                    .groupBy("grp")
                    .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
                )
                t0 = time.time()
                j.collect()
                secs.append(round(time.time() - t0, 3))
            out[label] = {"sec": min(secs), "runs": secs}
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        print(json.dumps({"rows": n, "skew_off_vs_on": out, "units": "sec"}))
        return
    if mode == "rtbloom":
        # Runtime bloom-filter join (SPARK-32268) off vs on: 20M-row
        # uniform-key fact merge-joined to a 0.1%-selective dim. With
        # the filter on, the dim side builds a bloom_filter_agg and the
        # fact side drops non-candidate rows BEFORE its shuffle
        # (might_contain pre-exchange) — shuffle-write delta metered
        # from the UI endpoint. Broadcast disabled: the point is the
        # big-both-sides shuffle join a broadcast would dodge.
        from pyspark.sql import functions as F  # noqa: PLC0415

        spark = get_spark(
            app_name="bench_scaling_rtbloom",
            extra_conf={"spark.ui.enabled": "true"},
        )
        n = 20_000_000
        fact_dir = os.path.join(BIG1_DIR, "_bloom_fact")
        dim_dir = os.path.join(BIG1_DIR, "_bloom_dim")
        if not os.path.exists(fact_dir):
            spark.range(n).select(
                (F.col("id") % 2_000_000).alias("k"),
                (F.col("id") % 97).cast("double").alias("v"),
            ).write.mode("overwrite").parquet(fact_dir)
            spark.range(2_000_000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("dval")
            ).write.mode("overwrite").parquet(dim_dir)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "1KB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        out = {}
        for label, flag in (("bloom_off", "false"), ("bloom_on", "true")):
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.enabled", flag
            )
            secs = []
            before = _exec_metric_totals(spark)
            for _ in range(2):
                f = spark.read.parquet(fact_dir)
                d = spark.read.parquet(dim_dir).filter(
                    F.col("dval") % 2000 == 0
                )
                j = (
                    f.hint("merge")
                    .join(d, "k")
                    .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
                )
                t0 = time.time()
                j.collect()
                secs.append(round(time.time() - t0, 3))
            after = _exec_metric_totals(spark)
            out[label] = {
                "sec": min(secs),
                "runs": secs,
                **{
                    k: round((after[k] - before[k]) / 2e6, 1)
                    for k in before
                },
            }
        print(json.dumps({"rows": n, "rtbloom_off_vs_on": out,
                          "units": "sec / MB-per-run"}))
        return
    if mode == "prefixskew":
        # Prefix-filtered similarity join vs shared-shingle blocking as
        # the shingle-frequency head grows (the boilerplate failure mode
        # of real web corpora): derive boilerplate-skewed twins of the
        # sf1 documents table (share% of docs get one appended sentence,
        # selected by crc32(doc_id) — deterministic), then min-of-3 both
        # joins plus the oracle-gated candidate-count row. The blocked
        # join's candidate set grows ~(share·N)²/2 per boilerplate
        # shingle; the prefix index never touches max-df shingles, so
        # its candidate set stays flat — BASELINE.md round-7 table.
        from pyspark.sql import functions as F  # noqa: PLC0415

        if not os.path.exists(BIG1_DIR):
            raise SystemExit("needs .bench_scale/sf1 (make-big1 first)")
        spark = get_spark(app_name="bench_scaling_prefixskew")
        boiler = (
            "this site uses cookies to improve your browsing experience "
            "please accept our terms and conditions to continue"
        )
        d = load_table(spark, BIG1_DIR, "documents")
        spark_time(spark, "dedup_ngram_jaccard", BIG1_DIR, runs=1)  # warm
        out = {}
        for share in (0, 10, 20):
            if share == 0:
                twin = BIG1_DIR
            else:
                twin = os.path.join(_SCALE_ROOT, f"_prefix_skew_{share}")
                docs_pq = os.path.join(twin, "documents.parquet")
                if not os.path.exists(docs_pq):
                    d.withColumn(
                        "text",
                        F.when(
                            F.crc32(F.col("doc_id").cast("string")) % 100
                            < share,
                            F.concat_ws(" ", "text", F.lit(boiler)),
                        ).otherwise(F.col("text")),
                    ).repartition(32).write.parquet(docs_pq)
            row = REGISTRY["dedup_prefix_stats"].builder(spark, twin).collect()[0]
            entry = {
                "cand_block": row.cand_block,
                "cand_prefix": row.cand_prefix,
                "cand_pos": row.cand_pos,
                "true_pairs": row.true_pairs,
            }
            for name in ("dedup_ngram_jaccard", "dedup_jaccard_prefix"):
                entry[name] = spark_time(spark, name, twin, runs=2)
            out[f"share_{share}pct"] = entry
        print(json.dumps({"prefixskew_sf1": out, "units": "sec (min-of-2)"}))
        return
    if mode == "tpch-sf1":
        # UI-enabled session: the sf1 shuffle/spill deltas need the REST
        # metrics endpoint (a ui-disabled session silently reads 0)
        spark = get_spark(
            app_name="bench_scaling_tpch_sf1",
            extra_conf={"spark.ui.enabled": "true"},
        )
        if os.path.exists(BIG1_DIR):
            run_heavy6(spark, BIG1_DIR, names=TPCH_HEAVY)
        return
    spark = get_spark(app_name="bench_scaling")
    if mode == "curve":
        for sf_dir in SHIPPED:
            run_set(spark, HEADLINE, sf_dir, with_duck=True)
    elif mode == "big":
        run_set(spark, BIG_SET, BIG_DIR, with_duck=False)
    elif mode == "session3":
        for sf_dir in SHIPPED:
            run_set(spark, SESSION3_SET, sf_dir, with_duck=True)
        if os.path.exists(BIG_DIR):
            run_set(spark, SESSION3_SET, BIG_DIR, with_duck=False)
    elif mode == "round6":
        for sf_dir in SHIPPED:
            run_set(spark, ROUND6_SET, sf_dir, with_duck=True)
        if os.path.exists(BIG1_DIR):
            run_set(spark, ROUND6_SET, BIG1_DIR, with_duck=False)
    elif mode == "round7":
        for sf_dir in SHIPPED:
            run_set(spark, ROUND7_SET, sf_dir, with_duck=True)
    elif mode == "tpch":
        # shipped-SF slopes only; `tpch-sf1` (above) runs the sf1 heavy
        # five with readable shuffle metrics
        for sf_dir in SHIPPED:
            run_set(spark, TPCH_SET, sf_dir, with_duck=True)
    elif mode == "round7b":
        for sf_dir in SHIPPED:
            run_set(spark, ROUND7B_SET, sf_dir, with_duck=True)
    elif mode == "round7c":
        for sf_dir in SHIPPED:
            run_set(spark, ROUND7C_SET, sf_dir, with_duck=True)
    elif mode == "round7d":
        for sf_dir in SHIPPED:
            run_set(spark, ROUND7D_SET, sf_dir, with_duck=True)
        if os.path.exists(BIG1_DIR):
            run_set(spark, ROUND7D_SET, BIG1_DIR, with_duck=False)
    elif mode == "round7e":
        for sf_dir in SHIPPED:
            run_set(spark, ROUND7E_SET, sf_dir, with_duck=True)
        if os.path.exists(BIG1_DIR):
            run_set(spark, ROUND7E_SET, BIG1_DIR, with_duck=False)
    elif mode == "round7f":
        for sf_dir in SHIPPED:
            run_set(spark, ROUND7F_SET, sf_dir, with_duck=True)
        if os.path.exists(BIG1_DIR):
            run_set(spark, ROUND7F_SET, BIG1_DIR, with_duck=False)
    elif mode == "round7g":
        for sf_dir in SHIPPED:
            run_set(spark, ROUND7G_SET, sf_dir, with_duck=True)
        if os.path.exists(BIG1_DIR):
            run_set(spark, ROUND7G_SET, BIG1_DIR, with_duck=False)
    elif mode == "round9":
        for sf_dir in SHIPPED:
            run_set(spark, ROUND9_SET, sf_dir, with_duck=True)
        if os.path.exists(BIG1_DIR):
            run_set(spark, ROUND9_SET, BIG1_DIR, with_duck=False)
    elif mode == "round10":
        for sf_dir in SHIPPED:
            run_set(spark, ROUND10_SET, sf_dir, with_duck=True)
        if os.path.exists(BIG1_DIR):
            run_set(spark, ROUND10_SF1_SET, BIG1_DIR, with_duck=False)
    elif mode == "round11":
        for sf_dir in SHIPPED:
            run_set(spark, ROUND11_SET, sf_dir, with_duck=True)
        if os.path.exists(BIG1_DIR):
            run_set(spark, ROUND11_SF1_SET, BIG1_DIR, with_duck=False)
    elif mode == "maintenance":
        run_maintenance(spark)
    elif mode == "cluster-incremental":
        run_incremental_cluster(spark)
    elif mode == "scoredgate":
        run_scored_gate(spark)
    elif mode == "incremental":
        run_incremental_dedup(spark)
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()
