#!/usr/bin/env python
"""Scaling-curve benchmark: how do per-query times grow with data size?

Modes:

- ``curve`` — the headline set at every shipped SF (0.001/0.01/0.1, a
  real 100x span) on BOTH engines: per-query times whose log-log slope
  over the last decade reads 1.0 = linear, <1 = fixed-overhead-dominated,
  >1 = superlinear (the red flag).
- ``set NAME [NAME ...]`` — the same per-SF timing for any named
  registry queries: shipped SFs with DuckDB, then the sf1 twin
  (Spark only) if it has been built.
- ``make-big`` / ``make-big1`` — synthesize sf0.5 / sf1 (5x / 10x
  key-offset replication of sf0.1, FKs preserved, dims unreplicated)
  under .bench_scale/. Replica documents get a distinct lead token and
  replica vectors are exact twins, so dup density grows (noted in
  BASELINE.md) — the timing signal is still the join/shuffle volume.
- ``big`` — the heavy subset on sf0.5, extending the Spark curve past
  the shipped data.
- ``heavy6 [NAME ...]`` — wall time plus per-query shuffle/spill MB at
  sf0.1 and sf1 for the heavy six (or the named queries).

Usage:
    python scripts/bench_scaling.py curve
    python scripts/bench_scaling.py set q01_project_filter dedup_exact
    python scripts/bench_scaling.py make-big && python scripts/bench_scaling.py big
    python scripts/bench_scaling.py make-big1 && python scripts/bench_scaling.py heavy6

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


MODES = ("curve", "set", "big", "make-big", "make-big1", "heavy6")


def _names(args: list[str]) -> list[str]:
    unknown = [n for n in args if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    return args


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "curve"
    args = sys.argv[2:]
    if mode not in MODES:
        raise SystemExit(f"unknown mode {mode!r}; modes: {', '.join(MODES)}")
    if mode == "make-big":
        make_big()
        return
    if mode == "make-big1":
        make_big(BIG1_DIR, REPLICAS1)
        return
    if mode == "heavy6":
        names = _names(args)
        # own UI-enabled session so shuffle/spill deltas are readable
        spark = get_spark(
            app_name="bench_scaling_heavy6",
            extra_conf={"spark.ui.enabled": "true"},
        )
        for sf_dir in ["/root/testdata/sf0.1", BIG1_DIR]:
            if os.path.exists(sf_dir):
                run_heavy6(spark, sf_dir, names)
        return
    if mode == "set":
        if not args:
            raise SystemExit("usage: bench_scaling.py set NAME [NAME ...]")
        names = _names(args)
    spark = get_spark(app_name="bench_scaling")
    if mode == "curve":
        for sf_dir in SHIPPED:
            run_set(spark, HEADLINE, sf_dir, with_duck=True)
    elif mode == "big":
        run_set(spark, BIG_SET, BIG_DIR, with_duck=False)
    else:
        for sf_dir in SHIPPED:
            run_set(spark, names, sf_dir, with_duck=True)
        if os.path.exists(BIG1_DIR):
            run_set(spark, names, BIG1_DIR, with_duck=False)


if __name__ == "__main__":
    main()
