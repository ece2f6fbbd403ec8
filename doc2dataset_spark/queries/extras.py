"""Second-wave query surface: scale-pattern rewrites and analytics the
north-star pipeline needs beyond SURVEY §2.3's numbered rows. Every query
here is oracle-gated (exact DuckDB twin).

- ``q12b_bucketed_range_join``  range join with NO equi key, made scalable
  by time-bucket blocking: candidate buckets are an equi-join key, the
  exact range predicate filters candidates. DuckDB's oracle runs the naive
  non-equi join (its IEJoin handles it); results must match exactly —
  correctness of the rewrite IS the test.
- ``agg_percentiles``           exact interpolated percentiles (p50/p90/p99)
  per group — Spark ``percentile`` vs DuckDB ``quantile_cont``.
- ``text_tfidf_topk``           TF-IDF scoring, top-3 terms per document.
  Deterministic: integer tf/df counts, ln() on the same doubles, round 4dp,
  tiebreak on term.
- ``sample_deterministic``      hash-based Bernoulli sampling — the
  distributed-sampling primitive (no RNG, no driver coordination): keep a
  row iff an md5-derived integer of its key falls under the rate. Identical
  row set in any engine, any partitioning, any row order.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from doc2dataset_spark.queries.core import query
from doc2dataset_spark.queries.dedup import _DTOKS, _TOKS
from doc2dataset_spark.session import compute_parallelism, load_table

# ---------------------------------------------------------------------------
# bucketized range join (no equi key)
# ---------------------------------------------------------------------------
BUCKET_S = 3600  # candidate-bucket width == range width (1 hour)


@query(
    "q12b_bucketed_range_join",
    oracle="""
    SELECT p.event_id AS purchase_id, count(*) AS n_clicks
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
    GROUP BY p.event_id
    """,
    tags=("relational", "join", "scale"),
)
def q12b_bucketed_range_join(spark, sf_dir):
    """global range join (clicks within 1h after each purchase, ANY user) —
    no equi key, so a naive plan is a broadcast nested loop over the full
    pair space. Rewrite: a click at time t can only match purchases in
    epoch-hour buckets {⌊t⌋, ⌊t⌋-1}, so explode each click to its two
    candidate buckets and equi-join on bucket; the exact range predicate
    then filters candidates. Pair work drops from O(P×C) to O(collisions);
    the bucket id is the shuffle key. The oracle runs the naive join —
    result equality proves the rewrite."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            us.alias("p_us"),
            F.floor(us / (BUCKET_S * 1_000_000)).alias("bucket"),
        )
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            us.alias("c_us"),
            F.explode(
                F.array(
                    F.floor(us / (BUCKET_S * 1_000_000)),
                    F.floor(us / (BUCKET_S * 1_000_000)) - 1,
                )
            ).alias("bucket"),
        )
    )
    joined = p.join(c, "bucket").filter(
        (F.col("c_us") >= F.col("p_us"))
        & (F.col("c_us") <= F.col("p_us") + BUCKET_S * 1_000_000)
    )
    return joined.groupBy("purchase_id").agg(F.count("*").alias("n_clicks"))


# ---------------------------------------------------------------------------
# exact percentiles per group
# ---------------------------------------------------------------------------
@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_percentiles(spark, sf_dir):
    """exact interpolated percentiles p50/p90/p99 of price per returnflag
    (Spark `percentile` == DuckDB `quantile_cont`: both interpolate at
    rank (n-1)·p). The scale path swaps in approx_percentile with a
    documented error bound — same plan shape, sketch-mergeable."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
    )


@query(
    "agg_percentiles_approx",
    oracle=None,  # sketch-based: rows-only gate; exact twin is agg_percentiles
    tags=("agg", "scale"),
)
def agg_percentiles_approx(spark, sf_dir):
    """approx_percentile (KLL-style sketch, mergeable across partitions —
    the 100 TB path; accuracy set by the 10000 parameter). Rows-only gate;
    agg_percentiles is the exact oracle twin. The sketch result is unpacked
    into scalar p50/p90/p99 columns (array columns break the driver's
    pandas-based canonicalization — lists are unhashable in sort keys)."""
    li = load_table(spark, sf_dir, "lineitem")
    pcts = F.expr(
        "approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)"
    )
    return li.groupBy("l_returnflag").agg(pcts.alias("_pcts")).select(
        "l_returnflag",
        F.element_at("_pcts", 1).alias("p50"),
        F.element_at("_pcts", 2).alias("p90"),
        F.element_at("_pcts", 3).alias("p99"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top-k terms per document
# ---------------------------------------------------------------------------
TFIDF_K = 3


@query(
    "text_tfidf_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DTOKS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ), nd AS (
      SELECT count(DISTINCT doc_id) AS n FROM tok
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln((nd.n + 1.0) / (df.df + 1.0)), 4) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored
    ) WHERE rn <= {TFIDF_K}
    """,
    tags=("text", "documents"),
)
def text_tfidf_topk(spark, sf_dir):
    """TF-IDF: tf(term,doc) · ln((N+1)/(df+1)), top-3 terms per doc.
    Two shuffles total (tf groupBy, df groupBy); the tf⋈df join runs on
    `term` — both sides are already hash-partitioned by it, and the df
    side carries NO broadcast hint: on a web corpus the vocabulary is
    billions of terms, so forcing a broadcast OOMs every executor. AQE
    still auto-broadcasts when the measured vocab is small, which is the
    correct behavior at both toy and cluster scale. The scalar N rides a
    1-row broadcast. The document axis never collapses to the driver."""
    d = load_table(spark, sf_dir, "documents").repartition(
        compute_parallelism(spark), "doc_id"
    )
    tok = d.select("doc_id", F.explode(F.expr(_TOKS)).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = tok.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)),
                4,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_K)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# deterministic hash sampling
# ---------------------------------------------------------------------------
SAMPLE_PCT = 10  # keep ~10%


@query(
    "sample_deterministic",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 12))::BIGINT
          % 100 < {SAMPLE_PCT}
    """,
    tags=("scale", "sampling"),
)
def sample_deterministic(spark, sf_dir):
    """hash-Bernoulli 10% sample of orders: md5(key) mod 100 < 10.
    Embarrassingly parallel (a map-side filter, no shuffle, no RNG state),
    stable across engines/partitionings/reruns — the primitive for
    reproducible corpus subsampling and A/B splits at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    h = F.expr(
        "cast(conv(substring(md5(cast(o_orderkey AS string)), 1, 12), 16, 10)"
        " AS bigint)"
    )
    return o.filter(h % 100 < SAMPLE_PCT).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# VARIANT-typed semi-structured data (Spark 4)
# ---------------------------------------------------------------------------
@query(
    "q28b_variant",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k
    FROM events
    WHERE json_extract_string(props, '$.k')::BIGINT >= 50
    GROUP BY event_type
    """,
    tags=("relational", "nested", "variant"),
)
def q28b_variant(spark, sf_dir):
    """semi-structured props via the VARIANT type (Spark 4): parse once to
    the binary variant encoding, then typed path extraction — the
    schema-on-read path for heterogeneous event payloads at 100 TB, where
    repeated get_json_object calls would re-parse the JSON string per
    field. q28 is the string-path twin."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
    )


# ---------------------------------------------------------------------------
# fuzzy string matching: levenshtein pairs with blocking
# ---------------------------------------------------------------------------
LEV_MAX = 3


@query(
    "fuzzy_levenshtein_pairs",
    oracle=f"""
    SELECT blk,
           count(*) AS n_candidates,
           sum(CASE WHEN dist BETWEEN 1 AND {LEV_MAX} THEN 1 ELSE 0 END)
             ::BIGINT AS n_fuzzy,
           sum(CASE WHEN dist = 0 THEN 1 ELSE 0 END)::BIGINT AS n_exact,
           min(CASE WHEN dist >= 1 THEN dist END)::INT AS min_dist
    FROM (
      SELECT split_part(a.p_name, ' ', 2) AS blk,
             levenshtein(a.p_name, b.p_name) AS dist
      FROM part a JOIN part b
        ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
       AND a.p_partkey < b.p_partkey
    ) GROUP BY blk
    """,
    tags=("dedup", "fuzzy"),
)
def fuzzy_levenshtein_pairs(spark, sf_dir):
    """entity resolution on part names: candidates blocked by the type noun
    (second word — the pair space is per-block, never the full cross
    product), scored by integer Levenshtein, rolled up per block (exact
    dup / fuzzy-dup ≤ 3 edits / closest non-identical). Both engines
    implement classic edit distance, so the per-block counts are exact."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("blk"),
    )
    a, b = p.alias("a"), p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.col("a.blk").alias("blk"),
        F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("dist"),
    )
    return pairs.groupBy("blk").agg(
        F.count("*").alias("n_candidates"),
        F.sum(
            F.when(F.col("dist").between(1, LEV_MAX), 1).otherwise(0)
        ).alias("n_fuzzy"),
        F.sum(F.when(F.col("dist") == 0, 1).otherwise(0)).alias("n_exact"),
        F.min(F.when(F.col("dist") >= 1, F.col("dist")))
        .cast("int")
        .alias("min_dist"),
    )


# ---------------------------------------------------------------------------
# cube / grouping sets (completes SURVEY Q17's rollup)
# ---------------------------------------------------------------------------
@query(
    "q17b_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag)::INT * 2 + GROUPING(l_linestatus)::INT
             AS gid,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("relational", "agg"),
)
def q17b_cube(spark, sf_dir):
    """full cube over (returnflag, linestatus) with grouping_id — all four
    grouping sets in one pass (Spark expands to a single Expand + hash
    aggregate, one shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# stratified deterministic sampling
# ---------------------------------------------------------------------------
# per-language sampling rates (percent) — downsample the dominant stratum
STRATA_PCT = {"en": 10, "de": 50, "fr": 50}
DEFAULT_PCT = 80


def _rate_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(STRATA_PCT.items())
    )
    return f"CASE {col} {whens} ELSE {DEFAULT_PCT} END"


@query(
    "sample_stratified",
    oracle=f"""
    SELECT lang, count(*) AS n_kept
    FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT % 100
          < ({_rate_sql("lang")})
    GROUP BY lang
    """,
    tags=("scale", "sampling", "documents"),
)
def sample_stratified(spark, sf_dir):
    """stratified corpus sampling: per-language keep rates (downsample the
    dominant language, keep the tail) decided row-locally from the md5
    hash — no shuffle, no RNG state, reproducible across engines and
    reruns; the balanced-corpus primitive at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    h = F.expr(
        "cast(conv(substring(md5(cast(doc_id AS string)), 1, 12), 16, 10)"
        " AS bigint)"
    )
    rate = F.expr(_rate_sql("lang"))
    return (
        d.filter((h % 100) < rate)
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )


# ---------------------------------------------------------------------------
# unpivot / melt (inverse of Q29's pivot)
# ---------------------------------------------------------------------------
@query(
    "q29b_unpivot",
    oracle="""
    SELECT o_orderkey, metric, val FROM (
      SELECT o_orderkey,
             o_totalprice AS price,
             o_custkey::DOUBLE AS cust
      FROM orders WHERE o_orderkey < 1000
    ) UNPIVOT (val FOR metric IN (price, cust))
    """,
    tags=("relational", "pivot"),
)
def q29b_unpivot(spark, sf_dir):
    """wide→long unpivot (melt) — the inverse of Q29's pivot; Spark's
    native unpivot expands map-side (an Expand node, no shuffle)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1000)
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.col("o_custkey").cast("double").alias("cust"),
        )
    )
    return o.unpivot(
        ids=["o_orderkey"],
        values=["price", "cust"],
        variableColumnName="metric",
        valueColumnName="val",
    )


# ---------------------------------------------------------------------------
# mergeable HLL sketches (Datasketches) — the 100 TB cardinality pattern
# ---------------------------------------------------------------------------
@query(
    "q16c_hll_sketch",
    oracle=None,  # sketch estimate: rows-only gate; exact twin is
    #               q16_count_distinct (tolerance asserted in tests)
    tags=("agg", "scale", "sketch"),
)
def q16c_hll_sketch(spark, sf_dir):
    """per-priority distinct customers via HLL sketches: per-partition
    sketch build + sketch MERGE (hll_union_agg of partial sketches) —
    the re-aggregable form that powers rollups over pre-sketched data at
    100 TB, where exact countDistinct would re-shuffle raw keys. The
    two-level build here (partial sketches per orderdate-year, merged per
    priority) proves the merge path, not just the direct aggregate."""
    o = load_table(spark, sf_dir, "orders")
    partials = o.groupBy(
        "o_orderpriority", F.year("o_orderdate").alias("yr")
    ).agg(F.expr("hll_sketch_agg(o_custkey)").alias("sk"))
    return (
        partials.groupBy("o_orderpriority")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias(
                "approx_custs"
            )
        )
        .orderBy("o_orderpriority")
    )
