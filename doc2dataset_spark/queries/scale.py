"""Scale-pattern operators: the techniques that keep plans alive at 100 TB,
each written so its result is *provably identical* to the naive form (the
DuckDB oracle computes the same partition/salt/cell logic, or the naive
equivalent where results must coincide).

- ``sim_ann_ivf``      IVF-style ANN: coarse quantization against a small
                       centroid set (the first 16 vectors as seed centroids
                       — data-derived, so the oracle needs no literals),
                       then exact top-k within the cell. The cell id is the
                       shuffle key; candidate sets shrink from O(n²) to
                       O(n²/k). A trained-kmeans centroid table slots into
                       the same plan.
- ``agg_salted_two_phase`` skew mitigation: salt → partial agg → final agg.
                       Decimal accumulation makes the two-phase result
                       bit-identical to the direct GROUP BY, which is the
                       oracle — correctness of the rewrite is the test.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from doc2dataset_spark.queries.core import query, sql_dsum
from doc2dataset_spark.queries.dedup import normalized_embeddings, spark_dot
from doc2dataset_spark.session import load_table

N_CENTROIDS = 16
IVF_TOP_K = 3


@query(
    "sim_ann_ivf",
    oracle=f"""
    WITH n AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))) AS ne
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS cent_id, ne AS ce FROM n
              WHERE vec_id < {N_CENTROIDS}),
    assign AS (
      SELECT vec_id, ne, cent_id FROM (
        SELECT v.vec_id, v.ne, c.cent_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_dot_product(v.ne, c.ce) DESC, c.cent_id
               ) AS rn
        FROM n v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    scored AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             list_dot_product(q.ne, c.ne) AS cos
      FROM assign q JOIN assign c
        ON q.cent_id = c.cent_id AND c.vec_id <> q.vec_id
    )
    SELECT qid, cid, cos FROM (
      SELECT qid, cid, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, cid) AS rn
      FROM scored
    ) WHERE rn <= {IVF_TOP_K}
    """,
    tags=("similarity", "embeddings", "scale"),
)
def sim_ann_ivf(spark, sf_dir):
    """IVF coarse quantization: assign every vector to its nearest seed
    centroid (broadcast 16-row dim table), then exact top-k inside the
    cell — an equi-join on cell id, never all-pairs."""
    n = normalized_embeddings(spark, sf_dir)
    cents = n.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("ne").alias("ce")
    )
    scored_cells = n.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "ne",
        "cent_id",
        spark_dot(F.col("ne"), F.col("ce")).alias("sim"),
    )
    # argmax via max(struct): picks max sim, tie -> max(-cent_id) = min
    # cent_id — the same (sim DESC, cent_id ASC) choice a row_number window
    # makes, but as a hash aggregate with map-side combine instead of a
    # per-vector window sort (cent_id is unique per vec so the trailing
    # fields never participate in the comparison)
    assign = (
        scored_cells.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("sim"),
                    (-F.col("cent_id")).alias("neg_cent"),
                    F.col("cent_id"),
                    F.col("ne"),
                )
            ).alias("best")
        )
        .select("vec_id", F.col("best.ne").alias("ne"), F.col("best.cent_id").alias("cent_id"))
    )
    # within-cell scoring + per-qid top-k as one vectorized NumPy kernel
    # per cell (vecmath.group_topk_blocked — every query's full candidate
    # set is its own cell, so the kernel's per-qid top-k is already
    # exact); the final window re-ranks the ≤ k survivors per query,
    # preserving the declared row_number semantics at negligible cost
    from doc2dataset_spark.functions.vecmath import group_topk_blocked

    scored = group_topk_blocked(assign, ["cent_id"], IVF_TOP_K)
    w = W.partitionBy("qid").orderBy(F.desc("cos"), "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= IVF_TOP_K)
        .drop("rn")
    )


@query(
    "agg_salted_two_phase",
    oracle=f"""
    SELECT l_returnflag,
           count(*) AS n,
           {sql_dsum('l_extendedprice', 'total')}
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "scale"),
)
def agg_salted_two_phase(spark, sf_dir):
    """Hot-key aggregation via salting: phase 1 groups on (key, salt) —
    spreading one skewed key over 16 reducers — phase 2 merges partials.
    Exact-decimal partials make the rewrite bit-identical to the direct
    GROUP BY, which is exactly what the oracle runs."""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("_salt", F.pmod(F.hash("l_orderkey"), F.lit(16)))
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.count("*").alias("pn"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias("psum"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("psum"), 4).cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# salted replicated join: the skewed-key JOIN twin of agg_salted_two_phase
# ---------------------------------------------------------------------------
JOIN_SALT = 8


@query(
    "join_salted_replicated",
    oracle=f"""
    WITH dim AS (
      SELECT source, count(*)::BIGINT AS src_docs,
             sum(n_chars)::BIGINT AS src_chars
      FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, m.src_docs,
           (d.n_chars * 1000000 // m.src_chars)::BIGINT AS char_share_ppm
    FROM documents d JOIN dim m USING (source)
    """,
    tags=("relational", "scale", "skew"),
)
def join_salted_replicated(spark, sf_dir):
    """Skew-mitigated equi-join by SALT REPLICATION: the fact side's hot
    join key (source — a handful of values owning the whole corpus, the
    canonical skew shape) is extended with salt = xxhash64(doc_id) % S,
    and the dim side is exploded into S replicas, so each hot key's rows
    spread across S reducer partitions instead of ONE straggler task.
    agg_salted_two_phase covers the aggregation flavor; this is the join
    flavor — the other half of the skew playbook (used when the dim is
    too big to broadcast; AQE's skew-join split is the automatic cousin,
    this is the declarative form that also works pre-AQE and for
    deliberate partitioning).

    The oracle is the PLAIN join — rewrite equality IS the test (the
    q12b discipline). Integer share math keeps both engines bit-equal.
    Plan-asserted: the salted join is a shuffle join on (source, salt),
    never a broadcast (which would mask the pattern)."""
    d = load_table(spark, sf_dir, "documents")
    dim = d.groupBy("source").agg(
        F.count("*").alias("src_docs"),
        F.sum("n_chars").cast("bigint").alias("src_chars"),
    )
    salted_dim = dim.select(
        "*", F.explode(F.array(*[F.lit(i) for i in range(JOIN_SALT)])).alias("salt")
    )
    fact = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.pmod(F.xxhash64("doc_id"), F.lit(JOIN_SALT)).alias("salt"),
    )
    return (
        fact.hint("SHUFFLE_HASH")
        .join(salted_dim, ["source", "salt"])
        .select(
            "doc_id",
            "source",
            "src_docs",
            F.expr("CAST(n_chars * 1000000 DIV src_chars AS BIGINT)").alias(
                "char_share_ppm"
            ),
        )
    )
