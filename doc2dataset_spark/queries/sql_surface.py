"""Modern-SQL dialect surface (round-5 third session), registered AFTER
the frozen driver gate and oracle-checked locally like everything else.

Spark 4.x shipped a batch of ANSI/modern-SQL constructs that a user
migrating a reference-era pipeline onto this engine will reach for; each
gets a first-class, oracle-gated query here so the capability is proven,
not presumed:

- ``q37_recursive_cte``     WITH RECURSIVE month spine + gap-filled order
                            counts (the canonical time-series gap-fill).
- ``q38_lateral_topk``      correlated LATERAL subquery with LIMIT —
                            top-2-per-group without a window function.
- ``q39_sql_udf``           catalog SQL scalar UDF (CREATE FUNCTION …
                            RETURN expr): reusable logic that stays
                            JVM-side in whole-stage codegen, unlike any
                            Python UDF.
- ``q40_listagg``           ANSI LISTAGG … WITHIN GROUP ordered string
                            aggregation (DuckDB twin: string_agg with
                            ORDER BY).
- ``q17c_grouping_sets``    explicit GROUPING SETS with a grouping-id
                            disambiguator column (completes the q17
                            rollup / q17b cube family).
- ``agg_count_min``         count-min sketch as pure relational algebra —
                            d×w counter matrix built with one explode +
                            hash agg, probed with a min-over-rows join,
                            overestimate guarantee checked against exact
                            counts in the same result.

Reference scope note: the reference (doc2dataset) exposes no SQL dialect
of its own — this module is part of the §2.3 declared-query surface that
makes the Spark engine a superset a reference user can migrate onto.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from doc2dataset_spark.queries.core import query
from doc2dataset_spark.session import load_table, register_views

# ---------------------------------------------------------------------------
# Q37 — recursive CTE month spine (gap-filled time series)
# ---------------------------------------------------------------------------

# High-value urgent orders are sparse enough that some months genuinely
# have zero of them — the LEFT JOIN's gap-fill branch is exercised for
# real, not vacuously.
Q37_MIN_PRICE = 450_000.0


@query(
    "q37_recursive_cte",
    oracle=f"""
    WITH RECURSIVE spine(m, mx) AS (
      SELECT date_trunc('month', min(o_orderdate)),
             date_trunc('month', max(o_orderdate)) FROM orders
      UNION ALL
      SELECT m + INTERVAL 1 MONTH, mx FROM spine WHERE m < mx
    ), agg AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             count(*)::BIGINT AS n_orders,
             round(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 4)::DOUBLE
               AS total_price
      FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_totalprice > {Q37_MIN_PRICE}
      GROUP BY 1
    )
    SELECT strftime(s.m, '%Y-%m') AS month,
           coalesce(a.n_orders, 0) AS n_orders,
           coalesce(a.total_price, 0.0) AS total_price
    FROM spine s LEFT JOIN agg a ON s.m = a.m
    """,
    tags=("relational", "recursive", "timeseries"),
)
def q37_recursive_cte(spark, sf_dir):
    """Gap-filled monthly time series via ``WITH RECURSIVE``: the spine
    CTE generates every month between the corpus min and max order date
    (no generate_series crutch, no driver-side loop), then LEFT JOINs the
    sparse per-month aggregate so empty months surface as explicit zero
    rows — the shape every dashboard/downstream-diff query needs.

    Scale shape: the recursion produces one row per month (dozens —
    driver-side-tiny by construction, recursion depth = months, far under
    Spark's level limit); the anchor computes both date bounds in ONE
    aggregate and carries the max through the recursion, so no scalar
    subquery re-executes per level (measured ~5× faster at sf0.01). The
    real data is touched exactly once by a map-side-combinable filtered
    aggregate, and the spine join broadcasts the spine. 100 TB of orders
    changes the agg's input, not the recursion.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH RECURSIVE spine(m, mx) AS (
          SELECT date_trunc('MONTH', min(o_orderdate)),
                 date_trunc('MONTH', max(o_orderdate)) FROM orders
          UNION ALL
          SELECT m + INTERVAL 1 MONTH, mx FROM spine WHERE m < mx
        ), agg AS (
          SELECT date_trunc('MONTH', o_orderdate) AS m,
                 count(*) AS n_orders,
                 CAST(round(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 4)
                      AS DOUBLE) AS total_price
          FROM orders
          WHERE o_orderpriority = '1-URGENT'
            AND o_totalprice > {Q37_MIN_PRICE}
          GROUP BY 1
        )
        SELECT date_format(s.m, 'yyyy-MM') AS month,
               coalesce(a.n_orders, 0) AS n_orders,
               coalesce(a.total_price, 0.0d) AS total_price
        FROM spine s LEFT JOIN agg a ON s.m = a.m
        """
    )


# ---------------------------------------------------------------------------
# Q38 — correlated LATERAL subquery with LIMIT
# ---------------------------------------------------------------------------
Q38_TOPN = 2
Q38_MAX_CUST = 200


@query(
    "q38_lateral_topk",
    oracle=f"""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT {Q38_TOPN}) t
    WHERE c.c_custkey < {Q38_MAX_CUST}
    """,
    tags=("relational", "lateral", "topk"),
)
def q38_lateral_topk(spark, sf_dir):
    """Top-2 orders per customer expressed as a correlated LATERAL
    subquery with LIMIT — the other idiom for per-group top-k (q19 is the
    window form). Catalyst decorrelates the LATERAL into a join + local
    per-key limit; the inner ORDER BY carries the o_orderkey tiebreaker
    per the determinism rules.

    Scale shape: decorrelation turns this into one equi-join on
    o_custkey + a per-key bounded sort — no per-customer query storm, no
    driver loop; the customer-side filter prunes before the join.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT {Q38_TOPN}) t
        WHERE c.c_custkey < {Q38_MAX_CUST}
        """
    )


# ---------------------------------------------------------------------------
# Q39 — SQL scalar UDF (catalog function, stays in codegen)
# ---------------------------------------------------------------------------


@query(
    "q39_sql_udf",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                 AS DECIMAL(38,6)), 4)::DOUBLE AS charge,
           CASE WHEN l_discount >= 0.05 THEN 'deep'
                WHEN l_discount > 0 THEN 'shallow'
                ELSE 'none' END AS discount_band
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
    tags=("relational", "udf", "sql"),
)
def q39_sql_udf(spark, sf_dir):
    """SQL scalar UDFs (Spark 4 ``CREATE FUNCTION … RETURN expr``): the
    TPC-H charge formula and a discount band, defined once as catalog
    functions and reused in the query. Unlike a Python UDF, the body is
    inlined into the plan at resolution time, so the whole expression
    stays inside whole-stage codegen — the oracle simply inlines the same
    expressions, which is exactly what Catalyst does.

    Scale shape: map-side only; zero shuffle, zero Python boundary.
    """
    register_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION li_charge(
            price DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS DOUBLE
        RETURN CAST(round(CAST(price * (1 - disc) * (1 + tax)
                    AS DECIMAL(38,6)), 4) AS DOUBLE)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION discount_band(disc DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN disc >= 0.05 THEN 'deep'
                    WHEN disc > 0 THEN 'shallow'
                    ELSE 'none' END
        """
    )
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               li_charge(l_extendedprice, l_discount, l_tax) AS charge,
               discount_band(l_discount) AS discount_band
        FROM lineitem
        WHERE l_orderkey < 1000
        """
    )


# ---------------------------------------------------------------------------
# Q40 — LISTAGG … WITHIN GROUP (ordered string aggregation)
# ---------------------------------------------------------------------------
Q40_MAX_ORDER = 2000


@query(
    "q40_listagg",
    oracle=f"""
    SELECT l_orderkey,
           string_agg(l_returnflag, ''
                      ORDER BY l_linenumber, l_returnflag) AS flag_seq,
           string_agg(l_linestatus || ':' || l_linenumber, ','
                      ORDER BY l_linenumber, l_linestatus) AS status_seq
    FROM lineitem
    WHERE l_orderkey < {Q40_MAX_ORDER}
    GROUP BY l_orderkey
    """,
    tags=("relational", "agg", "string"),
)
def q40_listagg(spark, sf_dir):
    """ANSI ``LISTAGG … WITHIN GROUP`` — deterministic ordered string
    aggregation (per-order flag sequence), the SQL:2016 construct Spark
    4.1 added; DuckDB's twin spelling is ``string_agg(… ORDER BY …)``.
    The WITHIN GROUP ordering makes the concatenation order-insensitive
    to partitioning; l_linenumber is NOT unique within an order in this
    corpus, so each listagg also orders by its own aggregated value —
    tied positions then concatenate identically on both engines.

    Scale shape: a single hash aggregate; the ordered concat is applied
    per group after shuffle-by-key — no global sort.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT l_orderkey,
               listagg(l_returnflag, '')
                 WITHIN GROUP (ORDER BY l_linenumber, l_returnflag)
                 AS flag_seq,
               listagg(l_linestatus || ':' || CAST(l_linenumber AS STRING),
                       ',')
                 WITHIN GROUP (ORDER BY l_linenumber, l_linestatus)
                 AS status_seq
        FROM lineitem
        WHERE l_orderkey < {Q40_MAX_ORDER}
        GROUP BY l_orderkey
        """
    )


# ---------------------------------------------------------------------------
# Q17c — explicit GROUPING SETS with grouping-id
# ---------------------------------------------------------------------------


@query(
    "q17c_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           count(*)::BIGINT AS n,
           round(SUM(CAST(l_quantity AS DECIMAL(38,6))), 4)::DOUBLE
             AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), (l_linestatus), ())
    """,
    tags=("relational", "agg", "grouping"),
)
def q17c_grouping_sets(spark, sf_dir):
    """Explicit ``GROUPING SETS`` with the grouping-id bitmask column —
    the general form of which q17 (ROLLUP) and q17b (CUBE) are special
    cases; the gid column is what disambiguates a NULL group key from a
    rolled-up level, and Spark's ``grouping__id`` bit order matches
    DuckDB's ``GROUPING(a, b)``.

    Scale shape: Spark expands the sets into one Expand node feeding a
    single hash aggregate — one shuffle for all four granularities,
    map-side partials included.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping__id AS BIGINT) AS gid,
               count(*) AS n,
               CAST(round(SUM(CAST(l_quantity AS DECIMAL(38,6))), 4)
                    AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------------------
# count-min sketch as relational algebra (exact-verified overestimates)
# ---------------------------------------------------------------------------
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_PROBE_KEYS = 24  # probe the keys 0..23 (mix of frequent + absent)

# row hash j ∈ [0, depth): first 48 bits of md5(j || '-' || key) — the
# cross-engine-identical uniform hash idiom the sampling ops use.
def cms_bucket_spark(key: str, width: int = CMS_WIDTH) -> str:
    """Seeded uniform bucket expression (Spark SQL) — shared with the
    streaming sketch module so batch and stream hash identically."""
    return (
        f"cast(conv(substring(md5(concat(cast(j AS string), '-', "
        f"cast({key} AS string))), 1, 12), 16, 10) AS bigint) % {width}"
    )


_CMS_BUCKET_SPARK = cms_bucket_spark("l_partkey")
def _cms_bucket_duck(prefix: str = "") -> str:
    return (
        f"('0x' || substr(md5({prefix}j::VARCHAR || '-' || "
        f"{prefix}l_partkey::VARCHAR), 1, 12))::BIGINT % {CMS_WIDTH}"
    )


@query(
    "agg_count_min",
    oracle=f"""
    WITH rows_j AS (
      SELECT l_partkey, unnest(range({CMS_DEPTH})) AS j FROM lineitem
    ), cms AS (
      SELECT j, {_cms_bucket_duck()} AS bucket, count(*)::BIGINT AS c
      FROM rows_j GROUP BY 1, 2
    ), probes AS (
      SELECT unnest(range({CMS_PROBE_KEYS})) AS l_partkey
    ), probe_j AS (
      SELECT l_partkey, unnest(range({CMS_DEPTH})) AS j FROM probes
    ), est AS (
      SELECT p.l_partkey, min(coalesce(c.c, 0)) AS cms_est
      FROM probe_j p
      LEFT JOIN cms c ON c.j = p.j AND c.bucket = ({_cms_bucket_duck("p.")})
      GROUP BY p.l_partkey
    ), exact AS (
      SELECT l_partkey, count(*)::BIGINT AS exact_n
      FROM lineitem WHERE l_partkey < {CMS_PROBE_KEYS} GROUP BY 1
    )
    SELECT e.l_partkey AS partkey, coalesce(x.exact_n, 0) AS exact_n,
           e.cms_est, e.cms_est >= coalesce(x.exact_n, 0) AS no_underestimate
    FROM est e LEFT JOIN exact x USING (l_partkey)
    """,
    tags=("agg", "sketch", "scale"),
)
def agg_count_min(spark, sf_dir):
    """Count-min sketch built and probed as pure relational algebra: the
    d×w counter matrix is ``explode(seq d) → groupBy(row, bucket)`` —
    map-side combinable, collapsing any input size to d·w rows — and a
    point estimate is the MIN over the d matching counters. The result
    joins each probe key's estimate with its exact count so CMS's
    one-sided error (never underestimates) is checked inside the query
    itself, same discipline as the HLL/percentile sketch twins.

    Scale shape: the sketch build shuffles d·w counter partials, not
    rows (the explode multiplies rows ×d but partial aggregation
    collapses them before the exchange); probes join a {CMS_DEPTH}×
    {CMS_WIDTH}-row broadcast. At 100 TB the sketch is still 1 KB-scale
    state, and unlike exact groupBy-count it is mergeable across
    corpora/streams.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rows_j = li.select(
        "l_partkey", F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j")
    )
    cms = (
        rows_j.select("j", F.expr(_CMS_BUCKET_SPARK).alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("c"))
    )
    probes = spark.range(CMS_PROBE_KEYS).select(
        F.col("id").cast("bigint").alias("l_partkey")
    )
    probe_j = probes.select(
        "l_partkey",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j"),
    ).select(
        "l_partkey", "j", F.expr(_CMS_BUCKET_SPARK).alias("bucket")
    )
    est = (
        probe_j.join(F.broadcast(cms), ["j", "bucket"], "left")
        .groupBy("l_partkey")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_est"))
    )
    exact = (
        li.filter(F.col("l_partkey") < CMS_PROBE_KEYS)
        .groupBy("l_partkey")
        .agg(F.count("*").alias("exact_n"))
    )
    return est.join(exact, "l_partkey", "left").select(
        F.col("l_partkey").alias("partkey"),
        F.coalesce("exact_n", F.lit(0)).alias("exact_n"),
        "cms_est",
        (F.col("cms_est") >= F.coalesce("exact_n", F.lit(0))).alias(
            "no_underestimate"
        ),
    )


# ---------------------------------------------------------------------------
# Bloom filter as relational algebra (membership with measured FP rate)
# ---------------------------------------------------------------------------
BLOOM_BITS = 4096
BLOOM_K = 4  # hash functions
# corpus = docs with doc_id % 5 != 0; every doc (incl. corpus members) is
# probed, so both the no-false-negative guarantee and the false-positive
# rate are exercised against exact membership in the same result.
_BLOOM_CORPUS_PRED = "doc_id % 5 <> 0"


def _bloom_bit_spark(width: int = BLOOM_BITS) -> str:
    return (
        f"cast(conv(substring(md5(concat(cast(j AS string), '-', dg)), "
        f"1, 12), 16, 10) AS bigint) % {width}"
    )


def _bloom_bit_duck(prefix: str = "", width: int = BLOOM_BITS) -> str:
    return (
        f"('0x' || substr(md5({prefix}j::VARCHAR || '-' || {prefix}dg), "
        f"1, 12))::BIGINT % {width}"
    )


@query(
    "agg_bloom_filter",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, md5(text) AS dg FROM documents
    ), corpus AS (
      SELECT DISTINCT dg FROM d WHERE {_BLOOM_CORPUS_PRED}
    ), bits AS (
      SELECT DISTINCT {_bloom_bit_duck()} AS bitpos
      FROM corpus, unnest(range({BLOOM_K})) AS t(j)
    ), probe AS (
      SELECT doc_id, dg, unnest(range({BLOOM_K})) AS j FROM d
    ), memb AS (
      SELECT p.doc_id, p.dg,
             bool_and(b.bitpos IS NOT NULL) AS in_bloom
      FROM probe p
      LEFT JOIN bits b ON b.bitpos = ({_bloom_bit_duck("p.")})
      GROUP BY p.doc_id, p.dg
    )
    SELECT m.doc_id, m.in_bloom,
           (c.dg IS NOT NULL) AS present,
           m.in_bloom AND c.dg IS NULL AS is_false_positive,
           m.in_bloom OR c.dg IS NULL AS no_false_negative
    FROM memb m LEFT JOIN corpus c ON m.dg = c.dg
    """,
    tags=("agg", "sketch", "dedup", "scale"),
)
def agg_bloom_filter(spark, sf_dir):
    """Bloom-filter membership as pure relational algebra — the
    incremental-dedup primitive ("is this document already in yesterday's
    corpus?") without shuffling yesterday's corpus: the filter is a
    DISTINCT set of ≤{BLOOM_BITS} bit positions ({BLOOM_K} seeded hashes
    of the text digest per member), membership is "all {BLOOM_K} bits
    set" via a broadcast join, and — same discipline as agg_count_min —
    both sketch guarantees are checked inside the result: present ⇒
    in_bloom (no false negatives, always true) and the false-positive
    flags measure the sketch's one-sided error against exact membership.

    Scale shape: the bit set DISTINCTs to ≤{BLOOM_BITS} rows no matter
    the corpus size (map-side combinable) and broadcasts to the probes;
    the exact-membership twin here is an equi-join on the digest (what
    the bloom filter REPLACES at scale — kept in-result so the error is
    measured, not asserted). A production incremental pipeline persists
    the bit set (1 KB-scale, mergeable by union) and prunes the probe
    side before any expensive verify join.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("dg")
    )
    corpus = d.filter(F.expr(_BLOOM_CORPUS_PRED)).select("dg").distinct()
    bits = (
        corpus.select(
            F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("j"),
            "dg",
        )
        .select(F.expr(_bloom_bit_spark()).alias("bitpos"))
        .distinct()
    )
    probe = d.select(
        "doc_id",
        "dg",
        F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("j"),
    ).select("doc_id", "dg", F.expr(_bloom_bit_spark()).alias("bitpos"))
    memb = (
        probe.join(
            F.broadcast(bits.withColumn("hit", F.lit(1))), "bitpos", "left"
        )
        .groupBy("doc_id", "dg")
        .agg(F.min(F.col("hit").isNotNull()).alias("in_bloom"))
    )
    cset = corpus.withColumnRenamed("dg", "cdg")
    return memb.join(
        F.broadcast(cset), F.col("dg") == F.col("cdg"), "left"
    ).select(
        "doc_id",
        "in_bloom",
        F.col("cdg").isNotNull().alias("present"),
        (F.col("in_bloom") & F.col("cdg").isNull()).alias(
            "is_false_positive"
        ),
        (F.col("in_bloom") | F.col("cdg").isNull()).alias(
            "no_false_negative"
        ),
    )


# ---------------------------------------------------------------------------
# Q41 — SQL pipe syntax (Spark 4.x |> operators)
# ---------------------------------------------------------------------------


@query(
    "q41_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*)::BIGINT AS n,
           round(SUM(CAST(l_quantity AS DECIMAL(38,6))), 4)::DOUBLE
             AS sum_qty,
           round(SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(38,6))), 4)::DOUBLE AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag, l_linestatus
    HAVING count(*) > 100
    """,
    tags=("relational", "dialect"),
)
def q41_pipe_syntax(spark, sf_dir):
    """The same filtered-aggregate-having query written in Spark 4's SQL
    PIPE syntax (``|>`` operators — linear dataflow order instead of
    inside-out SQL): each ``|>`` stage maps 1:1 onto a Catalyst operator,
    so the optimized plan is IDENTICAL to the classic spelling the oracle
    runs — the dialect is sugar, the engine surface is what's proven.

    Scale shape: same as any filtered hash aggregate — pushdown filter,
    map-side partials, one exchange on the group key.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |> AGGREGATE
             count(*) AS n,
             CAST(round(SUM(CAST(l_quantity AS DECIMAL(38,6))), 4)
                  AS DOUBLE) AS sum_qty,
             CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(38,6))), 4) AS DOUBLE) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n > 100
        |> SELECT l_returnflag, l_linestatus, n, sum_qty, revenue
        """
    )


# ---------------------------------------------------------------------------
# Q42 — GROUP BY ALL (round 6)
# ---------------------------------------------------------------------------
@query(
    "q42_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*)::BIGINT AS n,
           round(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 4)::DOUBLE
             AS total
    FROM orders
    GROUP BY ALL
    """,
    tags=("sql", "dialect"),
)
def q42_group_by_all(spark, sf_dir):
    """``GROUP BY ALL`` — every non-aggregate select item becomes a key
    (the de-facto modern dialect shorthand; Spark 4 and DuckDB agree on
    the semantics). Same partial-agg plan as an explicit key list: the
    shorthand is resolution-time sugar, so there is no performance
    story to audit — only parity to prove."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               CAST(round(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 4)
                    AS DOUBLE) AS total
        FROM orders
        GROUP BY ALL
        """
    )


# ---------------------------------------------------------------------------
# Q43 — windowed COUNT(DISTINCT) emulation (round 6)
# ---------------------------------------------------------------------------
@query(
    "q43_window_count_distinct",
    oracle="""
    SELECT o_custkey, o_orderkey,
           count(DISTINCT o_orderpriority) OVER (PARTITION BY o_custkey)
             ::BIGINT AS n_prio
    FROM orders
    WHERE o_orderkey < 5000
    """,
    tags=("sql", "window", "dialect"),
)
def q43_window_count_distinct(spark, sf_dir):
    """COUNT(DISTINCT …) OVER — a dialect gap made explicit: DuckDB
    supports distinct aggregates in window frames natively, Spark does
    not (DISTINCT_WINDOW_FUNCTION_UNSUPPORTED), and the standard
    workaround is ``size(collect_set(x) OVER w)``. The query proves the
    rewrite is value-identical on the same partition spec.

    Scale shape: collect_set state is bounded by the DISTINCT cardinality
    of the windowed column (4 priorities here), not partition row count —
    the same bound DuckDB's native distinct-window pays. For unbounded-
    cardinality columns the right tool is approx_count_distinct per group
    joined back (q16b's shape), not a window."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    w = W.partitionBy("o_custkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.size(F.collect_set("o_orderpriority").over(w))
        .cast("bigint")
        .alias("n_prio"),
    )


# ---------------------------------------------------------------------------
# Q44 — deterministic correlation / covariance (round 6)
# ---------------------------------------------------------------------------
@query(
    "q44_corr_covar",
    oracle="""
    WITH s AS (
      SELECT l_returnflag AS flag,
             count(*)::BIGINT AS n,
             SUM(CAST(l_quantity AS DECIMAL(38,6))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS sy,
             SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS sxy,
             SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS sxx,
             SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6)))
               AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT flag, n,
           round((sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n) / (n - 1), 4)
             AS covar_samp,
           round((sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n)
                 / sqrt((sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n)
                        * (syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n)), 6)
             AS corr
    FROM s
    """,
    tags=("sql", "stats"),
)
def q44_corr_covar(spark, sf_dir):
    """Per-group Pearson correlation and sample covariance of
    (quantity, extendedprice) — computed from EXPLICIT decimal power
    sums (n, Σx, Σy, Σxy, Σx², Σy²) instead of the engines' native
    corr()/covar_samp(), because the natives stream floating point in
    engine-specific order and diverge in the last ulps; the power sums
    are exact decimals, so both engines derive bit-identical statistics.
    The same trick every deterministic distributed-stats layer uses —
    power sums are also the MERGEABLE form (combine by addition), i.e.
    exactly what crosses the shuffle as map-side partials.

    Scale shape: one map-side-combinable aggregation; six accumulator
    columns per group regardless of row count."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(38,6)")  # noqa: E731
    s = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").alias("n"),
        F.sum(dec("l_quantity")).alias("sx"),
        F.sum(dec("l_extendedprice")).alias("sy"),
        F.sum((F.col("l_quantity") * F.col("l_extendedprice")).cast("decimal(38,6)")).alias("sxy"),
        F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("decimal(38,6)")).alias("sxx"),
        F.sum((F.col("l_extendedprice") * F.col("l_extendedprice")).cast("decimal(38,6)")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return s.select(
        "flag",
        "n",
        F.round((sxy - sx * sy / n) / (n - 1), 4).alias("covar_samp"),
        F.round(
            (sxy - sx * sy / n)
            / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)),
            6,
        ).alias("corr"),
    )


# ---------------------------------------------------------------------------
# Q45/Q46 — TPC-H Q3 and Q5 shapes (round 6)
# ---------------------------------------------------------------------------
Q45_CUTOFF = "1997-06-30 00:00:00"


@query(
    "q45_tpch_q3",
    oracle=f"""
    SELECT l.l_orderkey,
           round(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(38,6))), 4)::DOUBLE AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '{Q45_CUTOFF}'
      AND l.l_shipdate > TIMESTAMP '{Q45_CUTOFF}'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    tags=("sql", "tpch"),
)
def q45_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping-priority): top-10 unshipped BUILDING-segment
    orders by open revenue — the canonical 3-way join + grouped sum +
    global top-k. Revenue is exact-decimal summed and rounded before the
    top-k so the LIMIT is deterministic (l_orderkey tiebreak); the order
    date is string-formatted per the determinism rules.

    Scale shape: both filters reach their scans (segment on customer,
    the two date bounds on orders/lineitem); customer-side is a
    broadcast-eligible dim after filtering, the l⋈o join shuffles on
    orderkey, and the top-10 is TakeOrderedAndProject — no global
    sort."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < Q45_CUTOFF
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > Q45_CUTOFF
    )
    rev = (
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(38,6)")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 4).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
                "o_orderdate"
            ),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q46_tpch_q5",
    oracle="""
    SELECT n.n_name,
           round(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(38,6))), 4)::DOUBLE AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
    tags=("sql", "tpch"),
)
def q46_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local-supplier volume): revenue by nation where the
    supplier and customer share the nation, restricted to one region and
    a two-year window — the 6-way snowflake join with a non-FK equality
    (c_nationkey = s_nationkey) folded into the supplier join.

    Scale shape: region/nation/supplier/customer are broadcast dims
    (region filter prunes the snowflake before any fact shuffle); the
    only big exchange is lineitem⋈orders on orderkey. The nation-match
    predicate rides the supplier join — no extra shuffle."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(38,6)")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(c),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(rev), 4).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# Q47 — distribution window functions (round 6)
# ---------------------------------------------------------------------------
@query(
    "q47_distribution_windows",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
    FROM orders
    WHERE o_orderkey < 4000
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("sql", "window", "distribution"),
)
def q47_distribution_windows(spark, sf_dir):
    """percent_rank + cume_dist — the distribution windows q20's ranking
    family didn't cover: relative position (rank-1)/(n-1) and the
    empirical CDF per partition, with the o_orderkey tiebreaker making
    both exactly reproducible (identical ANSI semantics, rounded to 6 dp
    so the division result is order-independent).

    Scale shape: one window keyed by customer — a bounded per-key sort,
    the same partition spec both engines pay."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 4000
    )
    w = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


# ---------------------------------------------------------------------------
# lateral column aliases (Spark 3.4+ dialect surface)
# ---------------------------------------------------------------------------
@query(
    "q51_lateral_alias",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS disc_price,
           round(disc_price * (1 + l_tax), 4) AS charge,
           round(charge - disc_price, 4) AS tax_amount
    FROM lineitem WHERE l_orderkey < 100
    """,
    tags=("sql", "dialect"),
)
def q51_lateral_alias(spark, sf_dir):
    """Lateral column aliases: later SELECT expressions reference
    earlier aliases in the same list (disc_price → charge →
    tax_amount) — the Spark 3.4+ dialect feature that kills the
    nested-subquery boilerplate for derived-metric chains. DuckDB
    supports the same referencing, so the oracle is the identical
    statement. Catalyst inlines the chain into one projection — the
    plan is a single codegen stage over the pruned scan, alias depth
    has no runtime cost."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_v"
    )
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice * (1 - l_discount), 4) AS disc_price,
               round(disc_price * (1 + l_tax), 4) AS charge,
               round(charge - disc_price, 4) AS tax_amount
        FROM lineitem_v WHERE l_orderkey < 100
        """
    )


# ---------------------------------------------------------------------------
# null-semantics battery
# ---------------------------------------------------------------------------
@query(
    "q52_null_semantics",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderpriority END AS prio,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey < 2000
    )
    SELECT coalesce(prio, '<null>') AS prio,
           count(*)::BIGINT AS n_rows,
           count(price)::BIGINT AS n_price,          -- count skips nulls
           count(*) FILTER (WHERE price IS NULL)::BIGINT AS n_null_price,
           round(sum(price), 2) AS sum_price,        -- sum skips nulls
           sum(CASE WHEN price IS NOT DISTINCT FROM NULL
                    THEN 1 ELSE 0 END)::BIGINT AS n_nsafe
    FROM t
    GROUP BY prio
    """,
    tags=("sql", "semantics"),
)
def q52_null_semantics(spark, sf_dir):
    """Null-semantics battery on one grouped aggregate: NULL group keys
    form their OWN group (surfaced via coalesce so both engines label it
    identically), COUNT(col)/SUM skip nulls while COUNT(*) does not,
    FILTER counts them explicitly, and null-safe comparison
    (Spark ``<=>`` == SQL ``IS NOT DISTINCT FROM``) treats NULL=NULL as
    true. The contract every downstream aggregate silently depends on —
    locked as an oracle hash so an engine upgrade that shifts null
    grouping or null-safe-eq behavior fails loudly.

    Scale shape: one pruned scan + one map-side-combinable aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    t = o.select(
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_orderpriority"))
        .alias("prio"),
        F.when(F.col("o_orderkey") % 11 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    return t.groupBy(
        F.coalesce("prio", F.lit("<null>")).alias("prio")
    ).agg(
        F.count("*").alias("n_rows"),
        F.count("price").alias("n_price"),
        F.count_if(F.col("price").isNull()).alias("n_null_price"),
        F.round(F.sum("price"), 2).alias("sum_price"),
        F.sum(
            F.when(F.col("price").eqNullSafe(F.lit(None)), 1).otherwise(0)
        ).alias("n_nsafe"),
    )


# ---------------------------------------------------------------------------
# ORDER BY ALL dialect + deterministic full ordering
# ---------------------------------------------------------------------------
@query(
    "q53_order_by_all",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, count(*)::BIGINT AS n
    FROM orders GROUP BY o_orderpriority, o_orderstatus
    ORDER BY ALL
    """,
    tags=("sql", "dialect"),
)
def q53_order_by_all(spark, sf_dir):
    """ORDER BY ALL (Spark 4 / DuckDB dialect): order by every select
    column left-to-right — the deterministic-output shorthand for small
    grouped reports. The result set here is |priorities|×|statuses|
    rows, so the global sort is over a parameter-bounded frame (the
    driver compare is order-insensitive anyway; this query exists for
    dialect parity, and the aggregate beneath is the scalable part)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus, count(*) AS n
        FROM orders_v GROUP BY o_orderpriority, o_orderstatus
        ORDER BY ALL
        """
    )


# ---------------------------------------------------------------------------
# NOT IN null trap vs NOT EXISTS
# ---------------------------------------------------------------------------
@query(
    "q70_not_in_null_trap",
    oracle="""
    WITH probe AS (
      SELECT o_custkey FROM orders WHERE o_orderkey < 1000
    ), dirty AS (
      SELECT CASE WHEN c_custkey % 50 = 0 THEN NULL
             ELSE c_custkey END AS k
      FROM customer WHERE c_custkey < 200
    ), clean AS (
      SELECT k FROM dirty WHERE k IS NOT NULL
    )
    SELECT
      (SELECT count(*) FROM probe
        WHERE o_custkey NOT IN (SELECT k FROM clean))::BIGINT
        AS n_not_in_clean,
      (SELECT count(*) FROM probe
        WHERE o_custkey NOT IN (SELECT k FROM dirty))::BIGINT
        AS n_not_in_poisoned,
      (SELECT count(*) FROM probe p
        WHERE NOT EXISTS (SELECT 1 FROM dirty d
                          WHERE d.k = p.o_custkey))::BIGINT
        AS n_not_exists
    """,
    tags=("sql", "dialect", "nulls"),
)
def q70_not_in_null_trap(spark, sf_dir):
    """The NOT IN null trap, pinned as an oracle contract: with a NULL
    in the subquery, ``x NOT IN (…)`` is never TRUE (three-valued logic:
    x <> NULL is UNKNOWN, so the conjunction can't reach TRUE) and the
    poisoned count is 0 — while NOT EXISTS with an equality correlate is
    null-immune and returns the real complement. Both engines implement
    ANSI semantics; the hash locks that the engine's NOT IN stays a
    null-aware anti-join (Spark plans exactly that) and that the two
    spellings diverge in the documented way. The third count equals the
    first: NOT EXISTS over the dirty set == NOT IN over the cleaned set.

    Scale shape: three bounded-probe anti-join counts joined as scalar
    1-row frames; the null-aware anti-join (NOT IN) is the expensive
    spelling at scale (it must broadcast-and-null-check), which is WHY
    production code should write NOT EXISTS — this query is the
    documented receipt."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    o.filter(F.col("o_orderkey") < 1000).select("o_custkey").createOrReplaceTempView(
        "q70_probe"
    )
    c.filter(F.col("c_custkey") < 200).select(
        F.when(F.col("c_custkey") % 50 == 0, None)
        .otherwise(F.col("c_custkey"))
        .alias("k")
    ).createOrReplaceTempView("q70_dirty")
    return spark.sql(
        """
        SELECT
          (SELECT count(*) FROM q70_probe
            WHERE o_custkey NOT IN (SELECT k FROM q70_dirty
                                    WHERE k IS NOT NULL))
            AS n_not_in_clean,
          (SELECT count(*) FROM q70_probe
            WHERE o_custkey NOT IN (SELECT k FROM q70_dirty))
            AS n_not_in_poisoned,
          (SELECT count(*) FROM q70_probe p
            WHERE NOT EXISTS (SELECT 1 FROM q70_dirty d
                              WHERE d.k = p.o_custkey))
            AS n_not_exists
        """
    ).select(
        F.col("n_not_in_clean").cast("bigint").alias("n_not_in_clean"),
        F.col("n_not_in_poisoned").cast("bigint").alias("n_not_in_poisoned"),
        F.col("n_not_exists").cast("bigint").alias("n_not_exists"),
    )


@query(
    "q71_intdiv_mod_contract",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             (o_orderkey % 100) - 50 AS a,
             CASE WHEN o_orderkey % 3 = 0 THEN -7 ELSE 7 END AS b
      FROM orders WHERE o_orderkey < 500
    )
    SELECT a, b,
           (a // b)::BIGINT AS int_div,
           (a % b)::BIGINT AS mod_c,
           (((a % b) + b) % b)::BIGINT AS mod_floored,
           count(*)::BIGINT AS n
    FROM t GROUP BY a, b
    """,
    tags=("sql", "dialect"),
)
def q71_intdiv_mod_contract(spark, sf_dir):
    """Integer division/modulo sign contract over negative operands:
    both engines truncate integer division toward zero (``DIV`` ==
    DuckDB ``//`` for integers) and give ``%`` the DIVIDEND's sign
    (C semantics) — and the floored ("python-style", always
    b-signed) modulo is recoverable as ``((a % b) + b) % b`` (Spark's
    ``pmod`` for positive b). Locked as an oracle hash because silent
    sign disagreement here corrupts every hash-bucketing and
    salting expression built on %.

    Scale shape: scan-filter + a ≤200-group aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    t = o.select(
        ((F.col("o_orderkey") % 100) - 50).alias("a"),
        F.when(F.col("o_orderkey") % 3 == 0, -7).otherwise(7).alias("b"),
    )
    return t.groupBy("a", "b").agg(
        F.expr("a DIV b").cast("bigint").alias("int_div"),
        (F.col("a") % F.col("b")).cast("bigint").alias("mod_c"),
        (((F.col("a") % F.col("b")) + F.col("b")) % F.col("b"))
        .cast("bigint")
        .alias("mod_floored"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


@query(
    "q72_datetime_contract",
    oracle="""
    SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d')
             AS week_start,
           isodow(min(o_orderdate))::INT AS iso_dow_first,
           quarter(min(o_orderdate))::INT AS q_first,
           epoch(min(o_orderdate))::BIGINT AS epoch_first,
           count(*)::BIGINT AS n
    FROM orders
    WHERE o_orderkey < 2000
    GROUP BY date_trunc('week', o_orderdate)
    """,
    tags=("sql", "dialect", "datetime"),
)
def q72_datetime_contract(spark, sf_dir):
    """Datetime cross-engine contract: the PORTABLE spellings for the
    calendar primitives where the engines' native functions disagree —
    Spark ``dayofweek`` is 1=Sunday while DuckDB ``dayofweek`` is
    0=Sunday, so the ISO day (1=Mon..7=Sun) must be spelled
    ``((dayofweek(ts)+5)%7)+1`` on Spark vs ``isodow`` on DuckDB; both
    engines truncate ``date_trunc('week')`` to Monday and agree on
    quarter and epoch seconds (UTC session pinned by load_table). A
    weekly roll-up locks all four at once.

    Scale shape: pruned scan, map-side-combinable weekly aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    return (
        o.groupBy(
            F.date_format(
                F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd"
            ).alias("week_start")
        )
        .agg(
            (((F.dayofweek(F.min("o_orderdate")) + 5) % 7) + 1)
            .cast("int")
            .alias("iso_dow_first"),
            F.quarter(F.min("o_orderdate")).cast("int").alias("q_first"),
            F.unix_timestamp(F.min("o_orderdate"))
            .cast("bigint")
            .alias("epoch_first"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )


@query(
    "q73_string_contract",
    oracle="""
    SELECT c_custkey,
           substr(c_name, 10, 5) AS sub_1based,
           strpos(c_name, '#')::INT AS instr_1based,
           lpad(c_custkey::VARCHAR, 8, '0') AS key_padded,
           split_part(c_name, '#', 2) AS after_hash,
           length(c_name)::INT AS n_chars,
           upper(substr(c_name, 1, 3)) AS up3
    FROM customer WHERE c_custkey < 100
    """,
    tags=("sql", "dialect", "strings"),
)
def q73_string_contract(spark, sf_dir):
    """String-function cross-engine contract: 1-based substring and
    instr/strpos, lpad zero-padding, split_part field extraction,
    character (not byte) length, ASCII case mapping — pinned as hashes
    because every key-formatting expression in the pipeline
    (operators/sharding.py's shard keys, the text index's terms) assumes
    these exact conventions.

    Scale shape: row-local projection, pruned scan, no shuffle."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return c.select(
        "c_custkey",
        F.substring("c_name", 10, 5).alias("sub_1based"),
        F.instr(F.col("c_name"), "#").cast("int").alias("instr_1based"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias(
            "key_padded"
        ),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias(
            "after_hash"
        ),
        F.length("c_name").cast("int").alias("n_chars"),
        F.upper(F.substring("c_name", 1, 3)).alias("up3"),
    )


HOF_BIG = 0.25  # exactly representable in binary — safe float/double cmp


@query(
    "q74_higher_order_fns",
    oracle=f"""
    SELECT vec_id,
           len(embedding) AS dim,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           len(list_filter(embedding, x -> x > {HOF_BIG})) > 0 AS has_big,
           len(list_filter(embedding, x -> NOT (abs(x::DOUBLE) < 1.0))) = 0
             AS all_small,
           round(list_reduce(
             list_transform(embedding, x -> abs(x::DOUBLE)),
             (a, x) -> a + x), 4) AS l1,
           round(list_reduce(
             list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
             (a, x) -> a + x), 4) AS sq_sum
    FROM embeddings
    """,
    tags=("relational", "nested", "lambda"),
)
def q74_higher_order_fns(spark, sf_dir):
    """SQL higher-order functions (SPARK-23908) over array<float>:
    filter, exists, forall, and aggregate (fold), each reduced to a
    scalar. The lambda surface q27_array_fns deliberately left out.

    Exactness: elements cast to DOUBLE before arithmetic (identical
    float→double widening both engines); folds are left-folds with an
    exact 0.0 identity, so the accumulation order — and thus the
    rounded result — is bit-identical to DuckDB's list_reduce over
    list_transform. Scale shape: embarrassingly-parallel per-row
    codegen expressions, one scan, no shuffle, no UDF."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.expr("filter(embedding, x -> x > 0)")).alias("n_pos"),
        F.expr(f"exists(embedding, x -> x > {HOF_BIG})").alias("has_big"),
        F.expr("forall(embedding, x -> abs(CAST(x AS DOUBLE)) < 1.0)").alias(
            "all_small"
        ),
        F.round(
            F.expr(
                "aggregate(embedding, 0D, (a, x) -> a + abs(CAST(x AS DOUBLE)))"
            ),
            4,
        ).alias("l1"),
        F.round(
            F.expr(
                "aggregate(embedding, 0D,"
                " (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
            ),
            4,
        ).alias("sq_sum"),
    )
