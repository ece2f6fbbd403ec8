"""TPC-H plan-shape completion on the shipped star schema (TESTDATA.md
has no ``partsupp`` table and no comment/commitdate/receiptdate/phone/
container columns, so several queries are *adapted* to the shipped
columns — each adaptation is documented in its docstring, the PLAN SHAPE
being the point, exactly as ``q48_tpch_q10`` did).

With the six already registered (Q1 ``q14_tpch_q1``, Q3 ``q45``, Q5
``q46``, Q6 ``q50``, Q10 ``q48``, Q18 ``q49``), the twelve here, and the
four partsupp-dependent shapes over the derived partsupp
(``queries/tpch_partsupp.py`` — Q2/Q11/Q16/Q20), the engine covers all
**22 of 22** TPC-H plan shapes:

- ``q54_tpch_q4``   order-priority checking: date-pruned orders,
                    EXISTS (left-semi) with a non-equi ship-lag term.
- ``q55_tpch_q7``   volume shipping: 5-way join, disjunctive nation-pair
                    predicate, per-year grouped revenue.
- ``q56_tpch_q8``   national market share: CASE-sum / total-sum ratio
                    per year inside one aggregate pass.
- ``q57_tpch_q9``   product-type profit: part⋈lineitem⋈orders⋈supplier
                    ⋈nation, computed-measure grouped sum.
- ``q58_tpch_q13``  customer order-count distribution: outer join with
                    an ON-clause extra predicate, aggregate-of-aggregate.
- ``q59_tpch_q15``  top supplier: derived revenue view equi-joined back
                    against its own scalar MAX.
- ``q60_tpch_q17``  small-quantity revenue: per-part correlated AVG
                    threshold, fact filtered against the broadcast aggs.
- ``q61_tpch_q22``  dormant high-balance customers: scalar AVG subquery
                    + NOT EXISTS anti-join + grouped roll-up.
- ``q62_tpch_q14``  promo revenue share by month: two-sum ratio over a
                    date-bucketed join.
- ``q63_tpch_q19``  disjunctive OR-of-ANDs predicate join (the pushdown
                    torture test).
- ``q68_tpch_q12``  lateness-class conditional aggregate over a
                    non-equi-residual join (shipmode→linestatus adapt).
- ``q69_tpch_q21``  kept-orders-waiting: EXISTS + NOT EXISTS double
                    decorrelation into semi + anti joins.

Determinism follows the registry rules (queries/core.py): doubles are
accumulated as DECIMAL(38,6) then rounded; ratios divide the two exact
sums as doubles (the retention_cohorts precedent); every top-k carries a
unique tiebreaker.

Scale notes per query; no windows at all in this module, so the
registry-wide no-unpartitioned-WindowExec gate holds trivially.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from doc2dataset_spark.queries.core import dsum, query, sql_dsum
from doc2dataset_spark.session import load_table

Q4_START, Q4_END, Q4_LAG_DAYS = "1996-01-01", "1996-04-01", 60
Q7_NATION_A, Q7_NATION_B = "NATION_1", "NATION_2"
Q7_START, Q7_END = "1996-01-01", "1998-01-01"
Q8_REGION, Q8_TYPE, Q8_NATION = "ASIA", "PROMO", "NATION_3"
Q9_TYPE, Q9_COST_FRAC = "ECONOMY", 0.6
Q13_SKIP_PRIORITY = "5-LOW"
Q15_START, Q15_END = "1996-01-01", "1996-04-01"
Q17_BRAND, Q17_MAX_SIZE, Q17_QTY_FRAC = "Brand#1", 10, 0.5
Q22_DORMANT_SINCE = "1999-01-01"
Q14_YEAR = 1996
Q19_ARMS = (  # (brand, max_size, qty_lo, qty_hi)
    ("Brand#1", 5, 1, 11),
    ("Brand#2", 10, 10, 20),
    ("Brand#3", 15, 20, 30),
)


@query(
    "q54_tpch_q4",
    oracle=f"""
    SELECT o.o_orderpriority, count(*)::BIGINT AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '{Q4_START}'
      AND o.o_orderdate < TIMESTAMP '{Q4_END}'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL {Q4_LAG_DAYS} DAY)
    GROUP BY o.o_orderpriority
    """,
    tags=("sql", "tpch"),
)
def q54_tpch_q4(spark, sf_dir):
    """TPC-H Q4 (order-priority checking), adapted: the reference
    predicate ``l_commitdate < l_receiptdate`` (columns not shipped)
    becomes "some lineitem shipped more than Q4_LAG_DAYS after the order
    date" — the same EXISTS-with-non-equi-term plan shape.

    Scale shape: the quarter prunes orders at the scan; the EXISTS is a
    LEFT SEMI hash join on l_orderkey with the ship-lag term as a join
    residual (no fan-out, no distinct needed); the priority roll-up is a
    5-group map-side-combinable count."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q4_START) & (F.col("o_orderdate") < Q4_END)
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    lag = F.expr(f"INTERVAL {Q4_LAG_DAYS} DAYS")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + lag),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
    )


@query(
    "q55_tpch_q7",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate)::INT AS l_year,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
        OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}'))
      AND l.l_shipdate >= TIMESTAMP '{Q7_START}'
      AND l.l_shipdate < TIMESTAMP '{Q7_END}'
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
    tags=("sql", "tpch"),
)
def q55_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping): revenue between a nation PAIR in both
    directions, per ship year — the canonical 5-way join with a
    disjunctive cross-table predicate that only becomes decidable after
    both nation joins.

    Scale shape: the two-year ship window prunes lineitem at the scan;
    both nation joins broadcast (25 rows); supplier broadcasts after
    AQE sizes it; the fact⋈orders join shuffles on orderkey. The pair
    disjunction is evaluated post-join (it references both sides), but
    each nation broadcast could pre-filter to the two named nations —
    Catalyst derives exactly that via constraint propagation from the
    OR of ANDs (both arms bound n1 ∈ {A,B} and n2 ∈ {A,B})."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q7_START) & (F.col("l_shipdate") < Q7_END)
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == Q7_NATION_A)
        & (F.col("cust_nation") == Q7_NATION_B)
    ) | (
        (F.col("supp_nation") == Q7_NATION_B)
        & (F.col("cust_nation") == Q7_NATION_A)
    )
    return (
        li.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
    )


@query(
    "q56_tpch_q8",
    oracle=f"""
    SELECT year(o.o_orderdate)::INT AS o_year,
           round(
             SUM(CAST(CASE WHEN n1.n_name = '{Q8_NATION}'
                  THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END
                 AS DECIMAL(38,6)))::DOUBLE
             / SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(38,6)))::DOUBLE, 4) AS mkt_share
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n2.n_regionkey
    WHERE r.r_name = '{Q8_REGION}' AND p.p_type = '{Q8_TYPE}'
    GROUP BY year(o.o_orderdate)
    """,
    tags=("sql", "tpch"),
)
def q56_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share): within one customer region and
    one part type, the share of yearly revenue supplied from one nation —
    the 8-way snowflake join whose measure is a CASE-sum / total-sum
    ratio computed in a single aggregate pass (no self-join, no second
    scan).

    Scale shape: p_type prunes part (broadcast), region/nation broadcast,
    the two fact joins shuffle on their natural keys; both sums are
    exact decimals so the ratio is order-independent (the
    retention_cohorts double-division precedent)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q8_REGION
    )
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_regionkey").alias("n2_regionkey"),
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n2_regionkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == Q8_NATION, vol)
                    .otherwise(F.lit(0.0))
                    .cast("decimal(38,6)")
                ).cast("double")
                / F.sum(vol.cast("decimal(38,6)")).cast("double"),
                4,
            ).alias("mkt_share")
        )
    )


@query(
    "q57_tpch_q9",
    oracle=f"""
    SELECT n.n_name AS nation, year(o.o_orderdate)::INT AS o_year,
           {sql_dsum(
               "l.l_extendedprice * (1 - l.l_discount) "
               f"- {Q9_COST_FRAC} * p.p_retailprice * l.l_quantity",
               "sum_profit",
           )}
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_type = '{Q9_TYPE}'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
    tags=("sql", "tpch"),
)
def q57_tpch_q9(spark, sf_dir):
    """TPC-H Q9 (product-type profit), adapted: the reference cost term
    ``ps_supplycost * l_quantity`` needs the unshipped partsupp table, so
    cost is proxied as ``Q9_COST_FRAC * p_retailprice * l_quantity`` —
    same computed-measure-over-a-5-way-join plan shape, grouped by
    supplier nation and order year.

    Scale shape: p_type prunes part at the scan (broadcast); nation
    broadcasts; lineitem⋈orders shuffles on orderkey; the profit
    expression folds into one codegen stage before the partial agg."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q9_TYPE)
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        Q9_COST_FRAC
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dsum(profit, "sum_profit"))
    )


@query(
    "q58_tpch_q13",
    oracle=f"""
    SELECT c_count, count(*)::BIGINT AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        AND o.o_orderpriority <> '{Q13_SKIP_PRIORITY}'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    tags=("sql", "tpch"),
)
def q58_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution), adapted: the
    reference's ``o_comment NOT LIKE`` filter (column not shipped)
    becomes an order-priority exclusion — the point is the plan shape:
    a LEFT OUTER join whose extra predicate lives in the ON clause (so
    excluded orders produce c_count=0 customers, NOT dropped rows),
    feeding an aggregate-of-aggregate histogram.

    Scale shape: the outer join shuffles on custkey (bounded fan-in per
    customer); count(o_orderkey) ignores the null-extended rows
    natively; the second aggregate is a tiny distribution (≤ max order
    count) with full map-side combine."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != Q13_SKIP_PRIORITY),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@query(
    "q59_tpch_q15",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             {sql_dsum("l_extendedprice * (1 - l_discount)", "total_revenue")}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{Q15_START}'
        AND l_shipdate < TIMESTAMP '{Q15_END}'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    tags=("sql", "tpch"),
)
def q59_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, then
    the supplier(s) achieving the scalar MAX — the derived-view-joined-
    against-its-own-aggregate shape (the reference formulates it as a
    CREATE VIEW + scalar subquery; same plan).

    Scale shape: the quarter prunes lineitem at the scan; revenue is a
    map-side-combinable grouped sum on l_suppkey; the MAX is a 1-row
    broadcast (crossJoin against a scalar aggregate — bounded by
    construction); equality on the exact-decimal rounded revenue is
    deterministic, so ties surface all winners on both engines (no
    LIMIT 1 nondeterminism)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q15_START) & (F.col("l_shipdate") < Q15_END)
    )
    rev = li.groupBy("l_suppkey").agg(
        dsum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")),
            "total_revenue",
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q60_tpch_q17",
    oracle=f"""
    WITH pa AS (
      SELECT l_partkey,
             {Q17_QTY_FRAC} * (SUM(CAST(l_quantity AS DECIMAL(38,6)))::DOUBLE
                               / count(*)) AS qty_threshold
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {sql_dsum("l.l_extendedprice", "total_small_rev")},
           count(*)::BIGINT AS n_small
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa    ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = '{Q17_BRAND}' AND p.p_size < {Q17_MAX_SIZE}
      AND l.l_quantity < pa.qty_threshold
    """,
    tags=("sql", "tpch"),
)
def q60_tpch_q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue), adapted: the reference
    filters p_brand + p_container (container not shipped → p_size range)
    and keeps lineitems below a fraction of the PART'S OWN average
    quantity — the classic correlated-AVG-subquery decorrelated into an
    aggregate joined back to the fact on the same key.

    Scale shape: the per-part average is a map-side-combinable grouped
    sum/count on l_partkey; the brand/size filter prunes part to a
    broadcast; the fact⋈avg join is key-equi on l_partkey (no windows —
    the correlated subquery never materializes per-row). The threshold
    is exact-decimal-sum / count in double (davg semantics), identical
    on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (
            F.lit(Q17_QTY_FRAC)
            * (
                F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            )
        ).alias("qty_threshold")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == Q17_BRAND) & (F.col("p_size") < Q17_MAX_SIZE)
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(pa, F.col("pa_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            dsum("l_extendedprice", "total_small_rev"),
            F.count(F.lit(1)).cast("bigint").alias("n_small"),
        )
    )


@query(
    "q61_tpch_q22",
    oracle=f"""
    WITH ab AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(38,6)))::DOUBLE / count(*)
               AS avg_bal
      FROM customer WHERE c_acctbal > 0
    )
    SELECT n.n_name AS nation, count(*)::BIGINT AS numcust,
           round(SUM(CAST(c.c_acctbal AS DECIMAL(38,6))), 4)::DOUBLE
             AS totacctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    CROSS JOIN ab
    WHERE c.c_acctbal > ab.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >=
                              TIMESTAMP '{Q22_DORMANT_SINCE}')
    GROUP BY n.n_name
    """,
    tags=("sql", "tpch"),
)
def q61_tpch_q22(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity), adapted: customers with an
    above-average positive balance and no orders since Q22_DORMANT_SINCE
    (the reference's "no orders for 7 years" dormancy window; every
    synthetic customer has SOME order, so a bare NOT EXISTS is empty),
    rolled up by nation (the phone-prefix country code isn't shipped;
    nation plays the same grouping role). Shape: scalar aggregate
    subquery + NOT EXISTS anti-join + grouped roll-up.

    Scale shape: the average is one scalar pass (broadcast 1-row cross
    join); the anti-join is a LEFT ANTI hash join on custkey against
    orders date-pruned at the scan and projected to the single key
    column; the nation roll-up broadcasts. No correlated re-execution
    anywhere."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= Q22_DORMANT_SINCE)
        .select("o_custkey")
    )
    n = load_table(spark, sf_dir, "nation")
    ab = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
    )


@query(
    "q62_tpch_q14",
    oracle=f"""
    SELECT strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS month,
           round(100.0 *
             SUM(CAST(CASE WHEN p.p_type = 'PROMO'
                  THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END
                 AS DECIMAL(38,6)))::DOUBLE
             / SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(38,6)))::DOUBLE, 4) AS promo_share
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '{Q14_YEAR}-01-01'
      AND l.l_shipdate < TIMESTAMP '{Q14_YEAR + 1}-01-01'
    GROUP BY date_trunc('month', l.l_shipdate)
    """,
    tags=("sql", "tpch"),
)
def q62_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promotion effect), extended from the reference's single
    month to a per-month series over one year: percentage of revenue from
    PROMO-type parts — the two-sum-ratio-in-one-pass shape again, this
    time over a date-bucketed fact⋈dim join.

    Scale shape: the year prunes lineitem at the scan; part joins
    broadcast (only p_partkey/p_type needed — column-pruned); both sums
    accumulate as exact decimals per month, ratio in double, so the
    series is order-independent."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= f"{Q14_YEAR}-01-01")
        & (F.col("l_shipdate") < f"{Q14_YEAR + 1}-01-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.date_format(
                F.date_trunc("month", "l_shipdate"), "yyyy-MM"
            ).alias("month")
        )
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", vol)
                    .otherwise(F.lit(0.0))
                    .cast("decimal(38,6)")
                ).cast("double")
                / F.sum(vol.cast("decimal(38,6)")).cast("double"),
                4,
            ).alias("promo_share")
        )
    )


def _q19_arm_sql(brand: str, max_size: int, qty_lo: int, qty_hi: int) -> str:
    return (
        f"(p.p_brand = '{brand}' AND p.p_size BETWEEN 1 AND {max_size}"
        f" AND l.l_quantity BETWEEN {qty_lo} AND {qty_hi})"
    )


@query(
    "q63_tpch_q19",
    oracle=f"""
    SELECT {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           count(*)::BIGINT AS n_rows
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE {" OR ".join(_q19_arm_sql(*arm) for arm in Q19_ARMS)}
    """,
    tags=("sql", "tpch"),
)
def q63_tpch_q19(spark, sf_dir):
    """TPC-H Q19 (discounted revenue), adapted: the disjunctive
    OR-of-ANDs predicate mixing part attributes (brand, size — container
    and shipmode aren't shipped) with lineitem attributes (quantity) —
    the pushdown torture test: each arm constrains BOTH join sides, and
    the optimizer must derive the per-side implied filters
    (p_brand ∈ {arms}, p_size ≤ max, l_quantity within the arm union)
    from the disjunction rather than evaluating it only post-join.

    Scale shape: Catalyst's constraint propagation pushes the derived
    brand/size union filter into the part scan (broadcast after) and the
    quantity union range into the lineitem scan; the residual OR
    evaluates in the join's codegen stage. One scalar result row."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    arms = None
    for brand, max_size, qty_lo, qty_hi in Q19_ARMS:
        arm = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, max_size)
            & F.col("l_quantity").between(qty_lo, qty_hi)
        )
        arms = arm if arms is None else (arms | arm)
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(arms)
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )


Q12_HIGH = ("1-URGENT", "2-HIGH")
Q12_LAG_DAYS = 60
Q21_LAG_DAYS = 60


@query(
    "q68_tpch_q12",
    oracle=f"""
    SELECT l.l_linestatus,
           SUM(CASE WHEN o.o_orderpriority IN
                 ('{Q12_HIGH[0]}', '{Q12_HIGH[1]}') THEN 1 ELSE 0 END)::BIGINT
             AS high_line_count,
           SUM(CASE WHEN o.o_orderpriority NOT IN
                 ('{Q12_HIGH[0]}', '{Q12_HIGH[1]}') THEN 1 ELSE 0 END)::BIGINT
             AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL {Q12_LAG_DAYS} DAY
    GROUP BY l.l_linestatus
    """,
    tags=("sql", "tpch"),
)
def q68_tpch_q12(spark, sf_dir):
    """TPC-H Q12 (shipping-mode priority analysis), adapted: the
    reference groups by l_shipmode with a commit/receipt lateness
    predicate (none of those columns are shipped) — here the group key
    is l_linestatus and lateness is the ship-lag proxy (shipped more
    than Q12_LAG_DAYS after ordering), preserving the plan shape: a
    fact⋈fact join with a NON-EQUI residual feeding a conditional
    (CASE-sum) aggregate.

    Scale shape: the join shuffles on orderkey with the lag term as a
    residual; both CASE-sums partial-aggregate into two counters per
    group — the whole reduce is |groups|×2 cells."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lag = F.expr(f"INTERVAL {Q12_LAG_DAYS} DAYS")
    high = F.col("o_orderpriority").isin(*Q12_HIGH)
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + lag),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
    )


@query(
    "q69_tpch_q21",
    oracle=f"""
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL {Q21_LAG_DAYS} DAY
    )
    SELECT s.s_name, count(*)::BIGINT AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name
    """,
    tags=("sql", "tpch"),
)
def q69_tpch_q21(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting), adapted to the
    ship-lag lateness proxy: late lineitems on multi-supplier orders
    where NO OTHER supplier was also late. The ORACLE keeps the
    reference's double-correlated EXISTS + NOT EXISTS spelling (the
    declared semantics); the Spark plan uses the aggregate rewrite —
    the pair (EXISTS other-supplier, NOT EXISTS other-late-supplier) is
    exactly (distinct suppliers ≥ 2, distinct LATE suppliers = 1) per
    order, so two per-order COUNT(DISTINCT)s joined back replace both
    correlated probes of the full lineitem table.

    Scale shape: ``late`` is a key-equi join with a residual; the two
    per-order distinct counts map-side partial-aggregate on l_orderkey
    (bounded fan-in per order) and join back on the same key — every
    shuffle in the plan shares the l_orderkey partitioning, where the
    semi/anti spelling probed the FULL lineitem a second time. The
    supplier roll-up broadcasts. Hash equality against the correlated
    oracle is the rewrite's proof."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lag = F.expr(f"INTERVAL {Q21_LAG_DAYS} DAYS")
    late = (
        li.join(
            o,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + lag),
        )
        .select("l_orderkey", "l_suppkey")
    )
    ostats = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.countDistinct("l_suppkey").alias("n_supp")
    )
    lstats = late.groupBy(F.col("l_orderkey").alias("lk")).agg(
        F.countDistinct("l_suppkey").alias("n_late")
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        late.join(ostats, F.col("ok") == F.col("l_orderkey"))
        .join(lstats, F.col("lk") == F.col("l_orderkey"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 (returned-item revenue) and Q18 (large-volume orders)
# ---------------------------------------------------------------------------
Q48_START = "1995-07-01"
Q48_END = "1995-10-01"
Q48_TOPK = 20
Q49_MIN_QTY = 150


@query(
    "q48_tpch_q10",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           round(c.c_acctbal, 2) AS c_acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '{Q48_START}'
      AND o.o_orderdate < TIMESTAMP '{Q48_END}'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT {Q48_TOPK}
    """,
    tags=("sql", "tpch"),
)
def q48_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting, adapted to the shipped
    columns): top-20 customers by revenue on returned lineitems in a
    quarter. The canonical fact⋈fact⋈dim⋈dim report plan.

    Scale shape: the date window prunes orders and the returnflag
    literal prunes lineitem AT THE SCAN; the l⋈o join shuffles on
    orderkey, customer/nation broadcast after filtering; the grouped sum
    is decimal-exact (order-independent) and the top-20 is
    TakeOrderedAndProject."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q48_START)
        & (F.col("o_orderdate") < Q48_END)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(Q48_TOPK)
    )


@query(
    "q49_tpch_q18",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity)::BIGINT AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > {Q49_MIN_QTY}
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
           round(o.o_totalprice, 2) AS o_totalprice,
           b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    tags=("sql", "tpch"),
)
def q49_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): orders whose lineitems total
    more than Q49_MIN_QTY units, joined back to order and customer
    detail — the aggregate-derived-table semi-join plan (GROUP BY +
    HAVING feeding a join, not a correlated subquery per row).

    Scale shape: the quantity aggregate is map-side combinable on the
    natural lineitem key (l_orderkey — bounded rows per key), its
    HAVING output is a tiny fraction of orders (AQE broadcast-eligible),
    and both detail joins are key-equi. l_quantity is integral in the
    data, so the BIGINT total is exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("total_qty"))
        .filter(F.col("total_qty") > Q49_MIN_QTY)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
                "o_orderdate"
            ),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 (forecasting revenue change)
# ---------------------------------------------------------------------------
Q50_START = "1996-01-01"
Q50_END = "1997-01-01"


@query(
    "q50_tpch_q6",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice * l_discount", "revenue")},
           count(*)::BIGINT AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{Q50_START}'
      AND l_shipdate < TIMESTAMP '{Q50_END}'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("sql", "tpch"),
)
def q50_tpch_q6(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): pure scan-filter-aggregate
    — the query that measures pushdown + codegen with zero joins. All
    three predicates reach the parquet scan; the sum is decimal-exact.

    Scale shape: no shuffle except the 1-row final aggregate merge;
    at 100 TB this is bounded by scan bandwidth alone."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= Q50_START)
            & (F.col("l_shipdate") < Q50_END)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count("*").alias("n_lines"),
        )
    )
