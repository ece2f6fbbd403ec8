"""Prefix-filtered exact similarity join (AllPairs / PPJoin family).

``dedup_ngram_jaccard`` blocks candidate pairs on *every* shared shingle,
so a stopword-ish shingle shared by m documents contributes m²/2 candidate
rows to the big self-join — the head of the shingle frequency distribution
dominates the shuffle quadratically. Prefix filtering (Chaudhuri et al.
"A Primitive Operator for Similarity Joins", Bayardo et al. "Scaling Up
All Pairs Similarity Search", Xiao et al. PPJoin) indexes each document
on only its *rarest* few shingles, provably without losing any pair:

  Order all shingles by a global total order (here: document frequency
  ascending, ties by shingle string). If |A ∩ B| ≥ α, then the first
  |A| − α + 1 shingles of A and the first |B| − α + 1 shingles of B share
  at least one element (pigeonhole: otherwise all common elements sit in
  the two suffixes, of sizes α − 1 < α each — but every common element
  missing from A's prefix must occupy A's suffix, so |A∩B| ≤ α − 1).
  Jaccard(A,B) ≥ t implies |A∩B| ≥ t·|A∪B| ≥ ceil(t·max(|A|,|B|)) ≥
  ceil(t·|A|), so indexing the first |A| − ceil(t·|A|) + 1 shingles of
  each document is a complete blocking scheme for threshold t.

Two registered queries:

- ``dedup_jaccard_prefix``   the SAME output contract (and literally the
  same DuckDB oracle) as ``dedup_ngram_jaccard`` — word-3-gram Jaccard
  ≥ 0.5 pairs — but candidates come from the prefix index plus the
  length filter (min·2 ≥ max for t = 1/2) plus PPJoin's positional
  filter, and verification is row-local ``array_intersect`` on the two
  per-doc shingle sets (PPJoin's verify step), never a grouped
  pair-count shuffle over all shared shingles.
- ``dedup_prefix_stats``     one oracle-checked row quantifying the
  blocking schemes against each other on the same corpus:
  (cand_prefix, cand_pos, cand_block, true_pairs). cand_pos ≤
  cand_prefix ≤ cand_block always; the gaps are the shuffle/verify work
  the prefix and positional filters delete.

Threshold arithmetic is exact-rational end-to-end (t = T_NUM/T_DEN with
integer ceil ``(n·T_NUM + T_DEN − 1) DIV T_DEN`` and the integer pair
test ``T_DEN·inter ≥ T_NUM·(union)``), so both engines agree bit-for-bit.
The float form ``inter/union ≥ 0.5`` in the shared oracle is equivalent:
for integer inter/union < 2^52 the quotient rounds to exactly 0.5 only
when union = 2·inter (a half-ulp near 0.5 is 2^-54, smaller than the
1/(2·union) gap any other ratio keeps from 0.5).

100 TB: document frequency is one map-side-combined aggregate; the rank
window is partitioned by doc_id (bounded frames); the candidate join's
shuffle key is the *rare-prefix* shingle, cutting the frequency head out
of the quadratic blow-up; verification touches candidate pairs only and
is row-local over per-document (hence bounded) arrays.

Relation to ``dedup_prefix_filter`` (dedup_detectors.py): that op applies
the bare prefix filter to distinct TOKENS at τ = 0.9 against the naive
all-pairs oracle (completeness test). This module applies the full
PPJoin stack — prefix + length + POSITIONAL filters — to the word-3-gram
SHINGLE domain at τ = 1/2, shares the blocked join's oracle (physical-
rewrite equality), oracle-gates the candidate-count contract itself
(dedup_prefix_stats), and carries the boilerplate-skew crossover
measurement (BASELINE.md): same family, the production-tuned member.

Reference basis: the reference has no similarity join at all (its only
dedup is ``dropDuplicates``, examples/get_pdf_links_from_cc.py:126);
this is a public-literature scale pattern.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from doc2dataset_spark.queries.core import query
from doc2dataset_spark.queries.dedup import (
    _DSHINGLES,
    _NGRAM_ORACLE,
    _doc_shingles,
)

T_NUM, T_DEN = 1, 2  # Jaccard threshold 1/2 as an exact rational

# integer ceil(t·n) — exact for any bigint n
_CEIL_TN = f"(n * {T_NUM} + {T_DEN} - 1) DIV {T_DEN}"


def _prefix_frame(spark, sf_dir):
    """(sd, pref): the exploded distinct-shingle frame and its prefix
    subset (doc_id, sh, n, r) under the df-ascending global shingle
    order; r is the shingle's 1-based rank within the document's FULL
    sorted shingle list (needed by the positional filter)."""
    sd = _doc_shingles(spark, sf_dir)
    cnt = sd.groupBy("doc_id").agg(F.count("*").alias("n"))
    dfreq = sd.groupBy("sh").agg(F.count("*").alias("df"))
    rk = F.row_number().over(W.partitionBy("doc_id").orderBy("df", "sh"))
    ranked = sd.join(dfreq, "sh").select("doc_id", "sh", rk.alias("r"))
    pref = (
        ranked.join(cnt, "doc_id")
        .filter(F.col("r") <= F.col("n") - F.expr(_CEIL_TN) + 1)
        .select("doc_id", "sh", "n", "r")
    )
    return sd, pref


def _prefix_candidates(pref):
    """distinct (da, db, na, nb, ia, ib) pairs sharing a prefix shingle
    and passing the length filter min·T_DEN ≥ max·T_NUM. (ia, ib) are
    the ranks of the pair's FIRST shared prefix shingle in each doc's
    full sorted list — because the shingle order is a single global
    total order, the minimal-rank shared shingle is the same shingle on
    both sides, so the two mins are taken from the same row."""
    a = pref.select(
        F.col("doc_id").alias("da"),
        "sh",
        F.col("n").alias("na"),
        F.col("r").alias("ra"),
    )
    b = pref.select(
        F.col("doc_id").alias("db"),
        "sh",
        F.col("n").alias("nb"),
        F.col("r").alias("rb"),
    )
    return (
        a.join(b, "sh")
        .filter(
            (F.col("da") < F.col("db"))
            & (
                F.least("na", "nb") * T_DEN
                >= F.greatest("na", "nb") * T_NUM
            )
        )
        .groupBy("da", "db", "na", "nb")
        .agg(F.min("ra").alias("ia"), F.min("rb").alias("ib"))
    )


# PPJoin positional filter: every shingle before the first shared one
# (rank < ia in A, < ib in B) is by definition NOT common, so
# |A ∩ B| ≤ 1 + min(na − ia, nb − ib).  Jaccard ≥ t needs
# |A ∩ B| ≥ t/(1+t)·(na+nb), i.e. (T_NUM+T_DEN)·|A∩B| ≥ T_NUM·(na+nb);
# candidates whose upper bound already fails are pruned before the
# array-verify stage touches them.
def _pos_ok():
    # built lazily: F.lit needs an active SparkContext
    return (
        F.lit(1)
        + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("ib"))
    ) * (T_NUM + T_DEN) >= (F.col("na") + F.col("nb")) * T_NUM


@query("dedup_jaccard_prefix", oracle=_NGRAM_ORACLE, tags=("dedup", "documents"))
def dedup_jaccard_prefix(spark, sf_dir):
    """word-3-gram Jaccard ≥ 1/2 pairs via prefix filtering — output
    (and oracle) identical to dedup_ngram_jaccard; only the physical
    blocking differs. Verification is PPJoin-style: positional-filter
    the candidates, then join the survivors to the two per-doc shingle
    arrays and take size(array_intersect) row-locally."""
    sd, pref = _prefix_frame(spark, sf_dir)
    cand = _prefix_candidates(pref).filter(_pos_ok())
    sets_ = sd.groupBy("doc_id").agg(F.collect_set("sh").alias("shs"))
    pairs = cand.join(
        sets_.select(F.col("doc_id").alias("da"), F.col("shs").alias("sa")),
        "da",
    ).join(
        sets_.select(F.col("doc_id").alias("db"), F.col("shs").alias("sb")),
        "db",
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.col("na") + F.col("nb") - inter
    jac = inter.cast("double") / union
    return (
        pairs.withColumn("inter", inter)
        .filter(
            F.col("inter") * T_DEN
            >= (F.col("na") + F.col("nb") - F.col("inter")) * T_NUM
        )
        .select("da", "db", F.round(jac, 4).alias("jaccard"))
    )


_STATS_ORACLE = f"""
WITH sd AS (
  SELECT doc_id, unnest({_DSHINGLES}) AS sh
  FROM documents
), cnt AS (
  SELECT doc_id, count(*) AS n FROM sd GROUP BY doc_id
), dfreq AS (
  SELECT sh, count(*) AS df FROM sd GROUP BY sh
), ranked AS (
  SELECT sd.doc_id, sd.sh, cnt.n,
         row_number() OVER (
           PARTITION BY sd.doc_id ORDER BY dfreq.df, sd.sh) AS r
  FROM sd JOIN dfreq USING (sh) JOIN cnt USING (doc_id)
), pref AS (
  SELECT doc_id, sh, n, r FROM ranked
  WHERE r <= n - (n * {T_NUM} + {T_DEN} - 1) // {T_DEN} + 1
), cand_pref AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         any_value(a.n) AS na, any_value(b.n) AS nb,
         min(a.r) AS ia, min(b.r) AS ib
  FROM pref a JOIN pref b USING (sh)
  WHERE a.doc_id < b.doc_id
    AND least(a.n, b.n) * {T_DEN} >= greatest(a.n, b.n) * {T_NUM}
  GROUP BY 1, 2
), cand_pos AS (
  SELECT da, db FROM cand_pref
  WHERE (1 + least(na - ia, nb - ib)) * {T_NUM + T_DEN}
        >= (na + nb) * {T_NUM}
), cand_block AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM sd a JOIN sd b ON a.sh = b.sh AND a.doc_id < b.doc_id
), shared AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS sh_n
  FROM sd a JOIN sd b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), truep AS (
  SELECT da FROM shared
  JOIN cnt ca ON ca.doc_id = da
  JOIN cnt cb ON cb.doc_id = db
  WHERE sh_n * {T_DEN} >= (ca.n + cb.n - sh_n) * {T_NUM}
)
SELECT (SELECT count(*) FROM cand_pref)  AS cand_prefix,
       (SELECT count(*) FROM cand_pos)   AS cand_pos,
       (SELECT count(*) FROM cand_block) AS cand_block,
       (SELECT count(*) FROM truep)      AS true_pairs
"""


@query("dedup_prefix_stats", oracle=_STATS_ORACLE, tags=("dedup", "documents"))
def dedup_prefix_stats(spark, sf_dir):
    """one row: candidate-pair count under prefix filtering (before and
    after the positional filter) vs under shared-shingle blocking, plus
    the true ≥-threshold pair count — the blocking-scheme efficiency
    contract, oracle-checked. The scalar aggregates are combined with
    the blessed 1-row broadcast cross-join pattern."""
    sd, pref = _prefix_frame(spark, sf_dir)
    cp = _prefix_candidates(pref)
    cand_prefix = cp.agg(
        F.count("*").alias("cand_prefix"),
        F.count_if(_pos_ok()).alias("cand_pos"),
    )
    a = sd.select(F.col("doc_id").alias("da"), "sh")
    b = sd.select(F.col("doc_id").alias("db"), "sh")
    cand_block = (
        a.join(b, "sh")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
        .agg(F.count("*").alias("cand_block"))
    )
    true_pairs = (
        dedup_jaccard_prefix(spark, sf_dir)
        .agg(F.count("*").alias("true_pairs"))
    )
    return cand_prefix.crossJoin(F.broadcast(cand_block)).crossJoin(
        F.broadcast(true_pairs)
    )
