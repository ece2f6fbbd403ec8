"""Deduplication operators on the documents/embeddings tables — the core
north-star data ops for a 100 TB training-data pipeline.

Five strategies, each a registered query with an exact DuckDB oracle:

- ``dedup_exact``            sha256 grouping → canonical keep-id per doc
- ``dedup_ngram_jaccard``    exact word-3-gram Jaccard pairs (shared-shingle
                             candidate blocking, never all-pairs)
- ``dedup_minhash_lsh``      native MinHash signatures + banded LSH buckets
                             → candidates → exact-Jaccard verification
- ``dedup_simhash``          32-bit SimHash fingerprint per document
- ``dedup_simhash_pairs``    near-dup pairs via 4×8-bit band blocking +
                             hamming ≤ 3 verification
- ``dedup_embedding_cosine`` near-dup pairs by embedding cosine ≥ 0.4

Scale design: every pairwise step is *blocked* (shared shingle / LSH band /
simhash band / — never a full cross join), so the shuffle keys are
shingles/buckets and candidate verification touches only the collision set.
That is the plan shape that survives 100 TB; the reference has no dedup at
all beyond one ``dropDuplicates`` (`examples/get_pdf_links_from_cc.py:126`).

Determinism: both engines share the hash — integer value of the first 12
(or 8) hex chars of md5 — so MinHash signatures, bands, SimHash bits and all
Jaccard ratios are bit-identical between Spark and the DuckDB oracle.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from doc2dataset_spark.queries.core import query
from doc2dataset_spark.session import compute_parallelism, load_table

# ---------------------------------------------------------------------------
# shared token / shingle / hash definitions (Spark SQL + DuckDB SQL twins)
# ---------------------------------------------------------------------------
P = 2_147_483_647  # 2^31 - 1 (Mersenne prime): (a*x+b) stays within int64

_rng = random.Random(42)
N_PERM = 16
PERMS = [(_rng.randrange(1, P), _rng.randrange(0, P)) for _ in range(N_PERM)]
N_BANDS, ROWS_PER_BAND = 4, 4
JACCARD_THRESHOLD = 0.8

# THE token definition, shared by every query and both engines:
# lowercase, whitespace-split, empty tokens dropped. Spark side is a SQL
# string so it can sit inside lambdas; the DuckDB side is its twin.
_TOKS = "filter(split(lower(text), '\\\\s+'), t -> t <> '')"
_DTOKS = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"

# word 3-gram shingles, distinct — built from a pre-materialized `toks`
# column: referencing the tokenizer expression inside the transform lambda
# would re-split the text once per element (O(len²) per doc)
_SHINGLES_FROM_TOKS = """
CASE WHEN size(toks) >= 3 THEN
  array_distinct(transform(sequence(1, size(toks) - 2),
    i -> concat(element_at(toks, i), ' ',
                element_at(toks, i + 1), ' ',
                element_at(toks, i + 2))))
ELSE cast(array() AS array<string>) END
"""
_DSHINGLES = f"""
list_distinct(list_transform(range(1, len({_DTOKS}) - 1),
  i -> {_DTOKS}[i] || ' ' || {_DTOKS}[i+1] || ' ' || {_DTOKS}[i+2]))
"""

# 48-bit integer hash of a string, identical in both engines
_H48_SPARK = "cast(conv(substring(md5({s}), 1, 12), 16, 10) AS bigint)"
_H48_DUCK = "('0x' || substr(md5({s}), 1, 12))::BIGINT"
# 32-bit variant for SimHash
_H32_SPARK = "cast(conv(substring(md5({s}), 1, 8), 16, 10) AS bigint)"
_H32_DUCK = "('0x' || substr(md5({s}), 1, 8))::BIGINT"


def shingles_of(docs):
    """(doc_id, sh) exploded distinct shingles of a (doc_id, text) frame —
    the blocking key. Frame-parameterized so batch queries and streaming
    micro-batches share one implementation."""
    toks = docs.select("doc_id", F.expr(_TOKS).alias("toks"))
    return toks.select(
        "doc_id", F.explode(F.expr(_SHINGLES_FROM_TOKS)).alias("sh")
    )


def _doc_shingles(spark, sf_dir):
    """(doc_id, sh) for the documents table."""
    # a small single-file table arrives as ONE input partition; spread the
    # CPU-heavy tokenize/shingle work across cores (at 100 TB the scan
    # already yields many partitions and AQE coalesces — this only matters
    # for small inputs)
    d = load_table(spark, sf_dir, "documents").repartition(
        compute_parallelism(spark), "doc_id"
    )
    return shingles_of(d)


# ---------------------------------------------------------------------------
# exact dedup: sha256 grouping with canonical keep-id
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY sha256(text)) AS keep_id,
           (doc_id <> min(doc_id) OVER (PARTITION BY sha256(text))) AS is_dup
    FROM documents
    """,
    tags=("dedup", "documents"),
)
def dedup_exact(spark, sf_dir):
    """exact dedup: every doc mapped to the minimal doc_id of its
    sha256(text) group (hash-groupBy; at scale the shuffle key is the
    256-bit digest, perfectly uniform)."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy(F.sha2(F.col("text"), 256))
    keep = F.min("doc_id").over(w)
    return d.select(
        "doc_id",
        keep.alias("keep_id"),
        (F.col("doc_id") != keep).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (shared-shingle blocking)
# ---------------------------------------------------------------------------
_NGRAM_ORACLE = f"""
WITH sd AS (
  SELECT doc_id, unnest({_DSHINGLES}) AS sh
  FROM documents
), cnt AS (
  SELECT doc_id, count(*) AS n FROM sd GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS sh_n
  FROM sd a JOIN sd b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT da, db,
       round(sh_n::DOUBLE / (ca.n + cb.n - sh_n), 4) AS jaccard
FROM shared
JOIN cnt ca ON ca.doc_id = da
JOIN cnt cb ON cb.doc_id = db
WHERE sh_n::DOUBLE / (ca.n + cb.n - sh_n) >= 0.5
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE, tags=("dedup", "documents"))
def dedup_ngram_jaccard(spark, sf_dir):
    """exact word-3-gram Jaccard ≥ 0.5 pairs. Candidates are generated by
    joining on the shingle itself (docs sharing ≥1 shingle) — a blocked
    equi-join, not a cross join — then scored exactly.

    Per-doc shingle counts are a separate tiny aggregate joined to the
    PAIR table (post-aggregation, so the join inputs are candidate-pair
    sized, not shingle sized). The round-2 window-carried-count variant
    (count over partitionBy(doc_id) riding through the self-join) measured
    ~15% slower at sf0.1: the window forces a per-doc sort of the full
    exploded shingle frame and widens both shuffle sides of the big
    sh-join — that was the r1→r2 bench drift."""
    sd = _doc_shingles(spark, sf_dir)
    cnt = sd.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sd.alias("a")
    b = sd.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
        )
        .agg(F.count("*").alias("sh_n"))
        .join(cnt.select(F.col("doc_id").alias("da"), F.col("n").alias("na")), "da")
        .join(cnt.select(F.col("doc_id").alias("db"), F.col("n").alias("nb")), "db")
    )
    jac = F.col("sh_n").cast("double") / (
        F.col("na") + F.col("nb") - F.col("sh_n")
    )
    return shared.filter(jac >= 0.5).select(
        "da", "db", F.round(jac, 4).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH (native implementation, no pyspark.ml dependency:
# signatures are plain integer aggregates → bit-identical to the oracle)
# ---------------------------------------------------------------------------
def minhash_perms(k: int) -> list[tuple[int, int]]:
    """First ``k`` (a, b) permutation coefficients of the seed-42 stream
    — a PREFIX property: minhash_perms(16) == PERMS element-for-element
    (same generator, same consumption order), so a banding widened by
    autoparams extends the shipped signature instead of replacing it."""
    rng = random.Random(42)
    return [(rng.randrange(1, P), rng.randrange(0, P)) for _ in range(k)]


def minhash_sig_of(sd, perms: list[tuple[int, int]] | None = None):
    """(doc_id, m0..m{k-1}): minhash signature of a (doc_id, sh) shingle
    frame via one groupBy with k min-aggs — a single shuffle keyed by
    doc_id, map-side combined. Default perms are the oracle-pinned 16
    (4 bands × 4 rows)."""
    x = (F.expr(_H48_SPARK.format(s="sh")) % P).alias("x")
    hashed = sd.select("doc_id", x)
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % P).alias(f"m{j}")
        for j, (a, b) in enumerate(PERMS if perms is None else perms)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def bands_of(docs, bands: int = N_BANDS, rows: int = ROWS_PER_BAND):
    """(doc_id, band, bh) LSH band hashes of a (doc_id, text) frame — one
    posexplode pass over the bands×rows signature. Defaults (4 × 4) are
    the oracle-pinned shipped banding and produce byte-identical
    expressions to the original fixed form; non-default (bands, rows) —
    e.g. autoparams.minhash_bands_rows(n) — swaps in a longer prefix of
    the same seeded permutation stream."""
    sig = minhash_sig_of(shingles_of(docs), perms=minhash_perms(bands * rows))
    # the generic template reduces to _band_cols() exactly at the default
    # (4, 4) — same md5/concat_ws expression text, same perm values
    exprs = [
        f"md5(concat_ws(',', {', '.join(f'm{b * rows + r}' for r in range(rows))}))"
        for b in range(bands)
    ]
    return sig.select(
        "doc_id",
        F.posexplode(F.array(*[F.expr(e) for e in exprs])).alias(
            "band", "bh"
        ),
    )


def _minhash_sig(spark, sf_dir):
    """signature of the documents table."""
    return minhash_sig_of(_doc_shingles(spark, sf_dir))


def _band_cols(prefix: str = "m") -> list[str]:
    return [
        f"md5(concat_ws(',', {', '.join(f'{prefix}{b * ROWS_PER_BAND + r}' for r in range(ROWS_PER_BAND))}))"
        for b in range(N_BANDS)
    ]


_MINHASH_SIG_SQL = ",\n       ".join(
    f"min(({a} * x + {b}) % {P}) AS m{j}" for j, (a, b) in enumerate(PERMS)
)
_MINHASH_BANDS_SQL = "\n  UNION ALL\n".join(
    f"""  SELECT doc_id, {b} AS band,
         md5({" || ',' || ".join(f"m{b * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND))}) AS bh
  FROM sig"""
    for b in range(N_BANDS)
)

_MINHASH_ORACLE = f"""
WITH sd AS (
  SELECT doc_id, unnest({_DSHINGLES}) AS sh
  FROM documents
), hx AS (
  SELECT doc_id, {_H48_DUCK.format(s="sh")} % {P} AS x FROM sd
), sig AS (
  SELECT doc_id, {_MINHASH_SIG_SQL} FROM hx GROUP BY doc_id
), bands AS (
{_MINHASH_BANDS_SQL}
), cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), cnt AS (
  SELECT doc_id, count(*) AS n FROM sd GROUP BY doc_id
), shared AS (
  SELECT c.da, c.db, count(*) AS sh_n
  FROM cand c
  JOIN sd p ON p.doc_id = c.da
  JOIN sd q ON q.doc_id = c.db AND q.sh = p.sh
  GROUP BY c.da, c.db
)
SELECT da, db,
       round(sh_n::DOUBLE / (ca.n + cb.n - sh_n), 4) AS jaccard
FROM shared
JOIN cnt ca ON ca.doc_id = da
JOIN cnt cb ON cb.doc_id = db
WHERE sh_n::DOUBLE / (ca.n + cb.n - sh_n) >= {JACCARD_THRESHOLD}
"""


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE, tags=("dedup", "documents"))
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash (16 perms) + LSH (4 bands × 4 rows, s-curve threshold ≈ 0.7)
    → candidate pairs → exact-Jaccard verification ≥ 0.8.

    Scale path: the only joins are (band, band_hash) equi-joins and the
    shingle join restricted to LSH candidates — both shuffle-bounded by
    collision sets. The signature build is one shuffle (groupBy doc_id
    with 16 map-side-combinable min aggregates)."""
    sig = _minhash_sig(spark, sf_dir)
    # one posexplode pass, NOT a 4-way union of selects: a union would make
    # Spark recompute the whole signature subtree once per band (and the
    # identical-plan sides of the candidate self-join then reuse one
    # shuffle exchange instead of eight)
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*[F.expr(e) for e in _band_cols()])).alias(
            "band", "bh"
        ),
    )
    ba = bands.alias("ba")
    bb = bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.bh") == F.col("bb.bh"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("da"), F.col("bb.doc_id").alias("db")
        )
        .distinct()
        # the candidate set is tiny and consumed twice (broadcast prefilter
        # + the verify join); caching stops the signature/band pipeline
        # from re-executing per consumer (identical plans share the entry)
        .cache()
    )
    return minhash_verify(spark, sf_dir, cand)


def minhash_verify(spark, sf_dir, cand):
    """Exact-Jaccard verification of an LSH candidate-pair frame
    (da, db): the verify stage of dedup_minhash_lsh, shared with the
    persisted-band-index serve path (dedup_detectors
    dedup_minhash_indexed) so both produce hash-identical output.

    Verifies only candidate docs: at scale candidates << corpus, so the
    shingle frame is semi-joined down to the collision set before the
    pairwise join (broadcast — the candidate list is small by design)."""
    from pyspark.sql import Window as W

    cand_docs = cand.select(
        F.explode(F.array("da", "db")).alias("doc_id")
    ).distinct()
    sd = _doc_shingles(spark, sf_dir).join(
        F.broadcast(cand_docs), "doc_id", "left_semi"
    )
    # per-doc shingle count rides along via a window: no extra cnt joins
    sd = sd.withColumn("n", F.count("*").over(W.partitionBy("doc_id")))
    p = sd.alias("p")
    q = sd.alias("q")
    shared = (
        cand.join(p, F.col("da") == F.col("p.doc_id"))
        .join(
            q,
            (F.col("db") == F.col("q.doc_id"))
            & (F.col("q.sh") == F.col("p.sh")),
        )
        .groupBy(
            "da", "db", F.col("p.n").alias("na"), F.col("q.n").alias("nb")
        )
        .agg(F.count("*").alias("sh_n"))
    )
    jac = F.col("sh_n").cast("double") / (
        F.col("na") + F.col("nb") - F.col("sh_n")
    )
    return shared.filter(jac >= JACCARD_THRESHOLD).select(
        "da", "db", F.round(jac, 4).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (32-bit, term-frequency weighted)
# ---------------------------------------------------------------------------
_SIMHASH_CTE = f"""
WITH tok AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest({_DTOKS}) AS tok FROM documents)
  GROUP BY doc_id, tok
), h AS (
  SELECT doc_id, c, {_H32_DUCK.format(s="tok")} AS h32 FROM tok
), bits AS (
  SELECT doc_id, b,
         SUM(c * (((h32 >> b) & 1) * 2 - 1)) AS v
  FROM h, (SELECT unnest(range(32)) AS b)
  GROUP BY doc_id, b
), fp AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
           AS simhash
  FROM bits GROUP BY doc_id
)
"""

_SIMHASH_ORACLE = _SIMHASH_CTE + "SELECT doc_id, simhash FROM fp"


@query("dedup_simhash", oracle=_SIMHASH_ORACLE, tags=("dedup", "documents"))
def dedup_simhash(spark, sf_dir):
    """32-bit term-frequency-weighted SimHash fingerprint per document.
    Linear in corpus size: token explode → per-doc bit sums →
    fingerprint assembly; all integer arithmetic, no UDFs.

    The 32 per-bit sums are 32 map-side-combinable aggregate
    expressions in ONE groupBy(doc_id) (round 16; guide §2.3
    "aggregate before you shuffle"): the previous shape exploded every
    (doc, token) row ×32 through a (doc, bit) hash aggregate — 32× the
    row volume through Generate + partial agg — then re-aggregated by
    doc. Exact equivalence: v(doc,b) = Σ c·((bit<<1)−1) = 2·T_b − S
    with T_b = Σ c·bit and S = Σ c, all integer sums, so the bit test
    v > 0 ⟺ 2·T_b > S is the identical fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.expr(_TOKS)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    h = tok.select(
        "doc_id", "c", F.expr(_H32_SPARK.format(s="tok")).alias("h32")
    )
    aggs = [
        F.sum(F.expr(f"c * ((h32 >> {b}) & 1)")).alias(f"t{b}")
        for b in range(32)
    ]
    aggs.append(F.sum("c").alias("s"))
    sums = h.groupBy("doc_id").agg(*aggs)
    fp_expr = " + ".join(
        f"(CASE WHEN 2 * t{b} > s THEN shiftleft(1L, {b}) ELSE 0L END)"
        for b in range(32)
    )
    return sums.select(
        "doc_id", F.expr(fp_expr).cast("long").alias("simhash")
    )


# near-dup pairs: band the 32-bit fingerprint into 4×8-bit blocks; any
# shared block is a candidate (pigeonhole: hamming ≤ 3 ⇒ ≥1 equal block);
# verify with bit_count(xor) ≤ 3.
_SIMHASH_PAIRS_ORACLE = _SIMHASH_CTE + """
, bands AS (
  SELECT doc_id, simhash, k, (simhash >> (k * 8)) & 255 AS bandval
  FROM fp, (SELECT unnest(range(4)) AS k)
), cand AS (
  SELECT DISTINCT a.doc_id AS da, a.simhash AS ha,
                  b.doc_id AS db, b.simhash AS hb
  FROM bands a JOIN bands b
    ON a.k = b.k AND a.bandval = b.bandval AND a.doc_id < b.doc_id
)
SELECT da, db, bit_count(xor(ha, hb)) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
"""


@query(
    "dedup_simhash_pairs",
    oracle=_SIMHASH_PAIRS_ORACLE,
    tags=("dedup", "documents"),
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: 4×8-bit band blocking (exact for hamming ≤ 3
    by pigeonhole) + bit_count verification. The band join is the scale
    path — candidates only, never all pairs.

    Round-16 shape (same result set, pinned by the unchanged oracle):
    the fingerprint frame is localCheckpointed — the plan previously
    rebuilt the whole tokenize→hash→fingerprint pipeline on BOTH band
    join sides (the broadcast side cannot share the other side's
    exchanges), and every downstream consumer (the cluster/graph
    family) re-derived it again; and the hamming filter runs BEFORE the
    dedup, so the distinct shuffles (da, db, hamming) survivor rows
    instead of 4-banded (da, ha, db, hb) candidates. Equivalence:
    hamming is a row-local function of a candidate pair, so
    distinct∘filter∘project ≡ project∘filter∘distinct, and (da, db)
    determines (ha, hb).

    Building the plan runs the fingerprint job, because the
    ``localCheckpoint`` is eager; that is why EXPLAIN and
    scripts/plan_report.py pay for it."""
    fp = dedup_simhash(spark, sf_dir).localCheckpoint(eager=True)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"),
    ).withColumn("bandval", F.expr("(simhash >> (k * 8)) & 255"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = a.join(
        b,
        (F.col("a.k") == F.col("b.k"))
        & (F.col("a.bandval") == F.col("b.bandval"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("da"),
        F.col("b.doc_id").alias("db"),
        F.bit_count(F.expr("a.simhash ^ b.simhash")).alias("hamming"),
    )
    return cand.filter(F.col("hamming") <= 3).distinct()


# ---------------------------------------------------------------------------
# embedding cosine near-dup pairs
# ---------------------------------------------------------------------------
def spark_dot(x, y):
    """Sequential-fold dot product of two array<double> columns —
    bit-identical to DuckDB's list_dot_product (verified on all 14k test
    pairs at sf0.001)."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def normalized_embeddings(spark, sf_dir, n_partitions: int | None = None):
    """(vec_id, ne): unit-normalized double embeddings, pre-partitioned so
    downstream nested-loop pair joins parallelize (a single small parquet
    file would otherwise put the whole pairwise stage on one core)."""
    e = load_table(spark, sf_dir, "embeddings").repartition(
        n_partitions or compute_parallelism(spark)
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(spark_dot(v, v))
    return e.select(
        "vec_id", F.transform(v, lambda x: x / nrm).alias("ne")
    )


# DuckDB twin of normalized_embeddings
NORM_EMB_DUCK = """
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))) AS ne
  FROM embeddings
"""


N_EMB_BLOCKS = 16  # pair-space tiling factor; ~sqrt(target parallelism)
# the exact near-dup threshold (ONE definition: the query, its oracle,
# and the detector-evaluation row in dedup_detectors all read this name,
# so the ground truth and its judges cannot silently diverge)
EMB_COS_THRESHOLD = 0.4


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH n AS ({NORM_EMB_DUCK})
    SELECT a.vec_id AS va, b.vec_id AS vb,
           list_dot_product(a.ne, b.ne) AS cos
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.ne, b.ne) >= {EMB_COS_THRESHOLD}
    """,
    tags=("dedup", "embeddings"),
)
def dedup_embedding_cosine(spark, sf_dir):
    """embedding near-dup pairs with cosine ≥ 0.4, exact, as a
    **tile-partitioned pair join**: vectors are hashed into B blocks, the
    upper-triangular B×(B+1)/2 block-pair list becomes the (tiny,
    broadcast) tile table, and each tile key is one shuffle partition's
    worth of work in an ordinary equi-join on (ba, bb).

    Why this shape: exact threshold-0.4 semantics is intrinsically O(n²)
    (measured here: no LSH/IVF blocking attains 100% recall below ~1× the
    pair space — the qualifying pairs are a distribution tail, not tight
    clusters), so the scalable form is not a smaller candidate set but a
    *distributable* one. A naive `a.vec_id < b.vec_id` join is a
    BroadcastNestedLoopJoin — it ships one ENTIRE side to every executor
    and dies at scale. The tile decomposition shuffles each row to ~B/2
    tiles, so per-task memory is two n/B-sized blocks (pick B ≈ √cores so
    tiles saturate the cluster) and no executor ever holds a full side.
    Same results, bit-identical doubles, plan-asserted no-nested-loop.

    The per-tile pair scan runs as one vectorized NumPy kernel per tile
    (functions/vecmath.cosine_pairs_blocked, cogrouped applyInPandas):
    same tile contract, but the O(n²) pair stream never exists in the
    JVM and never crosses the Python boundary — only the block vectors
    (once per tile) go in and only threshold survivors come out. The
    fold order inside the kernel is bit-identical to spark_dot, so the
    kept set and every cos double are unchanged (measured ~35% faster
    than the prior SHUFFLE_HASH join + interpreted-HOF fold at sf0.1;
    see OPTIMIZATION_r15.md).
    For sub-quadratic *approximate* semantics see dedup_embedding_cell.
    """
    from doc2dataset_spark.functions.vecmath import cosine_pairs_blocked

    n = normalized_embeddings(spark, sf_dir)
    return cosine_pairs_blocked(n, EMB_COS_THRESHOLD, N_EMB_BLOCKS)


# cell-blocked (SemDeDup-style) embedding dedup: the sub-quadratic path
CELL_THRESHOLD = 0.3


CELLS_FIXTURE = 16  # oracle-pinned (_IVF_ASSIGN_DUCK bakes the same 16)


def cell_assignments(spark, sf_dir, cells: int = CELLS_FIXTURE):
    """(vec_id, ne, cent_id): every vector coarse-quantized to its nearest
    of ``cells`` seed centroids (the first ``cells`` vec_ids, normalized).
    Shared by dedup_embedding_cell and the curate_corpus semantic-dedup
    stage so the cell rule has exactly one definition (DuckDB twin:
    _IVF_ASSIGN_DUCK).

    The default stays the fixture-pinned 16 because the oracle SQL bakes
    the same constant; a deployment at another corpus size passes
    ``cells=operators.autoparams.ivf_cells(n)`` (the √n rule — scaling
    behavior pytest-locked at two shipped SFs in tests/test_autoparams.py).

    Scale shape: the centroid table is a ``cells``-row broadcast; the
    argmax is a hash aggregate over a max(struct) — no window sort — so
    assignment is one map-side-combinable pass over the vectors."""
    n = normalized_embeddings(spark, sf_dir)
    scored_cells = n.crossJoin(
        F.broadcast(
            n.filter(F.col("vec_id") < cells).select(
                F.col("vec_id").alias("cent_id"), F.col("ne").alias("ce")
            )
        )
    ).select(
        "vec_id", "ne", "cent_id", spark_dot(F.col("ne"), F.col("ce")).alias("sim")
    )
    return (
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
        .select(
            "vec_id",
            F.col("best.ne").alias("ne"),
            F.col("best.cent_id").alias("cent_id"),
        )
    )

_IVF_ASSIGN_DUCK = f"""
    n AS ({NORM_EMB_DUCK}),
    cents AS (SELECT vec_id AS cent_id, ne AS ce FROM n
              WHERE vec_id < 16),
    assign AS (
      SELECT vec_id, ne, cent_id FROM (
        SELECT v.vec_id, v.ne, c.cent_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_dot_product(v.ne, c.ce) DESC, c.cent_id
               ) AS rn
        FROM n v CROSS JOIN cents c
      ) WHERE rn = 1
    )
"""


@query(
    "dedup_embedding_cell",
    oracle=f"""
    WITH {_IVF_ASSIGN_DUCK}
    SELECT a.vec_id AS va, b.vec_id AS vb, a.cent_id AS cell,
           list_dot_product(a.ne, b.ne) AS cos
    FROM assign a JOIN assign b
      ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.ne, b.ne) >= {CELL_THRESHOLD}
    """,
    tags=("dedup", "embeddings", "scale"),
)
def dedup_embedding_cell(spark, sf_dir):
    """cell-blocked embedding near-dup (the SemDeDup recipe, Abbas et al.
    2023): coarse-quantize every vector to its nearest of 16 seed
    centroids, then exact cosine ≥ CELL_THRESHOLD only WITHIN a cell.
    Pair space drops O(n²) → O(n²/K); cross-cell pairs are declared out of
    semantics (not silently dropped), which is exactly how published
    100 TB embedding-dedup pipelines bound the join. The cell id is the
    shuffle key — a grouped scan, never a nested loop — and the centroid
    table is a 16-row broadcast. The oracle mirrors the same quantization,
    so the gate is hash-exact, not approximate.

    The within-cell pair scan runs as one vectorized NumPy kernel per
    cell (functions/vecmath.cell_pairs_blocked, applyInPandas) — the
    same swap as dedup_embedding_cosine's tile kernel: cell vectors
    cross the Python boundary once, the within-cell pair stream never
    exists in the JVM, only threshold survivors come back, fold order
    bit-identical to spark_dot (OPTIMIZATION_r15.md)."""
    from doc2dataset_spark.functions.vecmath import cell_pairs_blocked

    assign = cell_assignments(spark, sf_dir)
    return cell_pairs_blocked(assign, CELL_THRESHOLD)


# ---------------------------------------------------------------------------
# connected components: near-dup pairs → canonical clusters
# ---------------------------------------------------------------------------
# CTE chain up to the per-node cluster label — shared with the canonical-
# selection query in corpus_extras so the cluster rule has one definition
_CC_CTE_CHAIN = _SIMHASH_CTE.replace("WITH tok", "WITH RECURSIVE tok", 1) + """
, bands AS (
  SELECT doc_id, simhash, k, (simhash >> (k * 8)) & 255 AS bandval
  FROM fp, (SELECT unnest(range(4)) AS k)
), pairs AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b
    ON a.k = b.k AND a.bandval = b.bandval AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
), edges AS (
  SELECT da AS src, db AS dst FROM pairs
  UNION ALL SELECT db, da FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), walk(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
), cc AS (
  SELECT node AS doc_id, min(label) AS cluster_id
  FROM walk GROUP BY node
)
"""

_CC_ORACLE = _CC_CTE_CHAIN + "SELECT doc_id, cluster_id FROM cc"


@query("dedup_cluster_cc", oracle=_CC_ORACLE, tags=("dedup", "documents", "graph"))
def dedup_cluster_cc(spark, sf_dir):
    """connected components over SimHash near-dup pairs: every doc in a
    dup cluster labeled with the cluster's minimal doc_id — the step that
    turns pairwise dedup output into keep/drop decisions.

    Two paths (see cc_labels_from_pairs): an edge set of at most
    ``CC_DRIVER_EDGES`` pairs is pulled once and finished with a
    union-find on the driver; a larger one runs large-star/small-star
    rounds to a min-rooted star forest. At small scale the job count,
    not the row count, bounds this query: 725 pairs at sf0.01 and
    83,078 at sf0.1 both take the driver path, 10 Spark jobs per pass
    including the SimHash pairs. The fixpoint (min id per component) is independent of
    the schedule, so DuckDB's recursive-CTE transitive closure remains
    the exact oracle."""
    pairs = dedup_simhash_pairs(spark, sf_dir).select("da", "db")
    return cc_labels_from_pairs(pairs)


# Largest edge set that connected components finish on the driver. The
# union-find over 2^20 random edges takes 1.5 s and 320 MB peak RSS on a
# 4 vCPU host; a driver-side label propagation would need O(diameter)
# rounds instead.
CC_DRIVER_EDGES = 1 << 20


def cc_labels_from_pairs(pairs):
    """(doc_id, cluster_id = min doc_id of the connected component) from
    an undirected (da, db) pair frame — the dedup_cluster_cc fixpoint,
    factored so incremental cluster maintenance
    (operators/cluster_state.py) runs the IDENTICAL algorithm on its
    affected subgraphs. Only docs appearing in pairs get a row.

    The pairs are oriented (src = max, dst = min) and checkpointed once;
    then ``limit(CC_DRIVER_EDGES + 1)`` of them is pulled through Arrow.

    - Driver path: a pull of at most ``CC_DRIVER_EDGES`` rows is the
      whole edge list. ``_union_find_roots`` labels its nodes and the
      labels come back through an Arrow ``createDataFrame``.
    - Star path: otherwise the pull is dropped, and alternating
      large-star/small-star (Kiveris et al., "Connected Components in
      MapReduce and Beyond", SoCC 2014) runs until the edge set is a
      min-rooted star forest. It stays distributed to the end.

    Shape per alternation (everything edge-sized, mins map-side
    combinable so a giant cluster's hot center never ships its degree
    to one reducer before reduction):
    - large-star: every node connects its LARGER neighbors to the min
      of its neighborhood (incl. itself) — emits exactly one edge per
      input edge, oriented src > dst.
    - small-star: every node connects its smaller neighbors (and
      itself) to the min of that set — then distinct.
    - convergence: one aggregate proves the exact fixpoint — the edge
      set is a min-rooted star forest iff every src has exactly one
      edge and no node is both a src and a dst (both ops preserve the
      component partition and the node set, and orientation makes each
      star's center its component minimum, so the test passing IS
      result correctness — no sum-collision risk, unlike a probe).
    The fixpoint (min id per component) is schedule-independent, so
    DuckDB's recursive-CTE transitive closure remains the exact oracle.
    """
    spark = pairs.sparkSession
    # orient (src = max, dst = min) in one pass; self-pairs drop out of
    # the loop but their endpoints stay in the node universe below
    ini = pairs.select(
        F.greatest("da", "db").alias("src"), F.least("da", "db").alias("dst")
    ).localCheckpoint(eager=True)
    pulled = ini.limit(CC_DRIVER_EDGES + 1).toArrow()
    if pulled.num_rows <= CC_DRIVER_EDGES:
        nodes, roots = _union_find_roots(pulled)
        return spark.createDataFrame(
            pa.table({"doc_id": nodes, "cluster_id": roots}),
            "doc_id bigint, cluster_id bigint",
        )
    edges = ini.filter(F.col("src") != F.col("dst"))
    converged = False
    for _ in range(50):  # paper bound is O(log² n); observed 4 at sf0.5
        sym = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(F.min("dst").alias("gmn"))
        ls = (
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(
                F.col("dst").alias("src"),
                F.least("gmn", F.col("src")).alias("dst"),
            )
        )
        smins = ls.groupBy("src").agg(F.min("dst").alias("mn"))
        ss = (
            ls.join(smins, "src")
            # one pass emits both the leaf edge (dst -> mn) and the
            # center edge (src -> mn); src > dst > mn keeps orientation,
            # and the src != dst filter drops the dst == mn self-loop
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("dst").alias("src"), F.col("mn").alias("dst")
                        ),
                        F.struct(
                            F.col("src").alias("src"), F.col("mn").alias("dst")
                        ),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .where(F.col("src") != F.col("dst"))
        )
        edges = ss.distinct().localCheckpoint(eager=True)
        if _is_min_star_forest(edges):
            converged = True
            break
    if not converged:  # pragma: no cover - the paper's convergence bound
        raise RuntimeError(
            "large-star/small-star did not converge in 50 alternations"
        )
    nodes = (
        ini.select(F.col("src").alias("node"))
        .union(ini.select(F.col("dst").alias("node")))
        .distinct()
    )
    lab = edges.select(F.col("src").alias("node"), F.col("dst").alias("label"))
    return nodes.join(lab, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce("label", "node").alias("cluster_id"),
    )


def _union_find_roots(edges):
    """(nodes, roots) of an Arrow (src, dst) edge table: every node once,
    ascending, with the min node of its connected component. Ids are
    compacted to 0..n-1 in ascending order, so linking the larger root
    under the smaller keeps every parent at or below its child, and one
    ascending pass then resolves each node from its already-resolved
    parent. Path halving keeps the finds short."""
    src = edges.column("src").to_numpy()
    dst = edges.column("dst").to_numpy()
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    nodes = nodes.astype(np.int64, copy=False)
    parent = list(range(len(nodes)))
    m = len(src)
    for x, y in zip(inv[:m].tolist(), inv[m:].tolist()):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        while parent[y] != y:
            parent[y] = parent[parent[y]]
            y = parent[y]
        if x < y:
            parent[y] = x
        elif y < x:
            parent[x] = y
    for i in range(len(parent)):
        parent[i] = parent[parent[i]]
    return nodes, nodes[np.asarray(parent, dtype=np.int64)]


def _is_min_star_forest(edges):
    """Exact convergence test for the star alternation: edges (oriented
    src > dst) form a min-rooted star forest iff every src has exactly
    one edge AND no node appears as both a src and a dst. One aggregate
    job over the checkpointed frame: explode each edge into two
    (node, role) rows, count roles per node (map-side combinable),
    reduce to two scalars. Empty edge set = empty forest = converged."""
    row = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("node"),
                        F.lit(1).alias("s"),
                        F.lit(0).alias("d"),
                    ),
                    F.struct(
                        F.col("dst").alias("node"),
                        F.lit(0).alias("s"),
                        F.lit(1).alias("d"),
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
        .groupBy("node")
        .agg(F.sum("s").alias("ns"), F.sum("d").alias("nd"))
        .agg(
            F.max("ns").alias("mx"),
            F.max(
                F.when((F.col("ns") > 0) & (F.col("nd") > 0), 1).otherwise(0)
            ).alias("ov"),
        )
        .collect()[0]
    )
    return row["mx"] is None or (row["mx"] <= 1 and row["ov"] == 0)


# ---------------------------------------------------------------------------
# decontamination: asymmetric n-gram containment of a test set in the corpus
# ---------------------------------------------------------------------------
N_TEST_DOCS = 50
CONTAIN_THRESHOLD = 0.5

_CONTAIN_ORACLE = f"""
WITH sd AS (
  SELECT doc_id, unnest({_DSHINGLES}) AS sh
  FROM documents
), tcnt AS (
  SELECT doc_id, count(*) AS n FROM sd WHERE doc_id < {N_TEST_DOCS}
  GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS test_id, b.doc_id AS corpus_id, count(*) AS sh_n
  FROM sd a JOIN sd b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  WHERE a.doc_id < {N_TEST_DOCS}
  GROUP BY 1, 2
)
SELECT test_id, corpus_id,
       round(sh_n::DOUBLE / t.n, 4) AS containment
FROM shared JOIN tcnt t ON t.doc_id = test_id
WHERE sh_n::DOUBLE / t.n >= {CONTAIN_THRESHOLD}
"""


@query(
    "dedup_ngram_containment",
    oracle=_CONTAIN_ORACLE,
    tags=("dedup", "documents", "decontamination"),
)
def dedup_ngram_containment(spark, sf_dir):
    """test-set decontamination: for each held-out doc (doc_id < 50), the
    fraction of its 3-gram shingles contained in any other document —
    containment |A∩B| / |A| is the asymmetric leak metric (Jaccard misses
    a short test doc swallowed by a long training doc). Blocked on the
    shared shingle; the test side is tiny so its shingle frame broadcasts,
    and the corpus side streams through the join at any scale."""
    from pyspark.sql import Window as W

    sd = _doc_shingles(spark, sf_dir)
    test = (
        sd.filter(F.col("doc_id") < N_TEST_DOCS)
        .withColumn("n", F.count("*").over(W.partitionBy("doc_id")))
        .select(
            F.col("doc_id").alias("test_id"), F.col("sh").alias("tsh"), "n"
        )
    )
    shared = (
        F.broadcast(test)
        .join(
            sd,
            (F.col("tsh") == F.col("sh"))
            & (F.col("test_id") != F.col("doc_id")),
        )
        .groupBy("test_id", F.col("doc_id").alias("corpus_id"), "n")
        .agg(F.count("*").alias("sh_n"))
    )
    contain = F.col("sh_n").cast("double") / F.col("n")
    return shared.filter(contain >= CONTAIN_THRESHOLD).select(
        "test_id", "corpus_id", F.round(contain, 4).alias("containment")
    )
