"""Small text models trained on the corpus in-engine, and the curation
rows that apply them.

- ``text_lm_perplexity``    CCNet-style bigram-LM scoring (Wenzek et al.,
                            LREC 2020 §4.3): the 20 most "surprising"
                            documents under an LM trained on the corpus.
- ``curate_ccnet_buckets``  per-source head/middle/tail perplexity
                            terciles with the CCNet keep policy.
- ``quality_dsir_weights``  DSIR importance weights (Xie et al., NeurIPS
                            2023) over hashed-bigram features.
- ``quality_psi_drift``     per-source Population Stability Index of the
                            document-length distribution (PSI > 0.2 is
                            the usual "significant drift" rule).
- ``text_bpe_pairs`` / ``text_bpe_merges`` / ``text_bpe_encode``
                            the BPE lifecycle (Sennrich et al., ACL 2016
                            §3.2): the pair count, BPE_MERGES greedy
                            merge rounds over distinct word types, and
                            applying the trained merge table to the
                            corpus (the encode oracle reuses the
                            training oracle's CTE chain, so the applied
                            table is provably the trained one).

Cross-engine exactness: probabilities are (int + c)/(int + c') doubles,
identical in both engines; ln on identical doubles, round-8 per term,
exact DECIMAL summation and a final round-4 make every score
order-independent and bit-stable. Feature hashing is the md5
first-12-hex-digits recipe in both engines.

Scale shape: one explode linear in corpus tokens, then map-side-
combinable aggregation cascades; LM / feature tables are derived by
re-aggregating per-doc counts; BPE works over DISTINCT word types
(vocabulary-bounded). Every top-k is orderBy().limit().

Reference basis: the reference pipeline has no LM scoring, tokenizer or
drift monitoring (its quality gates are the word-count filters,
reference filters.py); these are public-literature training-data
operators.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from doc2dataset_spark.queries.core import query
from doc2dataset_spark.queries.dedup import _DTOKS, _TOKS
from doc2dataset_spark.session import load_table


# ---------------------------------------------------------------------------
# quality_psi_drift — per-source length-distribution drift (PSI)
# ---------------------------------------------------------------------------
# PSI parameters: 8 fixed-width length bins (width 75 covers the
# generator's 48..553 n_chars span; the last bin is open-ended), Laplace
# 0.5 smoothing so no bin is ever empty, 0.2 drift threshold.
PSI_BIN_W = 75
PSI_N_BINS = 8
PSI_THRESHOLD = 0.2
_SM = 0.5 * PSI_N_BINS  # total smoothing mass added per distribution


def binned_docs(docs):
    """(source, bin) projection: the shared binning expression — ONE
    place, so batch query and streaming monitor can never disagree."""
    return docs.select(
        "source",
        F.expr(
            f"CAST(LEAST(n_chars DIV {PSI_BIN_W}, {PSI_N_BINS - 1}) AS INT)"
        ).alias("bin"),
    )


def psi_from_counts(sb, binc, tot):
    """PSI verdict frame from pre-aggregated counts.

    ``sb``  (source, bin, c)  per-source observed bin counts;
    ``binc``(bin, cb)         REFERENCE histogram;
    ``tot`` 1-row (n,)        reference total.
    Returns (source, n_docs, psi, drifted). Shared verbatim by the
    batch query (reference = the corpus itself) and the streaming
    monitor (reference = a frozen snapshot), so stream ≡ batch is an
    identity of expressions, not a tolerance."""
    spark = sb.sparkSession
    src = sb.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_src"))
    bins = spark.range(PSI_N_BINS).select(F.col("id").cast("int").alias("bin"))
    grid = src.crossJoin(F.broadcast(bins))
    terms = (
        grid.join(sb, ["source", "bin"], "left")
        .join(F.broadcast(binc), "bin", "left")
        .crossJoin(F.broadcast(tot))
    )
    p = (F.coalesce(F.col("c"), F.lit(0)) + 0.5) / (F.col("n_src") + _SM)
    q = (F.coalesce(F.col("cb"), F.lit(0)) + 0.5) / (F.col("n") + _SM)
    term = F.round((p - q) * F.log(p / q), 8).cast("decimal(38,10)")
    psi = (
        terms.groupBy("source", F.col("n_src").alias("n_docs"))
        .agg(F.round(F.sum(term), 4).cast("double").alias("psi"))
    )
    return psi.select(
        "source", "n_docs", "psi",
        (F.col("psi") > PSI_THRESHOLD).alias("drifted"),
    )


@query(
    "quality_psi_drift",
    oracle=f"""
    WITH b AS (
      SELECT source, LEAST(n_chars // {PSI_BIN_W}, {PSI_N_BINS - 1}) AS bin
      FROM documents
    ),
    sb AS (SELECT source, bin, COUNT(*) AS c FROM b GROUP BY source, bin),
    src AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_src FROM sb GROUP BY source),
    binc AS (SELECT bin, CAST(SUM(c) AS BIGINT) AS cb FROM sb GROUP BY bin),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM sb),
    bins AS (SELECT unnest(range({PSI_N_BINS})) AS bin),
    grid AS (SELECT s.source, s.n_src, bins.bin FROM src s CROSS JOIN bins),
    terms AS (
      SELECT g.source, g.n_src,
             (COALESCE(sb.c, 0) + 0.5) / (g.n_src + {_SM}) AS p,
             (COALESCE(binc.cb, 0) + 0.5) / (tot.n + {_SM}) AS q
      FROM grid g
      LEFT JOIN sb ON g.source = sb.source AND g.bin = sb.bin
      LEFT JOIN binc ON g.bin = binc.bin
      CROSS JOIN tot
    ),
    psi AS (
      SELECT source, n_src AS n_docs,
             round(SUM(CAST(round((p - q) * ln(p / q), 8)
                            AS DECIMAL(38,10))), 4)::DOUBLE AS psi
      FROM terms GROUP BY source, n_src
    )
    SELECT source, n_docs, psi, psi > {PSI_THRESHOLD} AS drifted FROM psi
    """,
    tags=("quality", "drift", "corpus"),
)
def quality_psi_drift(spark, sf_dir):
    """Per-source PSI of the document-length distribution vs the whole
    corpus: PSI = Σ_bins (p_i - q_i)·ln(p_i/q_i) over 8 fixed-width
    length bins with Laplace-0.5 smoothing, flagged at the standard
    0.2 threshold. The drift monitor a curation pipeline runs per
    source/ingest batch before mixing (streaming/drift.py is the
    per-micro-batch twin against a frozen reference).

    Scale shape: ONE scan of documents feeding a (source, bin) count —
    a uniformly-keyed partial-agg groupBy; everything downstream
    (per-source totals, corpus bin totals, the source×8 grid, the PSI
    fold) re-aggregates those ≤ |sources|×8 rows, with the bin totals
    and the 1-row corpus total broadcast. No second corpus scan, no
    window, no skew (bin keys are near-uniform by construction)."""
    docs = binned_docs(load_table(spark, sf_dir, "documents"))
    sb = docs.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("c"))
    binc = sb.groupBy("bin").agg(F.sum("c").cast("bigint").alias("cb"))
    tot = sb.agg(F.sum("c").cast("bigint").alias("n"))
    return psi_from_counts(sb, binc, tot)


# ---------------------------------------------------------------------------
# hashed-bigram features shared by the LM, DSIR and classifier rows
# ---------------------------------------------------------------------------
LM_TOPK = 20
BPE_TOPK = 30
DSIR_BUCKETS = 256
DSIR_TOPK = 20
# the declared "curated" target slice for DSIR (any predicate works; the
# contract is the math, and the weight is a pure function of text)
DSIR_TARGET = ("src0", "src1", "src2")


def _bigram_frame(d):
    """(doc_id, source, w1, w2) — one row per adjacent token pair.

    Built with two aligned slices zipped row-locally (pure codegen);
    docs with fewer than two tokens contribute nothing, identically to
    the oracle's len(w) >= 2 guard."""
    base = d.select(
        "doc_id", "source", F.expr(_TOKS).alias("t")
    ).filter(F.size("t") >= 2)
    return base.select(
        "doc_id",
        "source",
        F.explode(
            F.arrays_zip(
                F.expr("slice(t, 1, size(t) - 1)"),
                F.expr("slice(t, 2, size(t) - 1)"),
            )
        ).alias("p"),
    ).select(
        "doc_id",
        "source",
        F.col("p")["0"].alias("w1"),
        F.col("p")["1"].alias("w2"),
    )


# DuckDB twin of _bigram_frame: two PARALLEL unnests of equal-length
# slices are zipped positionally (the engine's documented behavior)
_DUCK_BG = f"""
    ws AS (SELECT doc_id, source, {_DTOKS} AS w FROM documents),
    bg AS (
      SELECT doc_id, source,
             unnest(w[1:len(w) - 1]) AS w1,
             unnest(w[2:len(w)]) AS w2
      FROM ws WHERE len(w) >= 2
    )
"""


# ---------------------------------------------------------------------------
# bigram-LM negative log-likelihood (CCNet-style quality outliers)
# ---------------------------------------------------------------------------
@query(
    "text_lm_perplexity",
    oracle=f"""
    WITH {_DUCK_BG},
    dc AS (
      SELECT doc_id, source, w1, w2, count(*) AS c
      FROM bg GROUP BY doc_id, source, w1, w2
    ),
    lm AS (SELECT w1, w2, SUM(c) AS c12 FROM dc GROUP BY w1, w2),
    pre AS (SELECT w1, SUM(c12) AS c1 FROM lm GROUP BY w1),
    voc AS (SELECT COUNT(DISTINCT w2) AS v FROM lm),
    terms AS (
      SELECT dc.doc_id, dc.source, dc.c,
             CAST(round(dc.c * ln((lm.c12 + 0.5) / (pre.c1 + 0.5 * voc.v)), 8)
                  AS DECIMAL(38,10)) AS term
      FROM dc
      JOIN lm USING (w1, w2)
      JOIN pre USING (w1)
      CROSS JOIN voc
    ),
    agg AS (
      SELECT doc_id, source,
             CAST(SUM(c) AS BIGINT) AS n_bigrams,
             round(SUM(term), 4)::DOUBLE AS lp_tot
      FROM terms GROUP BY doc_id, source
    )
    SELECT doc_id, source, n_bigrams,
           round(-lp_tot / n_bigrams, 4) AS nll
    FROM agg
    ORDER BY nll DESC, doc_id
    LIMIT {LM_TOPK}
    """,
    tags=("text", "quality", "lm"),
)
def text_lm_perplexity(spark, sf_dir):
    """Bigram-LM quality scoring: P(w2|w1) with add-0.5 smoothing is
    estimated from the corpus itself, every document gets its average
    negative log-likelihood per bigram (monotone with perplexity =
    exp(nll); nll is reported because exp() carries no cross-engine
    correctly-rounded guarantee while ln-round-8-decimal-sum does), and
    the LM_TOPK most surprising documents come back — formulaic text
    scores low, token soup scores high. The in-engine twin of CCNet's
    KenLM perplexity gate.

    Scale shape: the per-doc bigram counts ``dc`` are aggregated ONCE
    from the single explode; the LM (``lm``), its prefix marginals
    (``pre``), and the vocab scalar are all re-aggregations of ``dc``
    (map-side-combinable, shuffle keys are (w1,w2)/(w1) — uniform
    language statistics, no skew beyond stopword heads that partial agg
    absorbs). Scoring joins dc back to lm/pre on term keys (equi-joins;
    at 100 TB these shuffle vocab²-bounded tables, never raw text) and
    the final cut is TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    dc = (
        _bigram_frame(d)
        .groupBy("doc_id", "source", "w1", "w2")
        .agg(F.count("*").alias("c"))
    )
    lm = dc.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
    pre = lm.groupBy("w1").agg(F.sum("c12").alias("c1"))
    voc = lm.agg(F.count_distinct("w2").alias("v"))
    p = (F.col("c12") + 0.5) / (F.col("c1") + 0.5 * F.col("v"))
    term = F.round(F.col("c") * F.log(p), 8).cast("decimal(38,10)")
    agg = (
        dc.join(lm, ["w1", "w2"])
        .join(pre, "w1")
        .crossJoin(F.broadcast(voc))
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.round(F.sum(term), 4).cast("double").alias("lp_tot"),
        )
    )
    out = agg.select(
        "doc_id",
        "source",
        "n_bigrams",
        F.round(-F.col("lp_tot") / F.col("n_bigrams"), 4).alias("nll"),
    )
    return out.orderBy(F.desc("nll"), "doc_id").limit(LM_TOPK)


# ---------------------------------------------------------------------------
# BPE pair statistics over distinct word types
# ---------------------------------------------------------------------------
@query(
    "text_bpe_pairs",
    oracle=f"""
    WITH tok AS (SELECT unnest({_DTOKS}) AS tok FROM documents),
    tf AS (SELECT tok, count(*) AS f FROM tok GROUP BY tok),
    pairs AS (
      SELECT f,
             unnest(list_transform(range(1, length(tok)),
                                   i -> tok[i:i+1])) AS pair
      FROM tf WHERE length(tok) >= 2
    )
    SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT {BPE_TOPK}
    """,
    tags=("text", "tokenizer"),
)
def text_bpe_pairs(spark, sf_dir):
    """The first BPE merge decision: corpus-frequency-weighted counts of
    adjacent character pairs, top BPE_TOPK. Computed the way real BPE
    trainers do it — aggregate word-type frequencies FIRST, then expand
    only DISTINCT word types into their character pairs — so the pair
    fan-out is bounded by vocabulary size × word length, not corpus
    length (Sennrich et al. ACL 2016 §3.2's dictionary representation).

    Scale shape: explode (linear in tokens) → (token) partial-agg count
    → row-local pair expansion over the (much smaller) type table →
    (pair) partial-agg → TakeOrderedAndProject. At 100 TB the only
    corpus-scale shuffle is the word-type count, whose keys are the
    Zipf-distributed vocabulary — exactly the partial-agg-absorbable
    shape. No windows, no UDFs."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.expr(_TOKS)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
    )
    pairs = tf.filter(F.length("tok") >= 2).select(
        "f",
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), "
                   "i -> substring(tok, i, 2))")
        ).alias("pair"),
    )
    out = pairs.groupBy("pair").agg(F.sum("f").cast("bigint").alias("cnt"))
    return out.orderBy(F.desc("cnt"), "pair").limit(BPE_TOPK)


# ---------------------------------------------------------------------------
# DSIR importance weights (hashed-bigram feature models)
# ---------------------------------------------------------------------------
_TGT_SQL = "(" + ", ".join(f"'{s}'" for s in DSIR_TARGET) + ")"


@query(
    "quality_dsir_weights",
    oracle=f"""
    WITH {_DUCK_BG},
    feat AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(w1 || ' ' || w2), 1, 12))::BIGINT
               % {DSIR_BUCKETS} AS bucket
      FROM bg
    ),
    dfc AS (
      SELECT doc_id, source, bucket, count(*) AS c
      FROM feat GROUP BY doc_id, source, bucket
    ),
    tc AS (
      SELECT bucket, SUM(c) AS ct FROM dfc
      WHERE source IN {_TGT_SQL} GROUP BY bucket
    ),
    rc AS (SELECT bucket, SUM(c) AS cr FROM dfc GROUP BY bucket),
    tot AS (
      SELECT (SELECT SUM(c) FROM dfc WHERE source IN {_TGT_SQL}) AS nt,
             (SELECT SUM(c) FROM dfc) AS nr
    ),
    terms AS (
      SELECT dfc.doc_id, dfc.source, dfc.c,
             CAST(round(dfc.c * ln(
               ((COALESCE(tc.ct, 0) + 0.5) / (tot.nt + 0.5 * {DSIR_BUCKETS}))
               / ((rc.cr + 0.5) / (tot.nr + 0.5 * {DSIR_BUCKETS}))
             ), 8) AS DECIMAL(38,10)) AS term
      FROM dfc
      LEFT JOIN tc USING (bucket)
      JOIN rc USING (bucket)
      CROSS JOIN tot
    )
    SELECT doc_id, source,
           CAST(SUM(c) AS BIGINT) AS n_feats,
           round(SUM(term), 4)::DOUBLE AS log_weight
    FROM terms GROUP BY doc_id, source
    ORDER BY log_weight DESC, doc_id
    LIMIT {DSIR_TOPK}
    """,
    tags=("quality", "sampling", "dsir"),
)
def quality_dsir_weights(spark, sf_dir):
    """DSIR log importance weights: hashed-bigram unigram models for the
    curated TARGET slice (sources in DSIR_TARGET) and the RAW pool;
    log w(x) = Σ_f c_f(x)·ln(p_target(f)/p_raw(f)) ranks documents by
    how target-like their feature profile is — the data-selection score
    of Xie et al. (NeurIPS 2023). Top DSIR_TOPK most target-like
    documents come back; the weight is a pure function of the text, so
    raw-pool documents that read like the target rank alongside it.

    Scale shape: the hash bounds the feature space at DSIR_BUCKETS, so
    both model tables are ≤ DSIR_BUCKETS rows — re-aggregated from the
    per-doc counts and BROADCAST back (the scoring join shuffles
    nothing but the per-doc feature counts, themselves ≤ BUCKETS rows
    per doc). Smoothing is add-0.5 over the hashed vocabulary; the md5
    bucket is the shuffle_deterministic recipe, identical both
    engines."""
    d = load_table(spark, sf_dir, "documents")
    feat = _bigram_frame(d).select(
        "doc_id",
        "source",
        F.pmod(
            F.expr(
                "cast(conv(substring(md5(concat(w1, ' ', w2)), 1, 12), "
                "16, 10) AS bigint)"
            ),
            F.lit(DSIR_BUCKETS),
        ).alias("bucket"),
    )
    dfc = feat.groupBy("doc_id", "source", "bucket").agg(
        F.count("*").alias("c")
    )
    is_tgt = F.col("source").isin(*DSIR_TARGET)
    tc = dfc.filter(is_tgt).groupBy("bucket").agg(F.sum("c").alias("ct"))
    rc = dfc.groupBy("bucket").agg(F.sum("c").alias("cr"))
    tot = dfc.agg(
        F.sum(F.when(is_tgt, F.col("c")).otherwise(F.lit(0))).alias("nt"),
        F.sum("c").alias("nr"),
    )
    pt = (F.coalesce(F.col("ct"), F.lit(0)) + 0.5) / (
        F.col("nt") + 0.5 * DSIR_BUCKETS
    )
    pr = (F.col("cr") + 0.5) / (F.col("nr") + 0.5 * DSIR_BUCKETS)
    term = F.round(F.col("c") * F.log(pt / pr), 8).cast("decimal(38,10)")
    scored = (
        dfc.join(F.broadcast(tc), "bucket", "left")
        .join(F.broadcast(rc), "bucket")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").cast("bigint").alias("n_feats"),
            F.round(F.sum(term), 4).cast("double").alias("log_weight"),
        )
    )
    return scored.orderBy(F.desc("log_weight"), "doc_id").limit(DSIR_TOPK)


BPE_MERGES = 3
BPE_MAX_WORD = 16  # declared cap: longer word types are tokenizer noise


# ---------------------------------------------------------------------------
# BPE tokenizer training: unrolled greedy merge rounds
# ---------------------------------------------------------------------------
def _bpe_training_rounds_sql() -> list[str]:
    """The unrolled-round CTE chain (pr{r}/pc{r}/m{r}/s{r}) shared by the
    training oracle here and the encode oracle below: both
    must derive the SAME merge table or the encode side silently trains
    a different tokenizer than the one it claims to apply."""
    rounds = []
    for r in range(1, BPE_MERGES + 1):
        p = r - 1
        rounds.append(f"""
    pr{r} AS MATERIALIZED (
      SELECT f, unnest(list_transform(range(1, len(s)),
                       i -> struct_pack(p1 := s[i], p2 := s[i+1]))) AS u
      FROM s{p}
    ),
    pc{r} AS MATERIALIZED (
      SELECT u.p1 AS p1, u.p2 AS p2, SUM(f) AS cnt
      FROM pr{r} GROUP BY 1, 2
    ),
    m{r} AS MATERIALIZED (SELECT p1, p2, cnt FROM pc{r}
             ORDER BY cnt DESC, p1, p2 LIMIT 1),
    s{r} AS MATERIALIZED (
      SELECT flatten(list_transform(range(1, len(s) + 1), i ->
               CASE WHEN i < len(s) AND g[i] THEN [s[i] || s[i + 1]]
                    WHEN i >= 2 AND g[i - 1] THEN []
                    ELSE [s[i]] END)) AS s,
             f
      FROM (
        SELECT s, f,
               list_transform(range(1, len(s)), i ->
                 (s[i] = m.p1 AND s[i + 1] = m.p2)
                 AND ((i - COALESCE(list_max(list_filter(range(1, i + 1),
                        j -> NOT (s[j] = m.p1 AND s[j + 1] = m.p2))), 0))
                      % 2 = 1)) AS g
        FROM s{p} CROSS JOIN m{r} m
      )
    )""")
    return rounds


def _bpe_oracle() -> str:
    """Unrolled-round DuckDB twin of the greedy merge loop."""
    rounds = _bpe_training_rounds_sql()
    sel = "\n    UNION ALL ".join(
        f"SELECT {r} AS merge_round, p1, p2, CAST(cnt AS BIGINT) AS cnt "
        f"FROM m{r}"
        for r in range(1, BPE_MERGES + 1)
    )
    return f"""
    WITH tok AS (SELECT unnest({_DTOKS}) AS tok FROM documents),
    tf AS MATERIALIZED (SELECT tok, count(*) AS f FROM tok GROUP BY tok),
    s0 AS MATERIALIZED (
      SELECT list_transform(range(1, length(tok) + 1), i -> tok[i:i]) AS s,
             f
      FROM tf WHERE length(tok) BETWEEN 2 AND {BPE_MAX_WORD}
    ),
    {",".join(rounds)}
    {sel}
    ORDER BY merge_round
    """


# Spark twins of the row-local rewrite lambdas (ANSI-safe: every
# element_at is index-guarded by the surrounding CASE structure, and
# sequence() is never called with start > stop — Spark's sequence runs
# DESCENDING there, unlike DuckDB's empty range)
_SP_PAIRS = """
    CASE WHEN size(s) >= 2
         THEN transform(sequence(1, size(s) - 1),
                        i -> struct(element_at(s, i) AS p1,
                                    element_at(s, i + 1) AS p2))
         ELSE array() END
"""
_SP_G = """
    CASE WHEN size(s) >= 2
         THEN transform(sequence(1, size(s) - 1), i ->
                (element_at(s, i) = mp1 AND element_at(s, i + 1) = mp2)
                AND ((i - coalesce(array_max(filter(sequence(1, i),
                       j -> NOT (element_at(s, j) = mp1
                                 AND element_at(s, j + 1) = mp2))), 0))
                     % 2 = 1))
         ELSE array() END
"""
_SP_REWRITE = """
    flatten(transform(sequence(1, size(s)), i ->
      CASE WHEN i < size(s) THEN
        CASE WHEN element_at(g, i)
               THEN array(concat(element_at(s, i), element_at(s, i + 1)))
             WHEN i = 1 THEN array(element_at(s, 1))
             WHEN element_at(g, i - 1) THEN array()
             ELSE array(element_at(s, i)) END
      ELSE
        CASE WHEN i = 1 THEN array(element_at(s, 1))
             WHEN element_at(g, i - 1) THEN array()
             ELSE array(element_at(s, i)) END
      END))
"""


@query(
    "text_bpe_merges",
    oracle=_bpe_oracle(),
    tags=("text", "tokenizer", "iterative"),
)
def text_bpe_merges(spark, sf_dir):
    """BPE tokenizer training, BPE_MERGES greedy rounds: each round
    counts frequency-weighted adjacent symbol pairs over the distinct-
    word-type dictionary, picks the most frequent pair (cnt desc, then
    lexicographic — the deterministic tiebreak), and rewrites every
    word's symbol array with greedy non-overlapping left-to-right
    merges of that pair. Returns the merge table (merge_round, p1, p2,
    cnt) — i.e. the trained tokenizer itself, exactly what a BPE
    vocabulary file stores (Sennrich et al. ACL 2016, the dictionary-
    of-word-types formulation of §3.2).

    The greedy rewrite is CLOSED-FORM, not a sequential fold: within
    each maximal run of consecutive overlapping matches, exactly the
    odd offsets merge (position i merges iff it matches and the match
    run ending at i has odd length) — a pure row-local array lambda,
    word-length-bounded (≤ BPE_MAX_WORD), identical in both engines.

    Scale shape: corpus text is touched ONCE (the word-type count,
    Zipf-keyed and partial-agg absorbable); every round thereafter
    aggregates the vocabulary-bounded type dictionary (pair partial
    agg → 1-row TakeOrdered argmax → broadcast → row-local rewrite),
    with a per-round localCheckpoint pinning the rewritten dictionary
    like dedup_cluster_cc pins labels. Merge state is 1 row/round."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.expr(_TOKS)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
    )
    merges = bpe_train_merges(tf)
    out = merges[0]
    for mdf in merges[1:]:
        out = out.unionAll(mdf)
    return out.orderBy("merge_round")


def bpe_train_merges(tf):
    """Run the BPE_MERGES greedy training rounds over a (tok, f)
    word-type frame; returns one checkpointed 1-row frame
    (merge_round, p1, p2, cnt) per round, in merge order — the trained
    merge table, consumed both by text_bpe_merges (training output) and
    text_bpe_encode (application to the corpus)."""
    syms = (
        tf.filter(F.length("tok").between(2, BPE_MAX_WORD))
        .select(
            F.expr(
                "transform(sequence(1, length(tok)), "
                "i -> substring(tok, i, 1))"
            ).alias("s"),
            "f",
        )
        .localCheckpoint()
    )
    merges = []
    for r in range(1, BPE_MERGES + 1):
        pc = (
            syms.select("f", F.explode(F.expr(_SP_PAIRS)).alias("u"))
            .groupBy(F.col("u")["p1"].alias("p1"), F.col("u")["p2"].alias("p2"))
            .agg(F.sum("f").alias("cnt"))
        )
        m = (
            pc.orderBy(F.desc("cnt"), "p1", "p2")
            .limit(1)
            .localCheckpoint()
        )
        merges.append(
            m.select(
                F.lit(r).alias("merge_round"),
                "p1",
                "p2",
                F.col("cnt").cast("bigint").alias("cnt"),
            )
        )
        if r < BPE_MERGES:
            syms = (
                syms.crossJoin(
                    F.broadcast(
                        m.select(
                            F.col("p1").alias("mp1"),
                            F.col("p2").alias("mp2"),
                        )
                    )
                )
                .select("s", "f", F.expr(_SP_G).alias("g"))
                .select(F.expr(_SP_REWRITE).alias("s"), "f")
                .localCheckpoint()
            )
    return merges


# ---------------------------------------------------------------------------
# BPE encode: apply the trained merge table to the corpus
# ---------------------------------------------------------------------------
def _bpe_encode_rounds_sql() -> list[str]:
    """e{r} CTEs: the SAME greedy non-overlapping rewrite as the training
    chain's s{r}, applied to the UNFILTERED type dictionary (e0), keyed
    by tok so documents can join back. m{r} comes verbatim from
    _bpe_training_rounds_sql — one merge table, two consumers."""
    rounds = []
    for r in range(1, BPE_MERGES + 1):
        p = r - 1
        rounds.append(f"""
    e{r} AS MATERIALIZED (
      SELECT tok, flatten(list_transform(range(1, len(s) + 1), i ->
               CASE WHEN i < len(s) AND g[i] THEN [s[i] || s[i + 1]]
                    WHEN i >= 2 AND g[i - 1] THEN []
                    ELSE [s[i]] END)) AS s
      FROM (
        SELECT tok, s,
               list_transform(range(1, len(s)), i ->
                 (s[i] = m.p1 AND s[i + 1] = m.p2)
                 AND ((i - COALESCE(list_max(list_filter(range(1, i + 1),
                        j -> NOT (s[j] = m.p1 AND s[j + 1] = m.p2))), 0))
                      % 2 = 1)) AS g
        FROM e{p} CROSS JOIN m{r} m
      )
    )""")
    return rounds


def _bpe_encode_oracle() -> str:
    train = ",".join(_bpe_training_rounds_sql())
    enc = ",".join(_bpe_encode_rounds_sql())
    return f"""
    WITH tok AS (SELECT unnest({_DTOKS}) AS tok FROM documents),
    tf AS MATERIALIZED (SELECT tok, count(*) AS f FROM tok GROUP BY tok),
    s0 AS (
      SELECT list_transform(range(1, length(tok) + 1), i -> tok[i:i]) AS s,
             f
      FROM tf WHERE length(tok) BETWEEN 2 AND {BPE_MAX_WORD}
    ),
    {train},
    e0 AS MATERIALIZED (
      SELECT tok,
             list_transform(range(1, length(tok) + 1), i -> tok[i:i]) AS s
      FROM tf
    ),
    {enc},
    dt AS (SELECT doc_id, unnest({_DTOKS}) AS tok FROM documents)
    SELECT doc_id,
           count(*) AS n_words,
           CAST(SUM(len(e.s)) AS BIGINT) AS n_tokens,
           round(SUM(len(e.s))::DOUBLE / count(*), 4) AS fertility
    FROM dt JOIN e{BPE_MERGES} e USING (tok)
    GROUP BY doc_id
    """


def bpe_encode_types(tf):
    """Encode a (tok, f) word-type frame with the merge table trained on
    it: returns (tok, s) where s is the token's symbol array after all
    BPE_MERGES learned merges, applied in merge order with the same
    closed-form greedy rewrite the trainer uses. Conservation (concat of
    s == tok) is pytest-pinned for every type at the fixtures."""
    merges = bpe_train_merges(tf)
    enc = tf.select(
        "tok",
        F.expr(
            "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"
        ).alias("s"),
    )
    for m in merges:
        enc = (
            enc.crossJoin(
                F.broadcast(
                    m.select(
                        F.col("p1").alias("mp1"), F.col("p2").alias("mp2")
                    )
                )
            )
            .select("tok", "s", F.expr(_SP_G).alias("g"))
            .select("tok", F.expr(_SP_REWRITE).alias("s"))
        )
    return enc


@query(
    "text_bpe_encode",
    oracle=_bpe_encode_oracle(),
    tags=("text", "tokenizer", "iterative"),
)
def text_bpe_encode(spark, sf_dir):
    """Apply the trained BPE merge table to the corpus: per document,
    the word count, the encoded token count, and fertility
    (tokens per word — the standard tokenizer-quality metric; lower is
    better on in-domain text).

    The merge table is TRAINED IN THE SAME QUERY (bpe_train_merges over
    the word-type counts), then applied to the distinct-type dictionary
    — never to token occurrences: the corpus is touched exactly twice
    (once to count types, once to join the per-type token length back
    onto occurrences), and the 3-round rewrite runs over the
    vocabulary-bounded dictionary only. The occurrence join is a
    classic Zipf-skewed fact-to-dim equi-join (hot types like 'the'
    dominate); the dim side is one row per type, so AQE's skew split
    handles the hot keys and nothing is ever driver-side. Encoding per
    type is the same closed-form odd-offset greedy rewrite the trainer
    uses (word-length-bounded row-local lambda, no UDF).

    Oracle: the encode chain reuses the training oracle's unrolled
    m{r} CTEs verbatim, so Spark and DuckDB provably apply the same
    learned tokenizer. Fertility follows the shared double-division
    recipe (identical IEEE operands and order both sides)."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.expr(_TOKS)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
        .localCheckpoint()
    )
    enc = bpe_encode_types(tf)
    dt = d.select("doc_id", F.explode(F.expr(_TOKS)).alias("tok"))
    return dt.join(enc.select("tok", F.size("s").alias("n_sym")), "tok").groupBy(
        "doc_id"
    ).agg(
        F.count("*").alias("n_words"),
        F.sum("n_sym").cast("bigint").alias("n_tokens"),
        F.round(
            F.sum("n_sym").cast("double") / F.count("*"), 4
        ).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# curate_ccnet_buckets — perplexity stratification + keep policy
# ---------------------------------------------------------------------------

CCNET_BUCKETS = 3  # head / middle / tail (the CCNet recipe)
# middle-bucket hash sample: keep docs whose md5-derived 48-bit value is
# even — the sample_deterministic idiom, identical on both engines
_KEEP_HASH_SPARK = (
    "cast(conv(substring(md5(cast(doc_id AS string)), 1, 12), 16, 10)"
    " AS bigint) % 2 = 0"
)
_KEEP_HASH_DUCK = "('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT % 2 = 0"


@query(
    "curate_ccnet_buckets",
    oracle=f"""
    WITH {_DUCK_BG},
    dc AS (
      SELECT doc_id, source, w1, w2, count(*) AS c
      FROM bg GROUP BY doc_id, source, w1, w2
    ),
    lm AS (SELECT w1, w2, SUM(c) AS c12 FROM dc GROUP BY w1, w2),
    pre AS (SELECT w1, SUM(c12) AS c1 FROM lm GROUP BY w1),
    voc AS (SELECT COUNT(DISTINCT w2) AS v FROM lm),
    terms AS (
      SELECT dc.doc_id, dc.source, dc.c,
             CAST(round(dc.c * ln((lm.c12 + 0.5) / (pre.c1 + 0.5 * voc.v)), 8)
                  AS DECIMAL(38,10)) AS term
      FROM dc
      JOIN lm USING (w1, w2)
      JOIN pre USING (w1)
      CROSS JOIN voc
    ),
    scored AS (
      SELECT doc_id, source,
             round(-round(SUM(term), 4)::DOUBLE / CAST(SUM(c) AS BIGINT), 4)
               AS nll
      FROM terms GROUP BY doc_id, source
    ),
    bucketed AS (
      SELECT doc_id, source, nll,
             ntile({CCNET_BUCKETS}) OVER (
               PARTITION BY source ORDER BY nll, doc_id
             )::INT AS bucket
      FROM scored
    )
    SELECT doc_id, source, nll, bucket,
           (bucket = 1 OR (bucket = 2 AND ({_KEEP_HASH_DUCK}))) AS kept
    FROM bucketed
    """,
    tags=("curation", "quality", "lm"),
)
def curate_ccnet_buckets(spark, sf_dir):
    """CCNet-style perplexity stratification (Wenzek et al., LREC 2020):
    every document's bigram-LM NLL (the text_lm_perplexity score, full
    corpus instead of top-k) is bucketed into per-source terciles —
    head (most fluent), middle, tail — and the standard keep policy is
    applied: head kept, middle hash-sampled 50% (deterministic
    md5-parity, the sample_deterministic idiom), tail dropped. The
    per-source partitioning is the CCNet design point: each source's
    own distribution sets its cutoffs, so a boilerplate-heavy source
    cannot push a clean source's documents into the tail.

    Scale shape: the LM estimation is text_lm_perplexity's (one explode
    → (w1,w2)-keyed partial aggs — vocabulary-bounded shuffles, never
    raw text); the tercile assignment is ONE window partitioned by
    source ordered by (nll, doc_id) — hash-partitioned, per-group
    counter state, no global window. The keep flag is a map-side hash.
    Deterministic: integer ntile over an exactly-reproducible (decimal
    ln-term sum) score with a total tiebreak."""
    d = load_table(spark, sf_dir, "documents")
    dc = (
        _bigram_frame(d)
        .groupBy("doc_id", "source", "w1", "w2")
        .agg(F.count("*").alias("c"))
    )
    lm = dc.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
    pre = lm.groupBy("w1").agg(F.sum("c12").alias("c1"))
    voc = lm.agg(F.count_distinct("w2").alias("v"))
    p = (F.col("c12") + 0.5) / (F.col("c1") + 0.5 * F.col("v"))
    term = F.round(F.col("c") * F.log(p), 8).cast("decimal(38,10)")
    scored = (
        dc.join(lm, ["w1", "w2"])
        .join(pre, "w1")
        .crossJoin(F.broadcast(voc))
        .groupBy("doc_id", "source")
        .agg(
            F.round(
                -F.round(F.sum(term), 4).cast("double")
                / F.sum("c").cast("bigint"),
                4,
            ).alias("nll")
        )
    )
    w = W.partitionBy("source").orderBy("nll", "doc_id")
    bucketed = scored.select(
        "doc_id",
        "source",
        "nll",
        F.ntile(CCNET_BUCKETS).over(w).cast("int").alias("bucket"),
    )
    return bucketed.select(
        "doc_id",
        "source",
        "nll",
        "bucket",
        (
            (F.col("bucket") == 1)
            | ((F.col("bucket") == 2) & F.expr(_KEEP_HASH_SPARK))
        ).alias("kept"),
    )
