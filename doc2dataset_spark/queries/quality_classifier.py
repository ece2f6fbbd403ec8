"""In-engine quality classifiers and the model-scored curation chain.

- ``quality_classifier_lr``  the fastText-style quality classifier: a
                             logistic regression over hashed-bigram
                             features trained by LR_ITERS full-batch
                             gradient steps to separate curated TARGET
                             sources from the pool. The discriminative
                             twin of quality_dsir_weights (text_models).
- ``curate_corpus_scored``   the train-the-filter-then-filter lifecycle
                             (CCNet / LLaMA-style): the curation chain
                             gated on an in-engine-trained classifier's
                             scores, with a stage-audit flag per
                             document. This trainer is FIXED-POINT
                             (integer 1e-8 units, rational Elliott
                             link), so per-document scores are
                             bit-identical across engines by
                             construction — see the note before FX_U.
- ``curate_corpus_scored_indexed``  the warm path: the model persisted
                             once (save_fx_model) and the SemDeDup stage
                             read from the persisted IVF postings; same
                             oracle.

The float trainer's transcendentals go through the round-8 →
DECIMAL(38,10) order-independent summation recipe (Java Math.exp and
libm exp were measured 1-ulp apart on some arguments; round-8 absorbs
it). Scale shape: the per-doc feature frame is computed once and
checkpointed; each gradient step is two broadcast joins (weights ≤
LR_BUCKETS rows) + one map-side-combinable aggregate.

Reference basis: the reference has no trainable scoring (filters.py
word-count gates only).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from doc2dataset_spark.queries.core import REGISTRY, query
from doc2dataset_spark.queries.dedup import (
    _IVF_ASSIGN_DUCK,
    _TOKS,
    CELL_THRESHOLD,
    cell_assignments,
)
from doc2dataset_spark.queries.pipeline_extras import _BIGRAMS, HEAD_WORDS, REP_FLAG
from doc2dataset_spark.queries.text_models import _DUCK_BG, _bigram_frame
from doc2dataset_spark.session import load_table


LR_BUCKETS = 64
LR_ITERS = 3
LR_ETA = 1.0
LR_TOPK = 20
LR_TARGET = ("src0", "src1", "src2")
_LR_TGT_SQL = "(" + ", ".join(f"'{s}'" for s in LR_TARGET) + ")"


# ---------------------------------------------------------------------------
# logistic-regression quality classifier (full-batch GD, unrolled)
# ---------------------------------------------------------------------------
def _lr_scored_ctes() -> str:
    """The full training-and-scoring CTE chain (everything after WITH,
    ending in a ``scored`` CTE with one row per featured document:
    doc_id, source, label, score).

    Exactness note (round 9): full-corpus per-document score equality
    across engines is NOT achievable with this float/exp formulation —
    Java Math.exp vs libm differ by 1 ulp on some inputs, the divergence
    feeds back through the GD rounds, and double-space round(x, 8)
    additionally breaks exact 8-dp boundary products (x = c/n with a
    power-of-2 n makes w*x land exactly on 8-dp decimals whose double
    sits a hair to one side; the two engines' round() implementations
    then disagree — measured 13-19/500 logits off by 1e-8). The top-k
    cut quality_classifier_lr takes is robust to that; consumers that
    need full-corpus equality use the FIXED-POINT trainer
    below (integer 1e-8 units, rational link, no floats in the
    loop) instead."""
    p_expr = "round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-z)), 8)"
    rounds = []
    for r in range(1, LR_ITERS + 1):
        p = r - 1
        rounds.append(f"""
    z{r} AS MATERIALIZED (
      SELECT d.doc_id, d.source, d.y,
             round(CAST(b.b AS DECIMAL(38,10))
                   + COALESCE(s.t, CAST(0 AS DECIMAL(38,10))), 8)::DOUBLE
               AS z
      FROM docn d
      CROSS JOIN b{p} b
      LEFT JOIN (
        SELECT x.doc_id,
               SUM(CAST(round(w.w * x.x, 8) AS DECIMAL(38,10))) AS t
        FROM dfcx x JOIN w{p} w USING (bucket)
        GROUP BY x.doc_id
      ) s ON s.doc_id = d.doc_id
    ),
    p{r} AS MATERIALIZED (
      SELECT doc_id, source, y,
             {p_expr} AS p
      FROM z{r}
    ),
    g{r} AS MATERIALIZED (
      SELECT x.bucket,
             round(CAST(SUM(CAST(round((p.p - p.y) * x.x, 8)
                                 AS DECIMAL(38,10))) AS DOUBLE)
                   / (SELECT nd FROM ndocs), 8) AS grad
      FROM dfcx x JOIN p{r} p USING (doc_id)
      GROUP BY x.bucket
    ),
    w{r} AS MATERIALIZED (
      SELECT w.bucket,
             round(w.w - CAST({LR_ETA} AS DOUBLE) * g.grad, 8) AS w
      FROM w{p} w JOIN g{r} g USING (bucket)
    ),
    b{r} AS MATERIALIZED (
      SELECT round(b.b - CAST({LR_ETA} AS DOUBLE) * gb.grad, 8) AS b
      FROM b{p} b CROSS JOIN (
        SELECT round(CAST(SUM(CAST(round(p - y, 8) AS DECIMAL(38,10)))
                          AS DOUBLE)
                     / (SELECT nd FROM ndocs), 8) AS grad
        FROM p{r}
      ) gb
    )""")
    n = LR_ITERS
    return f"""{_DUCK_BG},
    feat AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(w1 || ' ' || w2), 1, 12))::BIGINT
               % {LR_BUCKETS} AS bucket
      FROM bg
    ),
    dfc AS MATERIALIZED (
      SELECT doc_id, source, bucket, count(*) AS c
      FROM feat GROUP BY doc_id, source, bucket
    ),
    docn AS MATERIALIZED (
      SELECT doc_id, source, SUM(c) AS n,
             CASE WHEN source IN {_LR_TGT_SQL}
                  THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
      FROM dfc GROUP BY doc_id, source
    ),
    dfcx AS MATERIALIZED (
      SELECT f.doc_id, f.bucket,
             CAST(f.c AS DOUBLE) / d.n AS x
      FROM dfc f JOIN docn d USING (doc_id)
    ),
    ndocs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM docn),
    w0 AS (SELECT DISTINCT bucket, CAST(0 AS DOUBLE) AS w FROM dfc),
    b0 AS (SELECT CAST(0 AS DOUBLE) AS b),
    {",".join(rounds)},
    zf AS MATERIALIZED (
      SELECT d.doc_id, d.source, d.y,
             round(CAST(b.b AS DECIMAL(38,10))
                   + COALESCE(s.t, CAST(0 AS DECIMAL(38,10))), 8)::DOUBLE
               AS z
      FROM docn d
      CROSS JOIN b{n} b
      LEFT JOIN (
        SELECT x.doc_id,
               SUM(CAST(round(w.w * x.x, 8) AS DECIMAL(38,10))) AS t
        FROM dfcx x JOIN w{n} w USING (bucket)
        GROUP BY x.doc_id
      ) s ON s.doc_id = d.doc_id
    ),
    scored AS MATERIALIZED (
      SELECT doc_id, source, CAST(y AS BIGINT) AS label,
             {p_expr} AS score
      FROM zf
    )"""


def _lr_oracle() -> str:
    """Unrolled-iteration DuckDB twin; same CTE per round, w0 = 0."""
    return f"""
    WITH {_lr_scored_ctes()}
    SELECT doc_id, source, label, score
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT {LR_TOPK}
    """


def _lr_score(docn, dfcx, w, b):
    """z/p per doc under weight frame ``w`` (bucket, w) + 1-row bias
    ``b`` (b): the decimal-exact dot product + round-8 sigmoid."""
    term = F.round(F.col("w") * F.col("x"), 8).cast("decimal(38,10)")
    # z stays in DECIMAL space through the rounding: b (an 8-dp value
    # stored as double) + the 10-dp decimal dot-product sum has exact
    # 10-dp ties at the 8-dp rounding boundary (~1% of docs per scoring
    # pass), and double-space round() breaks those ties by binary noise
    # — measured 13-19/500 cross-engine 1e-8 logit flips. Decimal round
    # is exact and half-away-from-zero in BOTH engines (tie rule
    # verified), then one cast back to double.
    s = (
        dfcx.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(term).alias("t"))
    )
    zero_dec = F.lit(0).cast("decimal(38,10)")
    z = (
        docn.crossJoin(F.broadcast(b))
        .join(s, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "y",
            F.round(
                F.col("b").cast("decimal(38,10)")
                + F.coalesce(F.col("t"), zero_dec),
                8,
            )
            .cast("double")
            .alias("z"),
        )
    )
    return z.select(
        "doc_id",
        "source",
        "y",
        "z",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 8)
        .alias("p"),
    )


@query(
    "quality_classifier_lr",
    oracle=_lr_oracle(),
    tags=("quality", "ml", "classifier"),
)
def quality_classifier_lr(spark, sf_dir):
    """Train-and-apply quality classifier: logistic regression over
    LR_BUCKETS hashed-bigram relative-frequency features, LR_ITERS
    full-batch gradient-descent steps (w0 = 0 → p = 0.5 exactly on step
    one), labels = "document comes from a curated TARGET source"; every
    document is then scored by the trained model and the LR_TOPK most
    target-like come back (score is a pure function of text, so pool
    documents that read like the target outrank off-profile ones).
    The discriminative sibling of quality_dsir_weights — the
    "quality classifier" stage of LLaMA/RedPajama-era pipelines,
    trained in-engine instead of by an external fastText binary.

    Scale shape: the per-doc feature frame (≤ LR_BUCKETS rows/doc) is
    computed once and localCheckpointed — the only corpus-scale
    aggregates. Each GD step is: broadcast-join the ≤ LR_BUCKETS-row
    weight table onto the feature frame, one (doc) partial agg for z,
    one (bucket) partial agg for the gradient — weight state is
    parameter-bounded forever, and the per-round localCheckpoint keeps
    lineage O(1) like dedup_cluster_cc. Final cut is
    TakeOrderedAndProject. Exactness: round-8 terms, DECIMAL(38,10)
    sums, round-8 sigmoid (absorbing the measured 1-ulp Math.exp vs
    libm divergence), IEEE-exact float mul/div elsewhere."""
    out = lr_train_score(spark, sf_dir).select(
        "doc_id",
        "source",
        F.col("y").cast("bigint").alias("label"),
        F.col("p").alias("score"),
    )
    return out.orderBy(F.desc("score"), "doc_id").limit(LR_TOPK)


def lr_train_score(spark, sf_dir):
    """Train the LR quality model (LR_ITERS full-batch GD rounds, w0=0)
    and score EVERY featured document: returns (doc_id, source, y, z, p).
    Float/sigmoid formulation — exact for quality_classifier_lr's top-k
    cut; see _lr_scored_ctes for why full-corpus score equality needs
    the fixed-point trainer below instead."""
    d = load_table(spark, sf_dir, "documents")
    feat = _bigram_frame(d).select(
        "doc_id",
        "source",
        F.pmod(
            F.expr(
                "cast(conv(substring(md5(concat(w1, ' ', w2)), 1, 12), "
                "16, 10) AS bigint)"
            ),
            F.lit(LR_BUCKETS),
        ).alias("bucket"),
    )
    dfc = (
        feat.groupBy("doc_id", "source", "bucket")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    docn = (
        dfc.groupBy("doc_id", "source")
        .agg(F.sum("c").alias("n"))
        .select(
            "doc_id",
            "source",
            "n",
            F.when(F.col("source").isin(*LR_TARGET), F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("y"),
        )
        .localCheckpoint()
    )
    dfcx = (
        dfc.join(docn.select("doc_id", "n"), "doc_id")
        .select(
            "doc_id",
            "bucket",
            (F.col("c").cast("double") / F.col("n")).alias("x"),
        )
        .localCheckpoint()
    )
    nd = float(docn.count())
    w = dfc.select("bucket").distinct().select(
        "bucket", F.lit(0.0).alias("w")
    )
    b = spark.range(1).select(F.lit(0.0).alias("b"))
    gterm = F.round((F.col("p") - F.col("y")) * F.col("x"), 8).cast(
        "decimal(38,10)"
    )
    bterm = F.round(F.col("p") - F.col("y"), 8).cast("decimal(38,10)")
    for _ in range(LR_ITERS):
        # one materialization per round: p feeds BOTH the per-bucket
        # gradient join and the bias aggregate — left lazy, the whole
        # dot-product scoring subtree re-executes once per consumer
        p = _lr_score(docn, dfcx, w, b).localCheckpoint()
        g = (
            dfcx.join(p.select("doc_id", "p", "y"), "doc_id")
            .groupBy("bucket")
            .agg(
                F.round(F.sum(gterm).cast("double") / nd, 8).alias("grad")
            )
        )
        w = (
            w.join(g, "bucket")
            .select(
                "bucket",
                F.round(
                    F.col("w") - F.lit(LR_ETA) * F.col("grad"), 8
                ).alias("w"),
            )
            .localCheckpoint()
        )
        gb = p.agg(
            F.round(F.sum(bterm).cast("double") / nd, 8).alias("grad")
        )
        b = (
            b.crossJoin(gb)
            .select(
                F.round(
                    F.col("b") - F.lit(LR_ETA) * F.col("grad"), 8
                ).alias("b")
            )
            .localCheckpoint()
        )
    return _lr_score(docn, dfcx, w, b)


# ---------------------------------------------------------------------------
# model-scored curation: train the filter, then filter (fixed-point GD)
# ---------------------------------------------------------------------------
# Why fixed point: the float LR trainer (above) cannot give
# full-corpus per-document score equality across engines — Math.exp vs
# libm is 1-ulp divergent, and double-space round(x, 8) disagrees between
# Spark (exact BigDecimal) and DuckDB (scaled multiply) precisely on the
# exact-8-dp boundary products that x = c/n features with power-of-2 n
# produce constantly (measured: 13-19/500 logits off by 1e-8, stable
# across reformulations). This trainer removes floats from the loop
# entirely: every quantity is an integer count of 1e-8 units (bigint /
# DECIMAL(38,0) on Spark, BIGINT / HUGEINT on DuckDB), every division is
# an explicit round-half-away-from-zero integer formula
#   rha(a, b) = sign(a) * ((2*|a| + b) DIV (2*b))
# (floor-div == truncating-div on the positive operands it is applied
# to), and the link is the rational fast sigmoid p = (N*U) / D with
# N = (U+|z|)+z, D = 2*(U+|z|) (Elliott 1993 — same monotone S-shape,
# range (0,1), p(0)=0.5, no transcendental). Identical integers in, the
# same integers out, on ANY engine at ANY scale — determinism by
# construction, not by fixture luck. The float sigmoid twin remains
# quality_classifier_lr (its top-k output is robust to ulp noise).

FX_U = 100_000_000  # 1.0 in fixed-point units (8 decimal places)


def _rha_spark(a: str, b: str) -> str:
    """Spark SQL round-half-away-from-zero of a/b (b > 0), integer-exact.
    DIV truncates toward zero == floor on the positive operands used."""
    return (
        f"(CASE WHEN ({a}) >= 0 THEN (2*({a}) + ({b})) DIV (2*({b})) "
        f"ELSE -((-2*({a}) + ({b})) DIV (2*({b}))) END)"
    )


def _rha_duck(a: str, b: str) -> str:
    """DuckDB twin of _rha_spark; operands must already be HUGEINT
    (DuckDB's // on DECIMAL degrades to float division — HUGEINT // is
    the exact integer path)."""
    return (
        f"(CASE WHEN ({a}) >= 0 THEN (2*({a}) + ({b})) // (2*({b})) "
        f"ELSE -((-2*({a}) + ({b})) // (2*({b}))) END)"
    )


def _fx_p8_duck(z8: str) -> str:
    """p8 = rha(N*U / D) with N=(U+|z|)+z >= 0, D=2*(U+|z|) — positive
    operands, so the plain (2*N*U + D) // (2*D) floor formula IS rha."""
    return (
        f"(2*(({FX_U} + abs({z8})) + {z8})*{FX_U} + 2*({FX_U} + abs({z8})))"
        f" // (2*(2*({FX_U} + abs({z8}))))"
    )


def _fx_oracle_ctes() -> str:
    """The fixed-point train-and-score chain for DuckDB, ending in a
    ``scored`` CTE: (doc_id, source, y, p8, score). Structure mirrors
    the float chain in _lr_scored_ctes; arithmetic is
    HUGEINT throughout."""
    rounds = []
    for r in range(1, LR_ITERS + 1):
        p = r - 1
        z16 = f"CAST(b.b8 AS HUGEINT)*{FX_U} + COALESCE(s.t16, CAST(0 AS HUGEINT))"
        rounds.append(f"""
    zr{r} AS MATERIALIZED (
      SELECT d.doc_id, d.y, {_rha_duck(z16, f'CAST({FX_U} AS HUGEINT)')} AS z8
      FROM docn d
      CROSS JOIN b{p} b
      LEFT JOIN (
        SELECT x.doc_id, SUM(CAST(w.w8 AS HUGEINT) * x.x8) AS t16
        FROM dfx x JOIN w{p} w USING (bucket)
        GROUP BY x.doc_id
      ) s ON s.doc_id = d.doc_id
    ),
    pr{r} AS MATERIALIZED (
      SELECT doc_id, y, {_fx_p8_duck('z8')} AS p8 FROM zr{r}
    ),
    g{r} AS MATERIALIZED (
      SELECT x.bucket, SUM((p.p8 - p.y*{FX_U}) * x.x8) AS S
      FROM dfx x JOIN pr{r} p USING (doc_id)
      GROUP BY x.bucket
    ),
    w{r} AS MATERIALIZED (
      SELECT w.bucket,
             w.w8 - {_rha_duck('g.S', f'CAST(nd AS HUGEINT)*{FX_U}')} AS w8
      FROM w{p} w JOIN g{r} g USING (bucket) CROSS JOIN ndocs
    ),
    b{r} AS MATERIALIZED (
      SELECT b.b8 - {_rha_duck('gb.S', 'CAST(nd AS HUGEINT)')} AS b8
      FROM b{p} b
      CROSS JOIN (SELECT SUM(p8 - y*{FX_U}) AS S FROM pr{r}) gb
      CROSS JOIN ndocs
    )""")
    n = LR_ITERS
    zf16 = f"CAST(b.b8 AS HUGEINT)*{FX_U} + COALESCE(s.t16, CAST(0 AS HUGEINT))"
    return f"""{_DUCK_BG},
    feat AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(w1 || ' ' || w2), 1, 12))::BIGINT
               % {LR_BUCKETS} AS bucket
      FROM bg
    ),
    dfc AS MATERIALIZED (
      SELECT doc_id, source, bucket, count(*) AS c
      FROM feat GROUP BY doc_id, source, bucket
    ),
    docn AS MATERIALIZED (
      SELECT doc_id, source, SUM(c) AS n,
             CASE WHEN source IN {_LR_TGT_SQL}
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
      FROM dfc GROUP BY doc_id, source
    ),
    dfx AS MATERIALIZED (
      SELECT f.doc_id, f.bucket,
             CAST((2*f.c*{FX_U} + d.n) // (2*d.n) AS HUGEINT) AS x8
      FROM dfc f JOIN docn d USING (doc_id)
    ),
    ndocs AS (SELECT COUNT(*) AS nd FROM docn),
    w0 AS (SELECT DISTINCT bucket, CAST(0 AS HUGEINT) AS w8 FROM dfc),
    b0 AS (SELECT CAST(0 AS HUGEINT) AS b8),
    {",".join(rounds)},
    zf AS MATERIALIZED (
      SELECT d.doc_id, d.source, d.y,
             {_rha_duck(zf16, f'CAST({FX_U} AS HUGEINT)')} AS z8
      FROM docn d
      CROSS JOIN b{n} b
      LEFT JOIN (
        SELECT x.doc_id, SUM(CAST(w.w8 AS HUGEINT) * x.x8) AS t16
        FROM dfx x JOIN w{n} w USING (bucket)
        GROUP BY x.doc_id
      ) s ON s.doc_id = d.doc_id
    ),
    scored AS MATERIALIZED (
      SELECT doc_id, source, y, {_fx_p8_duck('z8')} AS p8,
             CAST({_fx_p8_duck('z8')} AS DOUBLE) / {FX_U} AS score
      FROM zf
    )"""


def _fx_features(spark, sf_dir):
    """(docn, dfx, buckets, nd) over the documents table — see
    fx_features_of."""
    docn, dfx, buckets = fx_features_of(load_table(spark, sf_dir, "documents"))
    return docn, dfx, buckets, docn.count()


def fx_features_of(d):
    """(docn, dfx, buckets): the fixed-point feature frames for ANY
    (doc_id, source, text) frame — per-doc labels and the integer
    x8 = rha(c*U/n) relative-frequency features, checkpointed once
    (at 100 TB: a persisted feature table). Every feature is a pure
    per-document function, so scores computed batch-by-batch (the
    streaming scored gate) are bit-identical to corpus-wide scoring."""
    feat = _bigram_frame(d).select(
        "doc_id",
        "source",
        F.pmod(
            F.expr(
                "cast(conv(substring(md5(concat(w1, ' ', w2)), 1, 12), "
                "16, 10) AS bigint)"
            ),
            F.lit(LR_BUCKETS),
        ).alias("bucket"),
    )
    dfc = (
        feat.groupBy("doc_id", "source", "bucket")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    docn = (
        dfc.groupBy("doc_id", "source")
        .agg(F.sum("c").alias("n"))
        .select(
            "doc_id",
            "source",
            "n",
            F.when(F.col("source").isin(*LR_TARGET), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("y"),
        )
        .localCheckpoint()
    )
    dfx = (
        dfc.join(docn.select("doc_id", "n"), "doc_id")
        .selectExpr(
            "doc_id",
            "bucket",
            f"CAST((2*c*{FX_U} + n) DIV (2*n) AS DECIMAL(38,0)) AS x8",
        )
        .localCheckpoint()
    )
    buckets = dfc.select("bucket").distinct().localCheckpoint()
    return docn, dfx, buckets


def _fx_score(docn, dfx, w, b):
    """(doc_id, source, y, p8, score) under weight frame ``w``
    (bucket, w8 DECIMAL(38,0)) + 1-row bias ``b`` (b8): the integer
    dot-product sum, rha logit, and rational-link probability."""
    t = (
        dfx.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w8") * F.col("x8")).alias("t16"))
    )
    z = (
        docn.crossJoin(F.broadcast(b))
        .join(t, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "source",
            "y",
            f"b8*{FX_U} + COALESCE(t16, CAST(0 AS DECIMAL(38,0))) AS z16",
        )
        .selectExpr(
            "doc_id",
            "source",
            "y",
            _rha_spark("z16", str(FX_U)) + " AS z8",
        )
    )
    p8 = (
        f"(2*CAST(({FX_U} + abs(z8)) + z8 AS DECIMAL(38,0))*{FX_U}"
        f" + 2*({FX_U} + abs(z8)))"
        f" DIV (2*CAST(2*({FX_U} + abs(z8)) AS DECIMAL(38,0)))"
    )
    return z.selectExpr(
        "doc_id",
        "source",
        "y",
        p8 + " AS p8",
    ).selectExpr(
        "doc_id",
        "source",
        "y",
        "p8",
        f"CAST(p8 AS DOUBLE) / {FX_U} AS score",
    )


def fx_train(spark, sf_dir):
    """Run the LR_ITERS fixed-point GD rounds; returns the trained
    (w, b) frames plus the feature frames they were trained on. The
    train-once seam: save_fx_model persists (w, b); fx_score_from
    reloads them and scores without re-training."""
    docn, dfx, buckets, nd = _fx_features(spark, sf_dir)
    w = buckets.selectExpr("bucket", "CAST(0 AS DECIMAL(38,0)) AS w8")
    b = docn.sparkSession.range(1).selectExpr(
        "CAST(0 AS DECIMAL(38,0)) AS b8"
    )
    for _ in range(LR_ITERS):
        # one materialization per round: p feeds BOTH the per-bucket
        # gradient join and the bias aggregate — left lazy, the whole
        # dot-product scoring subtree re-executes once per consumer
        p = _fx_score(docn, dfx, w, b).localCheckpoint()
        g = (
            dfx.join(p.select("doc_id", "p8", "y"), "doc_id")
            .groupBy("bucket")
            .agg(
                F.sum(
                    F.expr(f"CAST(p8 - y*{FX_U} AS DECIMAL(38,0)) * x8")
                ).alias("S")
            )
        )
        w = (
            w.join(g, "bucket")
            .selectExpr(
                "bucket",
                "CAST(w8 - "
                + _rha_spark("S", f"CAST({nd} AS DECIMAL(38,0))*{FX_U}")
                + " AS DECIMAL(38,0)) AS w8",
            )
            .localCheckpoint()
        )
        sb = p.agg(
            F.sum(F.expr(f"CAST(p8 - y*{FX_U} AS DECIMAL(38,0))")).alias("S")
        )
        b = (
            b.crossJoin(sb)
            .selectExpr(
                "CAST(b8 - "
                + _rha_spark("S", str(nd))
                + " AS DECIMAL(38,0)) AS b8"
            )
            .localCheckpoint()
        )
    return w, b, docn, dfx


def fx_train_score(spark, sf_dir):
    """Fixed-point LR training over hashed-bigram features, returning
    (doc_id, source, y, p8, score) for every featured document. Same
    feature hashing, target labels, and round/iteration structure as
    quality_classifier_lr — only the number system differs (see the
    fixed-point note above). State per round: the <= LR_BUCKETS-row
    weight table + a 1-row bias, both broadcast; the feature frame is
    computed once and checkpointed; the only scalar pulled to the
    driver is the document count."""
    w, b, docn, dfx = fx_train(spark, sf_dir)
    return _fx_score(docn, dfx, w, b)


def _scored_curation_oracle() -> str:
    # CTE namespace note: _fx_oracle_ctes defines ws (doc_id, source, w)
    # and bg (aligned bigram pairs) via _DUCK_BG — the curation stages
    # below reuse both, so the model's features and the repetition rule
    # provably read the same tokens. _IVF_ASSIGN_DUCK's CTE names
    # (n, cents, assign) are disjoint from the training chain's.
    return f"""
    WITH {_fx_oracle_ctes()},
    med AS (SELECT quantile_cont(p8, 0.5) AS m FROM scored),
    bgc AS (
      SELECT doc_id, w1 || ' ' || w2 AS b2, count(*) AS c
      FROM bg GROUP BY doc_id, b2
    ),
    repf AS (
      SELECT doc_id, max(c)::DOUBLE / sum(c) > {REP_FLAG} AS is_rep
      FROM bgc GROUP BY doc_id
    ),
    base AS (
      SELECT s.doc_id, s.source, s.score,
             CAST(s.p8 AS DOUBLE) >= m.m AS pass_model,
             COALESCE(r.is_rep, FALSE) AS flag_rep
      FROM scored s CROSS JOIN med m
      LEFT JOIN repf r ON r.doc_id = s.doc_id
    ),
    fpin AS (
      SELECT b.doc_id,
             md5(array_to_string(w.w[1:{HEAD_WORDS}], ' ')) AS fingerprint,
             CAST(substr(b.source, 4) AS INT) AS prio
      FROM base b JOIN ws w USING (doc_id)
      WHERE b.pass_model AND NOT b.flag_rep
    ),
    fpk AS (
      SELECT doc_id,
             row_number() OVER (
               PARTITION BY fingerprint ORDER BY prio, doc_id
             ) = 1 AS kept_fp
      FROM fpin
    ),
    {_IVF_ASSIGN_DUCK},
    svec AS (
      SELECT f.doc_id, a.ne, a.cent_id
      FROM fpk f JOIN assign a ON a.vec_id = f.doc_id
      WHERE f.kept_fp
    ),
    semdrop AS (
      SELECT DISTINCT y.doc_id
      FROM svec x JOIN svec y
        ON x.cent_id = y.cent_id AND x.doc_id < y.doc_id
      WHERE list_dot_product(x.ne, y.ne) >= {CELL_THRESHOLD}
    )
    SELECT b.doc_id, b.source, b.score, b.pass_model, b.flag_rep,
           COALESCE(f.kept_fp, FALSE) AS kept_fp,
           COALESCE(f.kept_fp, FALSE)
             AND b.doc_id NOT IN (SELECT doc_id FROM semdrop) AS kept
    FROM base b LEFT JOIN fpk f USING (doc_id)
    """


@query(
    "curate_corpus_scored",
    oracle=_scored_curation_oracle(),
    tags=("pipeline", "quality", "ml", "composition"),
)
def curate_corpus_scored(spark, sf_dir):
    """The train-the-filter-then-filter lifecycle (CCNet/LLaMA-style):
    train the in-engine quality classifier, gate the curation chain on
    its scores, and emit a per-document STAGE AUDIT — one row per
    scoreable document with every stage's verdict, the shape the Gopher
    stage (text_gopher_rules) uses for explainable filtering:

      pass_model  model score >= the corpus median score ("keep the
                  more target-like half" — rank semantics without a
                  global window: Spark percentile == DuckDB
                  quantile_cont, the agg_percentiles-proven pair, on
                  INTEGER fixed-point scores so the interpolated median
                  is exact in both engines; broadcast as a 1-row scalar)
      flag_rep    top-bigram fraction > REP_FLAG (the curate_corpus
                  repetition rule, over the SAME bigram frame the model
                  features come from)
      kept_fp     survived cross-source head-fingerprint dedup among
                  model+repetition survivors (priority: lowest source
                  number, doc_id tiebreak)
      kept        kept_fp AND survived cell-blocked SemDeDup (docs
                  without an embedding row pass through, as in
                  curate_corpus)

    The model is the FIXED-POINT GD trainer (fx_train_score): integer
    1e-8 units end to end, rational Elliott link, explicit
    round-half-away divisions — per-document scores are bit-identical
    across engines by construction (the float/sigmoid twin,
    quality_classifier_lr, is 1e-8-divergent on ~4% of docs and only
    safe for top-k cuts; see the fixed-point note above).

    Scale shape: identical stage plans to curate_corpus plus the
    trainer (parameter-bounded state: <= LR_BUCKETS-row weights + 1-row
    bias per round, broadcast; feature frame checkpointed once); the
    median is one scalar aggregate broadcast back (the blessed bounded
    crossJoin), never a global sort/window; every stage join is keyed
    (doc_id, fingerprint, cent_id) with bounded skew. Universe note:
    rows = documents with >= 1 bigram (unscoreable docs cannot pass a
    model gate; every fixture doc qualifies)."""
    scored = fx_train_score(spark, sf_dir).localCheckpoint()
    return _scored_curation_plan(
        spark, sf_dir, scored, cell_assignments(spark, sf_dir)
    )


def _scored_curation_plan(spark, sf_dir, scored, assign):
    """The scored-curation stage chain, parameterized by the scored
    frame (cold: fx_train_score; warm: fx_score_from a persisted model)
    and the embedding cell assignment (cold: cell_assignments; warm:
    the persisted IVF index postings) — both serve hash-identical
    results by construction, so curate_corpus_scored and
    curate_corpus_scored_indexed share one oracle."""
    med = scored.agg(F.expr("percentile(p8, 0.5)").alias("m"))
    d = load_table(spark, sf_dir, "documents")
    bgc = (
        d.select("doc_id", F.explode(F.expr(_BIGRAMS)).alias("b2"))
        .groupBy("doc_id", "b2")
        .agg(F.count("*").alias("c"))
    )
    repf = bgc.groupBy("doc_id").agg(
        ((F.max("c") / F.sum("c")) > REP_FLAG).alias("is_rep")
    )
    base = (
        scored.crossJoin(F.broadcast(med))
        .join(repf, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "score",
            (F.col("p8").cast("double") >= F.col("m")).alias("pass_model"),
            F.coalesce("is_rep", F.lit(False)).alias("flag_rep"),
        )
        .localCheckpoint()
    )
    meta = d.select(
        "doc_id",
        F.md5(
            F.expr(f"array_join(slice({_TOKS}, 1, {HEAD_WORDS}), ' ')")
        ).alias("fingerprint"),
    )
    fpin = (
        base.filter(F.col("pass_model") & ~F.col("flag_rep"))
        .select(
            "doc_id",
            F.expr("CAST(substring(source, 4, 10) AS int)").alias("prio"),
        )
        .join(meta, "doc_id")
    )
    wdup = W.partitionBy("fingerprint").orderBy("prio", "doc_id")
    fpk = fpin.select(
        "doc_id", (F.row_number().over(wdup) == 1).alias("kept_fp")
    )
    svec = (
        fpk.filter("kept_fp")
        .select(F.col("doc_id").alias("vec_id"))
        .join(assign, "vec_id")
    )
    # within-cell pair scan as the vectorized per-cell NumPy kernel —
    # same swap as dedup_embedding_cell (vecmath.cell_pairs_blocked):
    # bit-identical cos doubles, so the >= comparison keeps the same set
    from doc2dataset_spark.functions.vecmath import cell_pairs_blocked

    semdrop = (
        cell_pairs_blocked(svec, CELL_THRESHOLD)
        .select(F.col("vb").alias("doc_id"))
        .distinct()
        .withColumn("semdropped", F.lit(True))
    )
    return (
        base.join(fpk, "doc_id", "left")
        .join(semdrop, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "score",
            "pass_model",
            "flag_rep",
            F.coalesce("kept_fp", F.lit(False)).alias("kept_fp"),
            (
                F.coalesce("kept_fp", F.lit(False))
                & F.col("semdropped").isNull()
            ).alias("kept"),
        )
    )

# ---------------------------------------------------------------------------
# warm serving paths: persisted model + persisted indexes
# ---------------------------------------------------------------------------
def save_fx_model(spark, sf_dir, model_dir: str) -> None:
    """Train once, persist the model: the <= LR_BUCKETS-row fixed-point
    weight table and the 1-row bias, as plain parquet. DECIMAL(38,0)
    round-trips parquet exactly, and the trainer is deterministic, so a
    reloaded model scores bit-identically to a fresh training run."""
    import posixpath

    w, b, docn, dfx = fx_train(spark, sf_dir)
    # calibrate the serving threshold ON THE TRAINING CORPUS (the
    # median-score gate curate_corpus_scored applies) and freeze it with
    # the model: at ingest time there is no "corpus median" — the
    # threshold is a model parameter, chosen at training time, exactly
    # like a production quality filter ships its cutoff
    thr = _fx_score(docn, dfx, w, b).agg(
        F.expr("percentile(p8, 0.5)").alias("thr")
    )
    w.write.mode("overwrite").parquet(posixpath.join(model_dir, "weights"))
    b.write.mode("overwrite").parquet(posixpath.join(model_dir, "bias"))
    thr.write.mode("overwrite").parquet(
        posixpath.join(model_dir, "threshold")
    )


def fx_score_from(spark, sf_dir, model_dir: str):
    """Score the corpus under a persisted fixed-point model — the
    train-once-score-many production path (training is the expensive
    corpus-wide iteration; scoring is one broadcast join + one
    aggregate pass)."""
    import posixpath

    w = spark.read.parquet(posixpath.join(model_dir, "weights"))
    b = spark.read.parquet(posixpath.join(model_dir, "bias"))
    docn, dfx, _, _ = _fx_features(spark, sf_dir)
    return _fx_score(docn, dfx, w, b)


@query(
    "curate_corpus_scored_indexed",
    oracle=REGISTRY["curate_corpus_scored"].oracle,
    tags=("pipeline", "quality", "ml", "composition", "index"),
)
def curate_corpus_scored_indexed(spark, sf_dir):
    """curate_corpus_scored on the WARM path: the quality model is
    trained once and persisted (save_fx_model — deterministic
    fixed-point weights, exact parquet round-trip), and the SemDeDup
    stage reads the persisted IVF index postings instead of
    re-quantizing the corpus (the curate_corpus_indexed discipline).
    Identical oracle: both artifacts serve bit-identical frames by
    construction, locked by the shared _scored_curation_plan. This is
    the lifecycle a production pipeline actually runs — train the
    filter at corpus build time, apply it to every batch thereafter."""
    from doc2dataset_spark.fsio import artifact_cache_dir, ensure_local_cache_dir
    from doc2dataset_spark.operators.index_maintenance import postings_path
    from doc2dataset_spark.operators.vector_index import build_ivf_index

    ividx = ensure_local_cache_dir(
        artifact_cache_dir(sf_dir, "ivf", "embeddings"),
        "centroids",
        lambda tmp: build_ivf_index(spark, sf_dir, tmp),
    )
    midx = ensure_local_cache_dir(
        artifact_cache_dir(sf_dir, "fxlr", "documents"),
        "weights",
        lambda tmp: save_fx_model(spark, sf_dir, tmp),
    )
    scored = fx_score_from(spark, sf_dir, midx).localCheckpoint()
    assign = spark.read.parquet(postings_path(ividx)).select(
        "vec_id", "ne", "cent_id"
    )
    return _scored_curation_plan(spark, sf_dir, scored, assign)
