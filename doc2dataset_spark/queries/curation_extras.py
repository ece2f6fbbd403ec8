"""Corpus-curation extras (round 5b), registered AFTER the frozen driver
gate and oracle-checked locally like everything else.

The batch covers the remaining table-stakes operations of a training-data
pipeline that had no first-class query yet:

- ``split_train_val_test``   deterministic hash split (80/10/10) — the
                             reproducible train/val/test assignment every
                             corpus release needs.
- ``sample_cap_per_key``     per-source document cap (the per-domain cap
                             CommonCrawl-scale pipelines apply so one host
                             cannot dominate the corpus).
- ``text_heavy_hitters``     frequent tokens via per-partition Misra-Gries
                             summaries + exact candidate verification —
                             the heavy-hitter pattern that never shuffles
                             the full token multiset.
- ``text_char_entropy``      per-document character-level Shannon entropy
                             (low entropy = boilerplate/repetition, high =
                             binary soup; a standard cheap quality signal).
- ``chunk_sliding_windows``  overlapping token-window chunking — the
                             context-window preparation step between
                             curation and tokenization.
- ``pii_scrub``              regex PII redaction (emails, phone numbers)
                             with per-document match counts. The corpus
                             has no natural PII, so the query first
                             *injects* a deterministic contact string into
                             2/3 of the documents — the redaction path is
                             then exercised for real on both engines.
- ``knn_graph_topk``         exact k-NN graph over ALL embeddings via the
                             tile-partitioned pair join + hierarchical
                             (per-tile, then global) top-k — no full-pair
                             re-shuffle after the tile join.
- ``ann_recall_eval``        recall@k of the IVF ANN against that exact
                             graph, per query — ANN quality measurement as
                             a first-class, oracle-checked query.

Reference scope note: the reference pipeline (doc2dataset) stops at
extraction/filtering; these operators are the north-star additions the
task brief lists (dedup/similarity/quality at 100 TB), built on the same
tables and oracle discipline as the rest of the registry.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from doc2dataset_spark.queries.core import REGISTRY, query
from doc2dataset_spark.queries.dedup import (
    N_EMB_BLOCKS,
    NORM_EMB_DUCK,
    normalized_embeddings,
    spark_dot,
)
from doc2dataset_spark.queries.scale import IVF_TOP_K, N_CENTROIDS
from doc2dataset_spark.queries.scale import sim_ann_ivf as _sim_ann_ivf
from doc2dataset_spark.queries.textops import _DTOKS, _TOKS
from doc2dataset_spark.session import load_table

# ---------------------------------------------------------------------------
# deterministic hash split
# ---------------------------------------------------------------------------

# md5-derived bucket in [0, 100): the same idiom sample_deterministic uses —
# first 48 bits of md5(key) are uniform and identical on both engines.
_BUCKET_SPARK = (
    "cast(conv(substring(md5(cast(doc_id AS string)), 1, 12), 16, 10)"
    " AS bigint) % 100"
)
_BUCKET_DUCK = "('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT % 100"

TRAIN_PCT, VAL_PCT = 80, 10  # remainder = test


@query(
    "split_train_val_test",
    oracle=f"""
    SELECT doc_id,
           ({_BUCKET_DUCK}) AS bucket,
           CASE WHEN ({_BUCKET_DUCK}) < {TRAIN_PCT} THEN 'train'
                WHEN ({_BUCKET_DUCK}) < {TRAIN_PCT + VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    tags=("curation", "documents", "sampling"),
)
def split_train_val_test(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment from a hash of the
    stable document key — rerunning on a grown corpus never moves an old
    document between splits (the property random splits lack). Map-side
    only: no shuffle, no RNG, no state; at 100 TB this is a free column.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_BUCKET_SPARK)
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# per-key cap
# ---------------------------------------------------------------------------
CAP_PER_SOURCE = 30


@query(
    "sample_cap_per_key",
    oracle=f"""
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(doc_id::VARCHAR), doc_id
             )::INT AS rk
      FROM documents
    ) WHERE rk <= {CAP_PER_SOURCE}
    """,
    tags=("curation", "documents", "sampling"),
)
def sample_cap_per_key(spark, sf_dir):
    """Cap documents per source at {CAP}: rank within each source by a
    hash of the document key (a deterministic uniform shuffle, so the
    kept subset is an unbiased sample, not 'first 30 by id') and keep the
    top {CAP}. The per-domain cap every web-scale corpus applies so a
    single host cannot dominate training data.

    Scale shape: one hash-partitioned window keyed by source; per-group
    state is a counter. Severely hot keys would call for the salted
    two-phase variant (agg_salted_two_phase shows the pattern).
    """
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= CAP_PER_SOURCE)
    )


# ---------------------------------------------------------------------------
# heavy hitters: Misra-Gries candidates + exact verification
# ---------------------------------------------------------------------------
MG_CAPACITY = 128  # per-partition summary size; must exceed SUPPORT_DEN
SUPPORT_DEN = 100  # heavy := freq * 100 >= total tokens (1% support)


def _mg_partition(batches):
    """Per-partition Misra-Gries summary over the token stream.

    Emits the partition's surviving candidate tokens (token, NULL) plus
    one summary row (NULL, n_tokens_in_partition). Guarantee: MG with
    capacity k keeps any item with local frequency > n_p/(k+1); a token
    with global support ≥ 1/SUPPORT_DEN has local support ≥ 1/SUPPORT_DEN
    in at least one partition (weighted pigeonhole), and 1/100 > 1/129,
    so with CAPACITY=128 > SUPPORT_DEN the candidate set is a superset of
    every ≥1%-support token."""
    import pandas as pd

    counters: dict[str, int] = {}
    n = 0
    for pdf in batches:
        for tok in pdf["token"]:
            n += 1
            if tok in counters:
                counters[tok] += 1
            elif len(counters) < MG_CAPACITY:
                counters[tok] = 1
            else:
                counters = {t: c - 1 for t, c in counters.items() if c > 1}
    yield pd.DataFrame(
        {
            "token": list(counters) + [None],
            "pcount": [None] * len(counters) + [n],
        }
    )


@query(
    "text_heavy_hitters",
    oracle=f"""
    WITH t AS (SELECT unnest({_DTOKS}) AS token FROM documents),
    tot AS (SELECT count(*) AS total FROM t)
    SELECT token, count(*)::BIGINT AS n
    FROM t, tot
    GROUP BY token, tot.total
    HAVING count(*) * {SUPPORT_DEN} >= tot.total
    """,
    tags=("curation", "text", "sketch"),
)
def text_heavy_hitters(spark, sf_dir):
    """Tokens with ≥1% corpus support, computed the way a 100 TB corpus
    must: per-partition Misra-Gries summaries (bounded MG_CAPACITY=64
    entries each, one Python pass) produce a small candidate set, and only
    rows matching a candidate are exactly counted. The full token multiset
    is never shuffled — the exact groupBy runs on the candidate-filtered
    stream, and the corpus total comes from per-partition counts emitted
    by the same MG pass (map-side sum, no second tokenize).

    Soundness: a token with global frequency ≥ N/100 has local frequency
    > n_p/64 in at least one partition (else total < N/64 ≤ N/100 would
    fail — pigeonhole over partitions with 64 > 100·(N_p/N) slack), so the
    candidate set is a superset of the answer; the exact count then makes
    the result identical to the naive full aggregation the oracle runs."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.expr(_TOKS)).alias("token"))
    summary = tok.mapInPandas(_mg_partition, "token string, pcount long")
    cands = summary.filter(F.col("token").isNotNull()).select("token").distinct()
    total = summary.filter(F.col("token").isNull()).agg(
        F.sum("pcount").alias("total")
    )
    return (
        tok.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") * SUPPORT_DEN >= F.col("total"))
        .select("token", "n")
    )


# ---------------------------------------------------------------------------
# character-level Shannon entropy
# ---------------------------------------------------------------------------
_CHARS_SPARK = "regexp_extract_all(lower(text), '.', 0)"
_CHARS_DUCK = "regexp_extract_all(lower(text), '.')"


@query(
    "text_char_entropy",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             len({_CHARS_DUCK}) AS n,
             unnest({_CHARS_DUCK}) AS ch
      FROM documents
    ),
    g AS (
      SELECT doc_id, n, ch, count(*) AS cnt FROM c GROUP BY doc_id, n, ch
    )
    SELECT doc_id,
           n AS n_chars,
           round(-(SUM(round((cnt::DOUBLE / n) * ln(cnt::DOUBLE / n),
                            12)::DECIMAL(38,18)))::DOUBLE, 4) AS entropy
    FROM g GROUP BY doc_id, n
    """,
    tags=("curation", "text", "quality"),
)
def text_char_entropy(spark, sf_dir):
    """Per-document character-distribution Shannon entropy (nats): low
    values flag repetition/boilerplate, implausibly high values flag
    non-text payloads — the cheap statistical quality gate next to
    text_quality_score's rule-based one.

    Determinism: each -p·ln p term is rounded to 12 dp and accumulated as
    exact DECIMAL(38,18) (the text_logprob_quality discipline), so the
    per-doc sum is order-independent and bit-identical across engines.
    Scale shape: explode → two map-side-combinable aggregations keyed by
    (doc_id, ch) then doc_id; per-doc alphabet is bounded (~dozens of
    distinct chars), so combiners collapse the explode before the
    shuffle."""
    d = load_table(spark, sf_dir, "documents")
    arr = F.expr(_CHARS_SPARK)
    c = d.select(
        "doc_id",
        F.size(arr).cast("bigint").alias("n"),
        F.explode(arr).alias("ch"),
    )
    g = c.groupBy("doc_id", "n", "ch").agg(F.count("*").alias("cnt"))
    p = F.col("cnt").cast("double") / F.col("n")
    term = F.round(p * F.log(p), 12).cast("decimal(38,18)")
    return g.groupBy("doc_id", "n").agg(
        F.round(-F.sum(term).cast("double"), 4).alias("entropy")
    ).select("doc_id", F.col("n").alias("n_chars"), "entropy")


# ---------------------------------------------------------------------------
# sliding-window chunking
# ---------------------------------------------------------------------------
CHUNK_W, CHUNK_S = 32, 24  # window size, stride (25% overlap)


@query(
    "chunk_sliding_windows",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DTOKS} AS toks, len({_DTOKS}) AS n FROM documents
    ),
    st AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, n - 1, {CHUNK_S})) AS s
      FROM t WHERE n > 0
    )
    SELECT doc_id,
           (s // {CHUNK_S})::INT AS chunk_id,
           len(list_slice(toks, s + 1, s + {CHUNK_W}))::INT AS n_toks,
           array_to_string(list_slice(toks, s + 1, s + {CHUNK_W}), ' ')
             AS chunk_text
    FROM st
    """,
    tags=("curation", "text", "chunking"),
)
def chunk_sliding_windows(spark, sf_dir):
    """Overlapping token-window chunking (W=32, stride 24): the step that
    turns curated documents into model-context-sized pieces, keeping 25%
    overlap so no boundary sentence is lost. Emits (doc_id, chunk_id,
    n_toks, chunk_text); the trailing partial chunk is kept.

    Scale shape: per-row explode of a start-offset sequence — narrow,
    no shuffle at all; chunk count per doc is n/stride so output size is
    predictable (≈ 1.33× input tokens at this overlap)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.expr(_TOKS).alias("toks")).withColumn(
        "n", F.size("toks")
    ).filter(F.col("n") > 0)
    t = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_S))
        ).alias("s"),
    )
    chunk = F.slice(F.col("toks"), F.col("s") + 1, F.lit(CHUNK_W))
    return t.select(
        "doc_id",
        (F.col("s") / CHUNK_S).cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_toks"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\b555-[0-9]{4}\b"


@query(
    "pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 <> 0
                  THEN text || ' contact user' || doc_id::VARCHAR
                       || '@example.com or 555-'
                       || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                  ELSE text END AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '{_EMAIL_RE}'))::INT AS n_emails,
           len(regexp_extract_all(t, '{_PHONE_RE}'))::INT AS n_phones,
           regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS clean_text
    FROM aug
    """,
    tags=("curation", "text", "pii"),
)
def pii_scrub(spark, sf_dir):
    """Regex PII redaction: emails and (toy North-American test-prefix)
    phone numbers are counted, then replaced with typed placeholder
    tokens. The synthetic corpus contains no natural PII, so the query
    deterministically injects a contact string into documents with
    doc_id % 3 != 0 first — both engines then exercise the real match +
    replace path, and the 1/3 of untouched documents pin the no-op branch.

    Patterns are RE2-and-Java-compatible (no lookaround), so the same
    strings run JVM-side in Spark (whole-stage codegen, no UDF) and in
    DuckDB. Scale shape: map-side only."""
    d = load_table(spark, sf_dir, "documents")
    aug = F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    t = d.select("doc_id", aug.alias("t"))
    return t.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("t"), F.lit(_EMAIL_RE), F.lit(0))
        ).alias("n_emails"),
        F.size(
            F.regexp_extract_all(F.col("t"), F.lit(_PHONE_RE), F.lit(0))
        ).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# exact k-NN graph via tiled pair join + hierarchical top-k
# ---------------------------------------------------------------------------
KNN_K = IVF_TOP_K  # 3 — shared with the ANN so recall@k compares like-for-like

_KNN_DUCK = f"""
  SELECT qid, cid, cos FROM (
    SELECT q.vec_id AS qid, c.vec_id AS cid,
           list_dot_product(q.ne, c.ne) AS cos,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.ne, c.ne) DESC, c.vec_id
           ) AS rn
    FROM n q JOIN n c ON c.vec_id <> q.vec_id
  ) WHERE rn <= {KNN_K}
"""


def _knn_graph(spark, sf_dir):
    """Exact top-K neighbor edges for EVERY vector (the corpus-default
    instantiation of knn_edges_from)."""
    return knn_edges_from(spark, normalized_embeddings(spark, sf_dir))


def knn_edges_from(spark, n, k: int = KNN_K):
    """Exact top-k neighbor edges for EVERY vector of a (vec_id, ne)
    unit-normalized frame.

    Same tile decomposition as dedup_embedding_cosine (each task holds
    two n/B blocks, never a full side), with a hierarchical top-k: the
    per-(tile, qid) top-k runs INSIDE the vectorized tile kernel
    (functions/vecmath.topk_edges_blocked — selection order identical to
    the old row_number window's ``cos DESC, cid``, on bit-identical cos
    doubles), so the O(n²) pair stream dies inside the tile tasks and
    only ≤ k·B candidates per query enter the final per-qid window.
    Versus the prior shape (SHUFFLE_HASH pair join + interpreted HOF
    fold + explode + per-tile window sort) this also removes the 2×-pair
    window sort; measured ~37% faster at sf0.1, bit-identical output
    (OPTIMIZATION_r15.md). Parameterized on the input frame so variant
    embeddings (dimension-truncated, quantized) reuse the exact shape
    (ann_extras.embedding_mrl_recall)."""
    from doc2dataset_spark.functions.vecmath import topk_edges_blocked

    partial = topk_edges_blocked(n, k, N_EMB_BLOCKS)
    w_final = W.partitionBy("qid").orderBy(F.desc("cos"), "cid")
    return (
        partial.withColumn("rn", F.row_number().over(w_final))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


@query(
    "knn_graph_topk",
    oracle=f"""
    WITH n AS ({NORM_EMB_DUCK})
    {_KNN_DUCK}
    """,
    tags=("similarity", "embeddings", "graph"),
)
def knn_graph_topk(spark, sf_dir):
    """Exact cosine k-NN graph (k=3) over every embedding — the ground
    truth the ANN variants are measured against, and the input graph for
    semantic clustering. See _knn_graph for the tiled hierarchical top-k
    shape that keeps it distributable."""
    return _knn_graph(spark, sf_dir)


# ---------------------------------------------------------------------------
# ANN recall evaluation
# ---------------------------------------------------------------------------

# DuckDB twin of sim_ann_ivf (scale.py) — seed centroids = first 16 vectors
_IVF_DUCK = f"""
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
  ann AS (
    SELECT qid, cid FROM (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_dot_product(q.ne, c.ne) DESC, c.vec_id
             ) AS rn
      FROM assign q JOIN assign c
        ON q.cent_id = c.cent_id AND c.vec_id <> q.vec_id
    ) WHERE rn <= {IVF_TOP_K}
  )
"""


@query(
    "ann_recall_eval",
    oracle=f"""
    WITH n AS ({NORM_EMB_DUCK}),
    {_IVF_DUCK},
    truth AS ({_KNN_DUCK})
    SELECT t.qid,
           count(a.cid)::INT AS n_hits,
           round(count(a.cid) / {KNN_K}.0, 4) AS recall
    FROM truth t LEFT JOIN ann a ON a.qid = t.qid AND a.cid = t.cid
    GROUP BY t.qid
    """,
    tags=("similarity", "embeddings", "evaluation"),
)
def ann_recall_eval(spark, sf_dir):
    """Recall@3 of the IVF ANN against the exact k-NN graph, per query
    vector — ANN quality as a first-class query instead of an offline
    script, so an index change that tanks recall fails the same gate a
    correctness bug would. Both sides are deterministic (cosine ties
    broken by vec_id), so the recall values are exactly reproducible.

    Scale shape: both inputs are top-k-bounded (≤ k rows per query); the
    comparison is an equi-join on (qid, cid) + a per-qid count."""
    truth = _knn_graph(spark, sf_dir).select("qid", "cid")
    ann = _sim_ann_ivf(spark, sf_dir).select(
        "qid", F.col("cid").alias("acid")
    )
    joined = truth.join(
        ann,
        (truth["qid"] == ann["qid"]) & (truth["cid"] == ann["acid"]),
        "left",
    ).select(truth["qid"].alias("qid"), ann["acid"].alias("hit"))
    return joined.groupBy("qid").agg(
        F.count("hit").cast("int").alias("n_hits"),
        F.round(F.count("hit") / float(KNN_K), 4).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Gopher-style composite quality rules (round 6)
# ---------------------------------------------------------------------------
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 3.0  # mean word length bounds (Rae et al. 2021 §A1.1)
GOPHER_MAX_MWL = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8  # >=80% of words contain an alphabetic char
GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in")
GOPHER_MIN_STOPWORDS = 2  # distinct stopwords present


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DTOKS} AS w FROM documents
    ), m AS (
      SELECT doc_id,
             len(w)::BIGINT AS n_words,
             round(CAST(sum(strlen(x)) AS BIGINT)::DOUBLE
                   / greatest(len(w), 1), 4) AS mean_word_len,
             round(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                     ::DOUBLE / greatest(len(w), 1), 4) AS alpha_frac,
             len(list_intersect(list_distinct(w),
                 ['the','a','of','to','and','in']))::BIGINT AS n_stopwords
      FROM (SELECT doc_id, w, unnest(w) AS x FROM t)
      GROUP BY doc_id, w
    )
    SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stopwords,
           n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
             AS ok_words,
           mean_word_len BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
             AS ok_mwl,
           alpha_frac >= {GOPHER_MIN_ALPHA_FRAC} AS ok_alpha,
           n_stopwords >= {GOPHER_MIN_STOPWORDS} AS ok_stop,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
             AND (mean_word_len BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL})
             AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
             AND n_stopwords >= {GOPHER_MIN_STOPWORDS} AS keep
    FROM m
    """,
    tags=("quality", "documents", "pipeline"),
)
def text_gopher_rules(spark, sf_dir):
    """Composite Gopher-style document-quality rules (Rae et al. 2021
    §A1.1, the public DeepMind filter family): word-count bounds, mean
    word length bounds, alphabetic-word fraction, and a minimum count of
    distinct common stopwords — each rule surfaced as its own flag plus
    the conjunctive ``keep``, so a pipeline can audit WHICH rule dropped
    a document (the difference between a filter and a black box). The
    line/bullet-shaped Gopher rules need newline structure this corpus
    lacks; the word-statistics family implemented here is the portable
    core.

    Scale shape: entirely row-local — one higher-order-function pass per
    document (no explode, no shuffle at all beyond the scan); every
    metric is computed inside whole-stage codegen and the flags are
    plain column algebra. The filter a 100 TB pipeline runs FIRST,
    before anything that shuffles."""
    return gopher_flags(load_table(spark, sf_dir, "documents"))


def gopher_flags(d):
    """Frame-parameterized Gopher rule evaluation over a (doc_id, text)
    frame — shared by the batch query above and the streaming curate
    stage (streaming/curate.py), so batch and stream can never drift."""
    toks = F.expr(_TOKS)
    n_words = F.size("w")
    safe_n = F.greatest(n_words, F.lit(1))
    mean_wl = F.round(
        F.aggregate(
            "w", F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).cast("double")
        / safe_n,
        4,
    )
    alpha_frac = F.round(
        F.size(F.filter("w", lambda x: x.rlike("[a-z]"))).cast("double")
        / safe_n,
        4,
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct("w"),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    ).cast("bigint")
    m = d.select("doc_id", toks.alias("w")).select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        n_stop.alias("n_stopwords"),
    )
    ok_words = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    ok_mwl = F.col("mean_word_len").between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
    ok_alpha = F.col("alpha_frac") >= GOPHER_MIN_ALPHA_FRAC
    ok_stop = F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_frac",
        "n_stopwords",
        ok_words.alias("ok_words"),
        ok_mwl.alias("ok_mwl"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        (ok_words & ok_mwl & ok_alpha & ok_stop).alias("keep"),
    )


# ---------------------------------------------------------------------------
# invisible-character scrubbing (round 6)
# ---------------------------------------------------------------------------
# the classic web-text contaminants: zero-width space/non-joiner, BOM,
# soft hyphen — invisible to the eye, poison to tokenizers and dedup
_INVIS = ["​", "‌", "﻿", "­"]


def _inject_sql(engine: str) -> str:
    """Deterministically contaminate documents in-query (the pii_scrub
    precedent: the corpus has no natural invisibles, so plant them and
    exercise the scrubber for real). doc_id%3==0 gets a ZWSP+BOM pair
    after the first 8 chars; doc_id%5==0 additionally a soft hyphen +
    ZWNJ at position 3."""
    if engine == "spark":
        sub = "substring"
        cat = "concat"
    else:
        sub = "substr"
        cat = "concat"
    zw, zwnj, bom, shy = _INVIS
    base = (
        f"CASE WHEN doc_id % 3 = 0 THEN "
        f"{cat}({sub}(text, 1, 8), '{zw}{bom}', {sub}(text, 9)) "
        f"ELSE text END"
    )
    return (
        f"CASE WHEN doc_id % 5 = 0 THEN "
        f"{cat}({sub}({base}, 1, 3), '{shy}{zwnj}', {sub}({base}, 4)) "
        f"ELSE {base} END"
    )


def _strip_chain(expr: str) -> str:
    """Nested literal replace() — identical byte semantics in both
    engines (no regex dialect in play)."""
    for ch in _INVIS:
        expr = f"replace({expr}, '{ch}', '')"
    return expr


@query(
    "text_clean_invisible",
    oracle=f"""
    WITH dirty AS (
      SELECT doc_id, {_inject_sql('duck')} AS raw FROM documents
    )
    SELECT doc_id,
           length(raw)::BIGINT - length({_strip_chain('raw')})::BIGINT
             AS n_removed,
           length({_strip_chain('raw')})::BIGINT AS clean_len,
           md5({_strip_chain('raw')}) AS clean_md5
    FROM dirty
    """,
    tags=("text", "cleaning", "documents"),
)
def text_clean_invisible(spark, sf_dir):
    """Invisible-character scrubbing: strip zero-width space/non-joiner,
    BOM and soft hyphen — the characters that make two visually
    identical documents hash differently and smuggle extra tokens past
    length filters. The corpus is deterministically contaminated
    in-query first (doc_id%3 / doc_id%5 plant rules), so the scrubber is
    exercised on real occurrences in BOTH engines; the md5 of the
    cleaned text proves content equality, not just counts.

    Scale shape: entirely row-local — a literal replace() chain (no
    regex dialect divergence) inside whole-stage codegen; zero
    shuffle."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.expr(_inject_sql("spark"))
    dirty = d.select("doc_id", raw.alias("raw"))
    clean = F.expr(_strip_chain("raw"))
    return dirty.select(
        "doc_id",
        (F.length("raw") - F.length(clean)).cast("bigint").alias("n_removed"),
        F.length(clean).cast("bigint").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# curriculum_length_buckets — exact-percentile decile buckets
# ---------------------------------------------------------------------------
N_BUCKETS = 10
_PCTS = [i / N_BUCKETS for i in range(1, N_BUCKETS)]  # 0.1 .. 0.9
_PCTS_SQL = ", ".join(str(p) for p in _PCTS)


@query(
    "curriculum_length_buckets",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len({_DTOKS})::BIGINT AS n_tokens FROM documents
      WHERE len({_DTOKS}) > 0
    ), cuts AS (
      SELECT quantile_cont(n_tokens, [{_PCTS_SQL}]) AS cs FROM t
    )
    SELECT doc_id, n_tokens,
           (len(list_filter(cuts.cs, c -> n_tokens > c)) + 1)::INT
             AS bucket
    FROM t CROSS JOIN cuts
    """,
    tags=("curation", "documents", "sampling"),
)
def curriculum_length_buckets(spark, sf_dir):
    """Curriculum / length-stratified bucketing: every document assigned
    to one of N_BUCKETS deciles of the token-length distribution — the
    stratification key behind length-curriculum schedules and
    bucket-balanced batch sampling.

    The naive spelling is ``ntile(10) OVER (ORDER BY n_tokens)`` — a
    global-sort single-partition window, exactly what the registry plan
    gate bans. The scale-safe plan computes the 9 exact interpolated
    percentile cutoffs ONCE (scalar aggregate, partial-merged), then
    assigns buckets row-locally against the broadcast 1-row cutoff
    array: zero global sort, one tiny shuffle for the cutoff agg, one
    codegen stage for assignment. (Semantics differ from ntile only on
    ties/equal-count guarantees — cutoff-bucketing is the one that's
    actually wanted for curricula, since equal VALUES land in equal
    buckets.) Spark `percentile` == DuckDB `quantile_cont` (both
    interpolate at rank (n-1)p — the agg_percentiles precedent)."""
    t = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(F.expr(_TOKS)).cast("bigint").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    pcts = ", ".join(str(p) for p in _PCTS)
    cuts = t.agg(
        F.expr(f"percentile(n_tokens, array({pcts}))").alias("cs")
    )
    return t.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_tokens",
        (
            F.size(F.expr("filter(cs, c -> n_tokens > c)")) + 1
        ).cast("int").alias("bucket"),
    )


# ---------------------------------------------------------------------------
# cluster-balanced diversity sampling
# ---------------------------------------------------------------------------
CLUSTER_CAP = 25  # max docs kept per embedding cell


@query(
    "sample_cluster_balanced",
    oracle=None,  # set below (needs the shared _IVF_ASSIGN_DUCK import)
    tags=("sampling", "embeddings", "documents", "curation"),
)
def sample_cluster_balanced(spark, sf_dir):
    """Diversity sampling: cap the corpus at CLUSTER_CAP documents per
    embedding cell, keeping the highest-quality docs (distinct-token
    fraction in ppm — integer, engine-exact) with doc_id tiebreak. The
    SemDeDup-adjacent recipe for flattening over-represented semantic
    modes without dropping rare ones.

    Scale shape: cell assignment is the shared 16-row-broadcast argmax
    (dedup.cell_assignments). A naive per-cell rank is a window over
    cent_id — K=16 partitions means corpus/16 rows through ONE task's
    sort at 100 TB. This plan is the exact TWO-PHASE top-k instead:
    a local top-CAP per (cell, input partition) — any global winner is
    necessarily a local winner — then the final per-cell rank sees at
    most P×CAP rows per cell. Both windows are bounded; no
    corpus-scale sort anywhere."""
    from doc2dataset_spark.queries.dedup import cell_assignments
    from pyspark.sql import Window as W

    # integer DIV end-to-end: the oracle uses exact // and a float
    # intermediate can shift the ppm by 1 via double rounding (the
    # sample_mixture_rebalance lesson from the round-6 advisory)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            f"CAST(1000000 * size(array_distinct({_TOKS})) AS BIGINT)"
            f" DIV size({_TOKS})"
        ).alias("quality_ppm"),
    ).filter(F.size(F.expr(_TOKS)) > 0)
    assigned = (
        cell_assignments(spark, sf_dir)
        .select(F.col("vec_id").alias("doc_id"), "cent_id")
        .join(d, "doc_id")
    )
    part = assigned.withColumn("pid", F.spark_partition_id())
    w_local = W.partitionBy("cent_id", "pid").orderBy(
        F.desc("quality_ppm"), "doc_id"
    )
    local = (
        part.withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= CLUSTER_CAP)
        .drop("rn", "pid")
    )
    w_final = W.partitionBy("cent_id").orderBy(
        F.desc("quality_ppm"), "doc_id"
    )
    return (
        local.withColumn("rk", F.row_number().over(w_final))
        .filter(F.col("rk") <= CLUSTER_CAP)
        .select("doc_id", "cent_id", "quality_ppm", F.col("rk").cast("int").alias("rk"))
    )


def _set_cluster_balanced_oracle() -> None:
    from doc2dataset_spark.queries.core import REGISTRY as _reg
    from doc2dataset_spark.queries.dedup import _IVF_ASSIGN_DUCK

    _reg["sample_cluster_balanced"].oracle = f"""
    WITH {_IVF_ASSIGN_DUCK},
    d AS (
      SELECT doc_id,
             (1000000 * len(list_distinct({_DTOKS})))
               // len({_DTOKS}) AS quality_ppm
      FROM documents WHERE len({_DTOKS}) > 0
    ),
    j AS (
      SELECT a.vec_id AS doc_id, a.cent_id, d.quality_ppm
      FROM assign a JOIN d ON d.doc_id = a.vec_id
    )
    SELECT doc_id, cent_id, quality_ppm, rk FROM (
      SELECT doc_id, cent_id, quality_ppm,
             row_number() OVER (
               PARTITION BY cent_id
               ORDER BY quality_ppm DESC, doc_id
             )::INT AS rk
      FROM j
    ) WHERE rk <= {CLUSTER_CAP}
    """


_set_cluster_balanced_oracle()


# ---------------------------------------------------------------------------
# deterministic weighted sampling without replacement (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------
WS_K = 100


@query(
    "sample_weighted_topk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len({_DTOKS})::BIGINT AS w,
             -- u in (0,1]: 12 md5 hex chars -> uniform integer + 1
             (('0x' || substr(md5('ws' || doc_id::VARCHAR), 1, 12))::BIGINT
               + 1) / 281474976710656.0 AS u
      FROM documents WHERE len({_DTOKS}) > 0
    ), keyed AS (
      SELECT doc_id, w, round(-ln(u) / w, 12) AS k FROM t
    )
    SELECT doc_id, w, k FROM (
      SELECT doc_id, w, k,
             row_number() OVER (ORDER BY k, doc_id) AS rn
      FROM keyed
    ) WHERE rn <= {WS_K}
    """,
    tags=("sampling", "documents"),
)
def sample_weighted_topk(spark, sf_dir):
    """Weighted sampling WITHOUT replacement, k=WS_K, weight = token
    count — the Efraimidis-Spirakis A-ES algorithm: each row draws
    key = −ln(u)/w (u uniform) and the k SMALLEST keys are an exact
    weighted sample. The distributed-sampling workhorse: key assignment
    is row-local, selection is a top-k — no sequential pass, no global
    RNG state. Here u is derandomized from md5(doc_id) (the
    sample_deterministic discipline), so the sample is reproducible on
    any engine, any partitioning, any run — and DuckDB can oracle it
    bit-exactly (ln on identical doubles, round-12 on the key).

    Scale shape: one row-local projection + TakeOrderedAndProject;
    zero shuffle beyond the top-k merge."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.size(F.expr(_TOKS)) > 0
    )
    u = (
        F.expr(
            "cast(conv(substring(md5(concat('ws', cast(doc_id AS string))),"
            " 1, 12), 16, 10) AS bigint)"
        )
        + 1
    ) / F.lit(281474976710656.0)  # 16^12
    keyed = d.select(
        "doc_id",
        F.size(F.expr(_TOKS)).cast("bigint").alias("w"),
        F.round(-F.log(u) / F.size(F.expr(_TOKS)), 12).alias("k"),
    )
    return keyed.orderBy("k", "doc_id").limit(WS_K)


# ---------------------------------------------------------------------------
# per-group IQR outlier flagging (Tukey fences)
# ---------------------------------------------------------------------------
@query(
    "quality_iqr_outliers",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len({_DTOKS})::BIGINT AS n_tokens
      FROM documents WHERE len({_DTOKS}) > 0
    ), q AS (
      SELECT source,
             quantile_cont(n_tokens, 0.25) AS q1,
             quantile_cont(n_tokens, 0.75) AS q3
      FROM t GROUP BY source
    )
    SELECT t.doc_id, t.source, t.n_tokens,
           round(q.q1 - 1.5 * (q.q3 - q.q1), 4) AS lo,
           round(q.q3 + 1.5 * (q.q3 - q.q1), 4) AS hi,
           (t.n_tokens < q.q1 - 1.5 * (q.q3 - q.q1)
            OR t.n_tokens > q.q3 + 1.5 * (q.q3 - q.q1)) AS is_outlier
    FROM t JOIN q USING (source)
    """,
    tags=("quality", "documents", "curation"),
)
def quality_iqr_outliers(spark, sf_dir):
    """Tukey-fence outlier flagging per source: documents whose token
    count falls outside [Q1 − 1.5·IQR, Q3 + 1.5·IQR] of their OWN
    source's length distribution — the per-stratum anomaly screen that
    catches a broken extractor flooding one source with stubs or
    megadocs without punishing legitimately different sources.

    Scale shape: per-source exact quartiles are ONE grouped aggregate
    (|sources| output rows — broadcast-sized), joined back broadcast;
    flagging is row-local. The same percentile-cutoff-then-broadcast
    recipe as curriculum_length_buckets — never a per-group sort window
    over data rows. Fence comparison uses the UNROUNDED quantiles on
    both engines (rounding only the displayed fence columns), so the
    boolean is bit-stable."""
    t = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.size(F.expr(_TOKS)).cast("bigint").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    q = t.groupBy("source").agg(
        F.expr("percentile(n_tokens, 0.25)").alias("q1"),
        F.expr("percentile(n_tokens, 0.75)").alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return t.join(F.broadcast(q), "source").select(
        "doc_id",
        "source",
        "n_tokens",
        F.round(lo, 4).alias("lo"),
        F.round(hi, 4).alias("hi"),
        ((F.col("n_tokens") < lo) | (F.col("n_tokens") > hi)).alias(
            "is_outlier"
        ),
    )


# ---------------------------------------------------------------------------
# sample_temperature_mix — sqrt-temperature mixture sampling
# ---------------------------------------------------------------------------
TM_PPM = 1_000_000
TM_WSCALE = 1_000_000_000  # sqrt-weight quantization (1e-9 resolution)


@query(
    "sample_temperature_mix",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len({_DTOKS})::BIGINT AS n_tokens
      FROM documents
    ), st AS (
      SELECT source, sum(n_tokens)::BIGINT AS src_tokens
      FROM t GROUP BY source
    ), tot AS (
      SELECT sum(src_tokens)::BIGINT AS total FROM st
    ), w AS (
      SELECT source, src_tokens,
             CAST(round(sqrt(src_tokens::DOUBLE / (SELECT total FROM tot))
                        * {TM_WSCALE}) AS BIGINT) AS wi
      FROM st
    ), sw AS (
      SELECT sum(wi)::BIGINT AS sumw FROM w
    ), rates AS (
      SELECT source,
             CAST(least({TM_PPM}::HUGEINT,
                        ((SELECT total FROM tot)::HUGEINT * wi * {TM_PPM})
                        // ((SELECT sumw FROM sw)::HUGEINT * src_tokens))
                  AS BIGINT) AS rate_ppm
      FROM w
    )
    SELECT t.doc_id, t.source, r.rate_ppm
    FROM t JOIN rates r USING (source)
    WHERE ('0x' || substr(md5('tm' || t.doc_id::VARCHAR), 1, 12))::BIGINT
          % {TM_PPM} < r.rate_ppm
    """,
    tags=("pipeline", "sampling", "mixing"),
)
def sample_temperature_mix(spark, sf_dir):
    """α=1/2 temperature mixture: keep rates ∝ min(1, budget_i/tokens_i)
    with budget_i = total·sqrt(p_i)/Σ√p — sqrt-flattened source shares,
    exact-integer ppm rates, deterministic md5 keep set."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.expr(_TOKS)).cast("bigint").alias("n_tokens"),
    )
    st = d.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    tot = st.agg(F.sum("src_tokens").cast("bigint").alias("total"))
    w = st.crossJoin(F.broadcast(tot)).select(
        "source",
        "src_tokens",
        "total",
        F.expr(
            f"CAST(round(sqrt(CAST(src_tokens AS DOUBLE) / total)"
            f" * {TM_WSCALE}) AS BIGINT)"
        ).alias("wi"),
    )
    sw = w.agg(F.sum("wi").cast("bigint").alias("sumw"))
    rates = w.crossJoin(F.broadcast(sw)).select(
        "source",
        F.expr(
            f"CAST(least(CAST({TM_PPM} AS DECIMAL(38,0)),"
            f" (CAST(total AS DECIMAL(38,0)) * wi * {TM_PPM})"
            f" div (CAST(sumw AS DECIMAL(38,0)) * src_tokens))"
            f" AS BIGINT)"
        ).alias("rate_ppm"),
    )
    h = F.expr(
        "cast(conv(substring(md5(concat('tm', cast(doc_id AS string))),"
        " 1, 12), 16, 10) AS bigint)"
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(h % TM_PPM < F.col("rate_ppm"))
        .select("doc_id", "source", "rate_ppm")
    )


# ---------------------------------------------------------------------------
# curate_split_leakage — train/holdout near-dup leakage audit
# ---------------------------------------------------------------------------
# deterministic 10% holdout: md5-hash bucket 0 of 10 (the hash split a
# real pipeline uses so membership is stable under re-runs and appends)
SPLIT_BUCKETS = 10
_SPLIT_SPARK = (
    "pmod(cast(conv(substring(md5(cast(doc_id AS string)), 1, 12), 16, 10) "
    f"AS bigint), {SPLIT_BUCKETS}) = 0"
)
_SPLIT_DUCK = (
    "('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT "
    f"% {SPLIT_BUCKETS} = 0"
)


def _split_leakage_oracle(exact_oracle: str) -> str:
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT da, db FROM ({exact_oracle})
),
s AS MATERIALIZED (
  SELECT doc_id, {_SPLIT_DUCK} AS hold FROM documents
),
f AS MATERIALIZED (
  SELECT p.da, p.db, sa.hold AS ha, sb.hold AS hb
  FROM pairs p
  JOIN s sa ON sa.doc_id = p.da
  JOIN s sb ON sb.doc_id = p.db
),
leaked AS (
  SELECT count(DISTINCT doc_id) AS n FROM (
    SELECT da AS doc_id FROM f WHERE ha AND NOT hb
    UNION ALL
    SELECT db AS doc_id FROM f WHERE hb AND NOT ha
  )
),
d AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN hold THEN 0 ELSE 1 END), 0) AS BIGINT)
           AS n_train,
         CAST(COALESCE(SUM(CASE WHEN hold THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_holdout
  FROM s
),
pf AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(COALESCE(SUM(CASE WHEN ha <> hb THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_cross
  FROM f
)
SELECT d.n_train, d.n_holdout, pf.n_pairs, pf.n_cross,
       CAST(l.n AS BIGINT) AS n_leaked_holdout,
       round(l.n::DOUBLE / d.n_holdout, 4) AS leak_rate
FROM d CROSS JOIN pf CROSS JOIN leaked l
"""


@query(
    "curate_split_leakage",
    oracle=None,  # assigned below: composes the exact detector's oracle
    tags=("pipeline", "dedup", "eval"),
)
def curate_split_leakage(spark, sf_dir):
    """Train/holdout split LEAKAGE AUDIT — the decontamination check a
    training pipeline runs before trusting its eval numbers: with a
    deterministic 10% hash holdout (stable under re-runs and appends,
    like every production split), count the exact near-dup pairs
    (shingle-Jaccard >= 0.5, the dedup_ngram_jaccard ground truth) that
    CROSS the split, and the distinct holdout documents contaminated by
    a train-side twin. A holdout doc with a near-duplicate in train
    inflates eval scores without any literal overlap tooling noticing —
    this is the Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better") eval-leakage measurement as one oracle-
    gated row.

    Columns: n_train / n_holdout (split sizes), n_pairs (all near-dup
    pairs), n_cross (pairs straddling the split — E[2·p·(1-p)·n_pairs]
    under independence, so a clustered corpus shows up as an excess),
    n_leaked_holdout (distinct contaminated eval docs — the actionable
    set), leak_rate (fraction of the holdout that is contaminated).

    Scale shape: the detector's own blocked plan + two broadcast-sized
    flag joins on the pair list + one scalar aggregate row; the split
    flag is a row-local md5 bucket, never a shuffle key."""
    from doc2dataset_spark.queries.dedup import dedup_ngram_jaccard

    d = load_table(spark, sf_dir, "documents")
    s = d.select("doc_id", F.expr(_SPLIT_SPARK).alias("hold"))
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("da", "db")
    f = (
        pairs.join(
            s.select(F.col("doc_id").alias("da"), F.col("hold").alias("ha")),
            "da",
        )
        .join(
            s.select(F.col("doc_id").alias("db"), F.col("hold").alias("hb")),
            "db",
        )
        .localCheckpoint()
    )
    leaked = (
        f.filter(F.col("ha") & ~F.col("hb"))
        .select(F.col("da").alias("doc_id"))
        .unionAll(
            f.filter(F.col("hb") & ~F.col("ha")).select(
                F.col("db").alias("doc_id")
            )
        )
        .agg(F.countDistinct("doc_id").alias("n"))
    )
    dcounts = s.agg(
        F.sum(F.when(F.col("hold"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("hold"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_holdout"),
    )
    pcounts = f.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.coalesce(
            F.sum((F.col("ha") != F.col("hb")).cast("int")), F.lit(0)
        )
        .cast("bigint")
        .alias("n_cross"),
    )
    return (
        dcounts.crossJoin(F.broadcast(pcounts))
        .crossJoin(F.broadcast(leaked))
        .select(
            "n_train",
            "n_holdout",
            "n_pairs",
            "n_cross",
            F.col("n").cast("bigint").alias("n_leaked_holdout"),
            F.round(
                F.col("n").cast("double") / F.col("n_holdout"), 4
            ).alias("leak_rate"),
        )
    )


REGISTRY["curate_split_leakage"].oracle = _split_leakage_oracle(
    REGISTRY["dedup_ngram_jaccard"].oracle
)


# ---------------------------------------------------------------------------
# sample_token_budget — token-budgeted mixture selection
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 700  # per-source token allowance (fixture-strict subset)
_TOKN_SPARK = f"coalesce(size({_TOKS}), 0)"
_ORD_HASH_SPARK = "md5(cast(doc_id AS string))"
_ORD_HASH_DUCK = "md5(doc_id::VARCHAR)"


@query(
    "sample_token_budget",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             coalesce(len(list_filter(string_split_regex(lower(text),
                                                         '\\s+'),
                                      x -> x <> '')), 0)::BIGINT AS n_tokens,
             {_ORD_HASH_DUCK} AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             )::BIGINT AS cum_tokens
      FROM t
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= {TOKEN_BUDGET}
    """,
    tags=("curation", "documents", "sampling"),
)
def sample_token_budget(spark, sf_dir):
    """Token-budgeted mixture selection: training mixtures are specified
    in TOKENS, not documents (a source of many short docs must not get
    the same doc-count allowance as one of long docs). Each source's
    documents are ranked by a deterministic hash (an unbiased shuffle,
    the sample_cap_per_key idiom) and kept while the running token sum
    stays within the per-source budget — rerunnable, engine-independent,
    and integer-exact.

    Scale shape: token counts are a map-side expression; the running sum
    is ONE window partitioned by source with a ROWS frame (per-group
    counter state, no global window); the filter is row-local. At 100 TB
    this is the same shape as the per-domain cap — a severely hot source
    would call for the two-phase salted variant."""
    d = load_table(spark, sf_dir, "documents")
    w = (
        W.partitionBy("source")
        .orderBy(F.expr(_ORD_HASH_SPARK), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = d.select(
        "doc_id",
        "source",
        F.expr(_TOKN_SPARK).cast("bigint").alias("n_tokens"),
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
    return c.filter(F.col("cum_tokens") <= TOKEN_BUDGET)
