"""Full-text-search primitives over the documents table (round 6),
registered AFTER the frozen driver gate, oracle-checked locally like
everything else.

A corpus pipeline's retrieval side needs more than TF-IDF feature
extraction (text_tfidf_topk): it needs QUERY-TIME ranking and boolean /
phrase matching — the inverted-index workloads. Each is expressed as the
relational plan a distributed search engine actually executes, with an
exact DuckDB oracle:

- ``search_bm25_topk``     Okapi BM25 ranking of documents for a fixed
                           term query (k1=1.2, b=0.75), top-20.
- ``search_boolean_and``   conjunctive boolean retrieval: documents
                           containing ALL query terms, via posting-list
                           intersection (match-count == #terms).
- ``search_phrase``        exact phrase ("table hash") retrieval via
                           POSITIONAL postings: self-join of the two
                           terms' postings on (doc, pos+1) — the real
                           inverted-index phrase plan, not a LIKE scan.

Scale shapes: postings are (doc_id, term[, pos]) rows — the explode is
linear; every query prunes postings to its own terms FIRST (broadcast
literal IN-list reaching the scan), so join/aggregate input is the
postings of the query terms only, never the corpus. BM25's corpus
statistics (N, avgdl) are 1-row broadcasts; df rides the pruned postings.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from doc2dataset_spark.queries.core import query
from doc2dataset_spark.queries.textops import _DTOKS, _TOKS
from doc2dataset_spark.session import compute_parallelism, load_table

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20
QUERY_TERMS = ("spark", "window", "merge")  # df ~380/500 each at sf0.01
PHRASE = ("table", "hash")  # ~46 docs at sf0.01

_TERMS_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)


@query(
    "search_bm25_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DTOKS}) AS term FROM documents
    ), dl AS (
      SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT count(*)::BIGINT AS n,
             (SELECT sum(dl)::DOUBLE / count(*) FROM dl) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok
      WHERE term IN ({_TERMS_SQL}) GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                  + {BM25_B} * dl.dl / s.avgdl))
             ), 4) AS score,
             count(*)::BIGINT AS n_terms
      FROM tf
      JOIN df USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score, n_terms FROM (
      SELECT doc_id, score, n_terms,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rn
      FROM scored
    ) WHERE rn <= {BM25_TOPK}
    """,
    tags=("search", "text", "documents"),
)
def search_bm25_topk(spark, sf_dir):
    """Okapi BM25 document ranking for the fixed query {QUERY_TERMS}:
    idf·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) summed over matched terms,
    global top-BM25_TOPK (doc_id tiebreak). ln() on identical doubles +
    round-4 keeps both engines bit-equal (the text_tfidf_topk recipe).

    Scale shape: the term IN-list prunes the exploded postings before the
    tf aggregate, so everything downstream is sized by the query's
    postings; df is an aggregate OVER tf (already pruned); N/avgdl are a
    1-row cross-joined broadcast; dl is corpus-linear but map-side
    combinable. The global top-k is orderBy().limit() →
    TakeOrderedAndProject: each task keeps its local top-20, the driver
    merges 20·P rows — never a single-partition window over every
    matching doc (for stopword-ish terms that would be corpus-scale
    through ONE task)."""
    scored = _bm25_scored(spark, sf_dir)
    return scored.orderBy(F.desc("score"), "doc_id").limit(BM25_TOPK)


def _bm25_scored(spark, sf_dir):
    """(doc_id, score, n_terms) for every document matching any of
    QUERY_TERMS — the BM25 scored frame before the top-k cut. Shared by
    search_bm25_topk and the hybrid-RRF fusion (which needs a deeper
    candidate cut than the query's top-20)."""
    d = load_table(spark, sf_dir, "documents").repartition(
        compute_parallelism(spark), "doc_id"
    )
    tok = d.select("doc_id", F.explode(F.expr(_TOKS)).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("term").isin(*QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom), 4
            ).alias("score"),
            F.count("*").alias("n_terms"),
        )
    )


@query(
    "search_boolean_and",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest({_DTOKS}) AS term FROM documents
    )
    SELECT doc_id, count(*)::BIGINT AS n_matched
    FROM tok WHERE term IN ({_TERMS_SQL})
    GROUP BY doc_id
    HAVING count(*) = {len(QUERY_TERMS)}
    """,
    tags=("search", "text", "documents"),
)
def search_boolean_and(spark, sf_dir):
    """Conjunctive boolean retrieval: documents containing ALL of
    {QUERY_TERMS}, by posting-list intersection — distinct (doc, term)
    postings pruned to the query terms, then a match-count == #terms
    HAVING. The classic AND-query plan: no joins at all, one pruned
    aggregate, output bounded by the rarest term's df.

    (The single-partition window top-k of BM25 does not appear here —
    this is pure semi-join shape.)"""
    d = load_table(spark, sf_dir, "documents").repartition(
        compute_parallelism(spark), "doc_id"
    )
    tok = d.select(
        "doc_id", F.explode(F.expr(_TOKS)).alias("term")
    ).distinct()
    return (
        tok.filter(F.col("term").isin(*QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matched"))
        .filter(F.col("n_matched") == len(QUERY_TERMS))
    )


@query(
    "search_phrase",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(w) AS term,
             generate_subscripts(w, 1) AS pos
      FROM (SELECT doc_id, {_DTOKS} AS w FROM documents)
    ), a AS (
      SELECT doc_id, pos FROM tok WHERE term = '{PHRASE[0]}'
    ), b AS (
      SELECT doc_id, pos FROM tok WHERE term = '{PHRASE[1]}'
    )
    SELECT a.doc_id, count(*)::BIGINT AS n_occurrences
    FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    GROUP BY a.doc_id
    """,
    tags=("search", "text", "documents"),
)
def search_phrase(spark, sf_dir):
    """Exact phrase search ('{PHRASE[0]} {PHRASE[1]}') via POSITIONAL
    postings: each term's (doc_id, pos) posting list, equi-joined on
    (doc_id, pos+1) — the inverted-index phrase plan. Counts occurrences
    per matching document.

    Scale shape: postings are pruned to the two phrase terms before the
    join, so the join input is two term-posting lists, not the corpus;
    the join key (doc_id, pos) is unique on each side — no skew."""
    d = load_table(spark, sf_dir, "documents").repartition(
        compute_parallelism(spark), "doc_id"
    )
    tok = d.select(
        "doc_id", F.posexplode(F.expr(_TOKS)).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    a = tok.filter(F.col("term") == PHRASE[0]).select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = tok.filter(F.col("term") == PHRASE[1]).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    return (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("pb") == F.col("pa") + 1),
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_occurrences"))
    )


# ---------------------------------------------------------------------------
# quality-weighted deterministic sampling (round 6)
# ---------------------------------------------------------------------------
QW_BASE_PCT = 60  # keep rate (%) for top-quality docs; scales down with score


@query(
    "sample_quality_weighted",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             len(list_distinct({_DTOKS}))::BIGINT AS v,
             len({_DTOKS})::BIGINT AS n
      FROM documents WHERE len({_DTOKS}) > 0
    ), rated AS (
      SELECT doc_id,
             -- keep rate in percent: base * distinct-token fraction,
             -- integer arithmetic so both engines agree exactly
             ({QW_BASE_PCT} * v) // n AS rate
      FROM q
    )
    SELECT doc_id, rate FROM rated
    WHERE ('0x' || substr(md5('qw' || doc_id::VARCHAR), 1, 12))::BIGINT
          % 100 < rate
    """,
    tags=("sampling", "quality", "documents"),
)
def sample_quality_weighted(spark, sf_dir):
    """Quality-weighted deterministic sampling: each document's keep
    PROBABILITY scales with a quality proxy (distinct-token fraction —
    repetitive docs get downweighted), realized with the md5-threshold
    trick: keep iff hash(doc) % 100 < rate(doc). How production mixtures
    implement "sample low-quality strata at reduced rate" without RNG
    state — the kept set is identical on any engine, any partitioning,
    any run. Integer rate arithmetic keeps both engines bit-equal.

    Scale shape: entirely row-local (quality proxy + hash + compare in
    one codegen stage); zero shuffle."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.size(F.expr(_TOKS)) > 0
    )
    rate = F.expr(
        f"CAST({QW_BASE_PCT} * size(array_distinct({_TOKS})) AS BIGINT)"
        f" DIV size({_TOKS})"
    )
    h = F.expr(
        "cast(conv(substring(md5(concat('qw', cast(doc_id AS string))),"
        " 1, 12), 16, 10) AS bigint)"
    )
    return (
        d.select("doc_id", rate.alias("rate"), h.alias("h"))
        .filter(F.col("h") % 100 < F.col("rate"))
        .select("doc_id", "rate")
    )


# ---------------------------------------------------------------------------
# fuzzy term search via deletion neighborhoods (SymSpell blocking)
# ---------------------------------------------------------------------------
FUZZY_QUERY_TERM = "spak"  # distance-1 typo of 'spark' (dropped r)


def _deletes_spark(col: str) -> str:
    """All length-1 deletion variants of a term, plus the term itself."""
    return (
        f"array_union(array({col}), "
        f"transform(sequence(1, length({col})), "
        f"i -> concat(substring({col}, 1, i - 1), "
        f"substring({col}, i + 1, length({col})))))"
    )


_DELETES_DUCK = (
    "list_distinct(list_append("
    "list_transform(range(1, strlen({c}) + 1), "
    "i -> substr({c}, 1, i - 1) || substr({c}, i + 1)), {c}))"
)


@query(
    "search_fuzzy_term",
    oracle=f"""
    WITH vocab AS (
      SELECT DISTINCT unnest({_DTOKS}) AS term FROM documents
    ), matches AS (
      SELECT term FROM vocab
      WHERE levenshtein(term, '{FUZZY_QUERY_TERM}') <= 1
    ), tok AS (
      SELECT DISTINCT doc_id, unnest({_DTOKS}) AS term FROM documents
    )
    SELECT t.doc_id, t.term
    FROM tok t JOIN matches m USING (term)
    """,
    tags=("search", "fuzzy", "documents"),
)
def search_fuzzy_term(spark, sf_dir):
    """Fuzzy term retrieval (edit distance ≤ 1 from '{FUZZY_QUERY_TERM}')
    via DELETION-NEIGHBORHOOD blocking — the SymSpell trick: two strings
    are within edit distance 1 iff their length-≤1 deletion variant sets
    intersect, so candidate generation is an equi-join on deletion
    variants (broadcast: the query term has |term|+1 of them) and only
    candidates pay the exact levenshtein verify. On a billion-term vocab
    this is the difference between scanning every term with an edit-
    distance UDF-ish filter and touching ~|variants| hash buckets.

    The oracle runs the naive full-vocab levenshtein scan — equality of
    the rewrite with the naive form IS the test (the q12b discipline).
    Output: (doc_id, matched term) postings of all matching terms."""
    d = load_table(spark, sf_dir, "documents").repartition(
        compute_parallelism(spark), "doc_id"
    )
    vocab = (
        d.select(F.explode(F.expr(_TOKS)).alias("term"))
        .distinct()
        # cheap length prefilter: |len - len(q)| <= 1
        .filter(
            F.abs(F.length("term") - len(FUZZY_QUERY_TERM)) <= 1
        )
    )
    vdel = vocab.select(
        "term", F.explode(F.expr(_deletes_spark("term"))).alias("d")
    )
    qdel = spark.createDataFrame(
        [(FUZZY_QUERY_TERM,)], "q string"
    ).select(F.explode(F.expr(_deletes_spark("q"))).alias("d"))
    cand = (
        vdel.join(F.broadcast(qdel), "d")
        .select("term")
        .distinct()
        .filter(F.levenshtein(F.col("term"), F.lit(FUZZY_QUERY_TERM)) <= 1)
    )
    tok = d.select(
        "doc_id", F.explode(F.expr(_TOKS)).alias("term")
    ).distinct()
    return tok.join(F.broadcast(cand), "term").select("doc_id", "term")


# ---------------------------------------------------------------------------
# PMI collocations over a bounded vocabulary (round 6)
# ---------------------------------------------------------------------------
PMI_VOCAB = 40  # top-V tokens by document frequency
PMI_MIN_CO = 5  # minimum co-document support
PMI_TOPK = 20


@query(
    "text_pmi_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest({_DTOKS}) AS term FROM documents
    ), nd AS (
      SELECT count(DISTINCT doc_id)::BIGINT AS n FROM tok
    ), df AS (
      SELECT term, count(*)::BIGINT AS df FROM tok GROUP BY term
    ), vocab AS (
      SELECT term, df FROM (
        SELECT term, df,
               row_number() OVER (ORDER BY df DESC, term) AS rk
        FROM df
      ) WHERE rk <= {PMI_VOCAB}
    ), vt AS (
      SELECT t.doc_id, t.term, v.df FROM tok t JOIN vocab v USING (term)
    ), co AS (
      SELECT a.term AS ta, b.term AS tb,
             a.df AS dfa, b.df AS dfb,
             count(*)::BIGINT AS dfab
      FROM vt a JOIN vt b
        ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY a.term, b.term, a.df, b.df
      HAVING count(*) >= {PMI_MIN_CO}
    ), scored AS (
      SELECT ta, tb, dfab,
             round(ln(nd.n * dfab / (dfa::DOUBLE * dfb)), 4) AS pmi
      FROM co CROSS JOIN nd
    )
    SELECT ta, tb, dfab, pmi FROM (
      SELECT ta, tb, dfab, pmi,
             row_number() OVER (ORDER BY pmi DESC, ta, tb) AS rk
      FROM scored
    ) WHERE rk <= {PMI_TOPK}
    """,
    tags=("text", "collocations", "documents"),
)
def text_pmi_pairs(spark, sf_dir):
    """Collocation mining: pointwise mutual information of token pairs
    over a BOUNDED vocabulary — top-PMI_VOCAB tokens by document
    frequency (deterministic df DESC / term ASC cut), co-document counts
    for within-vocab pairs, PMI = ln(N·df_ab / (df_a·df_b)), min
    support, global top-PMI_TOPK. The association-score table behind
    phrase induction and stopword-pair diagnostics.

    Scale shape: the vocabulary cut bounds the pair space by PARAMETER
    (V²/2 candidate pairs), not data — the per-doc self-join runs on
    postings semi-joined to a V-row broadcast vocab, so corpus size only
    affects the linear posting scan and the map-side-combinable pair
    counts. Both top-k cuts (vocab and final) are orderBy().limit() →
    TakeOrderedAndProject — no single-partition window anywhere."""
    d = load_table(spark, sf_dir, "documents").repartition(
        compute_parallelism(spark), "doc_id"
    )
    tok = d.select(
        "doc_id", F.explode(F.expr(_TOKS)).alias("term")
    ).distinct()
    nd = tok.agg(F.countDistinct("doc_id").alias("n"))
    df = tok.groupBy("term").agg(F.count("*").alias("df"))
    # vocabulary cut via orderBy().limit() → TakeOrderedAndProject: one
    # row per DISTINCT TERM on a web corpus is hundreds of millions of
    # rows — a global row_number window here would push all of them
    # through one task; the distributed partial top-k keeps V rows per
    # task instead (identical deterministic df DESC / term ASC cut).
    vocab = df.orderBy(F.desc("df"), "term").limit(PMI_VOCAB).select(
        "term", "df"
    )
    vt = tok.join(F.broadcast(vocab), "term")
    a = vt.select(
        "doc_id", F.col("term").alias("ta"), F.col("df").alias("dfa")
    )
    b = vt.select(
        F.col("doc_id").alias("doc_b"),
        F.col("term").alias("tb"),
        F.col("df").alias("dfb"),
    )
    co = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("ta") < F.col("tb")),
        )
        .groupBy("ta", "tb", "dfa", "dfb")
        .agg(F.count("*").alias("dfab"))
        .filter(F.col("dfab") >= PMI_MIN_CO)
    )
    scored = co.crossJoin(F.broadcast(nd)).select(
        "ta",
        "tb",
        "dfab",
        F.round(
            F.log(
                F.col("n")
                * F.col("dfab")
                / (F.col("dfa").cast("double") * F.col("dfb"))
            ),
            4,
        ).alias("pmi"),
    )
    return scored.orderBy(F.desc("pmi"), "ta", "tb").limit(PMI_TOPK)


# ---------------------------------------------------------------------------
# index-served BM25 (round 7): the persisted-inverted-index serve path
# ---------------------------------------------------------------------------
@query(
    "search_bm25_indexed",
    oracle=None,  # set below: identical to search_bm25_topk by design
    tags=("search", "text", "documents", "index"),
)
def search_bm25_indexed(spark, sf_dir):
    """search_bm25_topk served from the PERSISTED inverted index
    (operators/text_index.py): postings/doclen/stats are read from
    parquet written once at index-build time; the probe scans only the
    query terms' hash-buckets (static partition filter). Identical
    oracle — the scoring expression and tokenizer are shared — so the
    driver hash-verifies that index-served ranking equals the corpus-
    scan ranking. First call per corpus builds the index into an
    mtime-keyed temp cache; subsequent calls are pure bucket reads."""
    from doc2dataset_spark.fsio import artifact_cache_dir, ensure_local_cache_dir
    from doc2dataset_spark.operators.text_index import (
        build_text_index,
        probe_text_index,
    )

    idx = ensure_local_cache_dir(
        artifact_cache_dir(sf_dir, "text", "documents"),
        "stats",
        lambda tmp: build_text_index(spark, sf_dir, tmp),
    )
    return probe_text_index(
        spark, idx, list(QUERY_TERMS), topk=BM25_TOPK
    )


# same oracle as search_bm25_topk: index-served == corpus-scan is the claim
from doc2dataset_spark.queries.core import REGISTRY as _REG  # noqa: E402

_REG["search_bm25_indexed"].oracle = _REG["search_bm25_topk"].oracle


# ---------------------------------------------------------------------------
# hybrid retrieval: BM25 + vector-cosine reciprocal-rank fusion
# ---------------------------------------------------------------------------
RRF_K = 60
RRF_TOPK = 10
HYBRID_QVEC = 0  # query vector id (doc ids and vec ids share the key space)


@query(
    "search_hybrid_rrf",
    oracle=None,  # set below (reuses the BM25 oracle text + NORM_EMB_DUCK)
    tags=("search", "similarity", "documents", "embeddings"),
)
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion: the BM25 ranking
    for QUERY_TERMS and the exact-cosine ranking for query vector
    HYBRID_QVEC are fused as sum(1/(RRF_K + rank)) — the standard
    score-scale-free way to combine lexical and semantic retrieval.
    Ranks (not scores) make the fusion deterministic: both rank lists
    carry doc_id tiebreaks, and the fused score is a sum of two exact
    rationals rounded to 6 (identical on both engines).

    Scale shape: each side is its own already-scale-audited plan (BM25:
    pruned postings, no global window; cosine: brute-force against ONE
    query vector — corpus-linear, map-side top-k). Each side's top-200
    cut is a TakeOrderedAndProject (distributed partial top-k); the rank
    windows then run AFTER the limit, over ≤200 rows already sitting in
    the limit's single partition — parameter-bounded by construction,
    whitelisted as such in the registry plan gate. The fusion is a tiny
    outer join on doc_id. At serve time both sides read the persisted
    indexes instead (search_bm25_indexed / sim_ann_ivf_indexed paths)."""
    from pyspark.sql import Window as W

    from doc2dataset_spark.queries.dedup import normalized_embeddings, spark_dot
    from doc2dataset_spark.queries.search_extras import _bm25_scored

    PER_SIDE = 200  # candidate cut per retriever before fusion

    # lexical side: the full BM25 scored frame (not the top-20 query),
    # top-PER_SIDE via TakeOrdered, then rank within the bounded cut
    bm = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score"), "doc_id")
        .limit(PER_SIDE)
    )
    w_bm = W.orderBy(F.desc("score"), "doc_id")
    lex = bm.withColumn(
        "r_lex", F.row_number().over(w_bm)
    ).select("doc_id", "r_lex")

    n = normalized_embeddings(spark, sf_dir)
    qv = n.filter(F.col("vec_id") == HYBRID_QVEC).select(
        F.col("ne").alias("qne")
    )
    cos = (
        n.filter(F.col("vec_id") != HYBRID_QVEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            spark_dot(F.col("ne"), F.col("qne")).alias("cos"),
        )
        .orderBy(F.desc("cos"), "doc_id")
        .limit(PER_SIDE)
    )
    w_cos = W.orderBy(F.desc("cos"), "doc_id")
    sem = cos.withColumn("r_sem", F.row_number().over(w_cos)).select(
        "doc_id", "r_sem"
    )

    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("r_lex", F.lit(0)).cast("int").alias("r_lex"),
            F.coalesce("r_sem", F.lit(0)).cast("int").alias("r_sem"),
            F.round(
                F.when(
                    F.col("r_lex").isNotNull(),
                    1.0 / (RRF_K + F.col("r_lex")),
                ).otherwise(0.0)
                + F.when(
                    F.col("r_sem").isNotNull(),
                    1.0 / (RRF_K + F.col("r_sem")),
                ).otherwise(0.0),
                6,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(RRF_TOPK)


def _set_hybrid_oracle() -> None:
    from doc2dataset_spark.queries.core import REGISTRY as _reg
    from doc2dataset_spark.queries.dedup import NORM_EMB_DUCK
    from doc2dataset_spark.queries.search_extras import (
        BM25_B,
        BM25_K1,
        _TERMS_SQL,
    )

    _reg["search_hybrid_rrf"].oracle = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DTOKS}) AS term FROM documents
    ), dl AS (
      SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT count(*)::BIGINT AS n,
             (SELECT sum(dl)::DOUBLE / count(*) FROM dl) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok
      WHERE term IN ({_TERMS_SQL}) GROUP BY doc_id, term
    ), dfx AS (
      SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln((s.n - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                  + {BM25_B} * dl.dl / s.avgdl))
             ), 4) AS score
      FROM tf
      JOIN dfx USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ), lex AS (
      SELECT doc_id, rn AS r_lex FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        FROM scored
      ) WHERE rn <= 200
    ), nv AS ({NORM_EMB_DUCK}),
    qv AS (SELECT ne AS qne FROM nv WHERE vec_id = {HYBRID_QVEC}),
    cosd AS (
      SELECT nv.vec_id AS doc_id,
             list_dot_product(nv.ne, qv.qne) AS cos
      FROM nv CROSS JOIN qv WHERE nv.vec_id <> {HYBRID_QVEC}
    ), sem AS (
      SELECT doc_id, rn AS r_sem FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY cos DESC, doc_id) AS rn
        FROM cosd
      ) WHERE rn <= 200
    ), fused AS (
      SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
             coalesce(l.r_lex, 0)::INT AS r_lex,
             coalesce(s.r_sem, 0)::INT AS r_sem,
             round(
               coalesce(1.0 / ({RRF_K} + l.r_lex), 0.0)
               + coalesce(1.0 / ({RRF_K} + s.r_sem), 0.0), 6) AS rrf
      FROM lex l FULL OUTER JOIN sem s USING (doc_id)
    )
    SELECT doc_id, r_lex, r_sem, rrf FROM (
      SELECT doc_id, r_lex, r_sem, rrf,
             row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn
      FROM fused
    ) WHERE rn <= {RRF_TOPK}
    """


_set_hybrid_oracle()
