"""Text-analysis operators on the documents table (SURVEY §2.3 Q35 + the
north-star text ops: language-ID, quality scoring, token counting, document
fingerprinting). Everything is JVM-side built-in expressions — no Python in
the hot path — and every query has an exact DuckDB oracle.

Token definition shared by both engines (``queries/dedup._TOKS`` and its
DuckDB twin ``_DTOKS``): lowercase, whitespace-split, empty tokens
dropped. The reference's word-count semantics (T6,
`extractor.py:28-31`) live in q07_regex_fns; these are the richer analysis
ops a training-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from doc2dataset_spark.queries.core import query
from doc2dataset_spark.queries.dedup import _DTOKS, _TOKS
from doc2dataset_spark.session import load_table


# ---------------------------------------------------------------------------
# Q35 — term frequency top-k
# ---------------------------------------------------------------------------
@query(
    "q35_term_freq",
    oracle=f"""
    SELECT token, n FROM (
      SELECT token, count(*)::BIGINT AS n,
             row_number() OVER (ORDER BY count(*) DESC, token) AS rn
      FROM (SELECT unnest({_DTOKS}) AS token FROM documents)
      GROUP BY token
    ) WHERE rn <= 20
    """,
    tags=("text", "documents"),
)
def q35(spark, sf_dir):
    """tokenize → explode → count → top-20 terms (tiebreak by token)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.expr(_TOKS)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# token counting: whitespace + BPE-ish regex + chars
# ---------------------------------------------------------------------------
@query(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len({_DTOKS}) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
             AS n_bpe_tokens,
           length(text) AS n_chars
    FROM documents
    """,
    tags=("text", "documents"),
)
def text_token_count(spark, sf_dir):
    """whitespace token count + BPE-ish regex token count + char count."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.expr(_TOKS)).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
            )
        ).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# quality scoring: length / punctuation / stopword / repetition signals
# ---------------------------------------------------------------------------
_STOPWORDS = (
    "the,a,an,of,and,or,to,in,is,was,it,for,on,with,as,at,by,this,that,be"
)
_SW_SQL = "[" + ",".join(f"'{w}'" for w in _STOPWORDS.split(",")) + "]"


@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_DTOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             len(list_distinct(toks)) AS n_distinct,
             length(text) AS n_chars,
             length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
               AS n_punct,
             len(list_intersect(list_distinct(toks), {_SW_SQL}))
               AS n_stop
      FROM t
    )
    SELECT doc_id, n_words, n_distinct, n_punct, n_stop,
           round(n_punct::DOUBLE / n_chars, 4)      AS punct_ratio,
           round(n_distinct::DOUBLE / n_words, 4)   AS distinct_ratio,
           round(n_stop::DOUBLE / n_distinct, 4)    AS stop_ratio,
           (n_words >= 10 AND n_words <= 100000
            AND n_punct::DOUBLE / n_chars < 0.3)    AS passes
    FROM m
    """,
    tags=("text", "documents"),
)
def text_quality_score(spark, sf_dir):
    """doc-quality signals: word/distinct/punct/stopword counts + ratios +
    a boolean keep/drop verdict (the north-star quality filter)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr(_TOKS)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS.split(",")])
    m = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length("text").alias("n_chars"),
        F.length(
            F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9\s]", "")
        ).alias("n_punct"),
        F.size(F.array_intersect(F.array_distinct(toks), sw)).alias("n_stop"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_distinct",
        "n_punct",
        "n_stop",
        F.round(F.col("n_punct").cast("double") / F.col("n_chars"), 4).alias(
            "punct_ratio"
        ),
        F.round(F.col("n_distinct").cast("double") / F.col("n_words"), 4).alias(
            "distinct_ratio"
        ),
        F.round(F.col("n_stop").cast("double") / F.col("n_distinct"), 4).alias(
            "stop_ratio"
        ),
        (
            (F.col("n_words") >= 10)
            & (F.col("n_words") <= 100000)
            & (F.col("n_punct").cast("double") / F.col("n_chars") < 0.3)
        ).alias("passes"),
    )


# ---------------------------------------------------------------------------
# language identification: stopword-profile heuristic
# (the reference uses pycld2 on page 0 only, `downloader.py:152-160`;
# that native lib is unavailable here, so the engine ships a deterministic
# stopword-intersection scorer with identical plumbing — swap in a real
# model UDF at deployment)
# ---------------------------------------------------------------------------
_LANG_MARKERS = {
    "en": ["the", "of", "and", "to", "in", "is", "was", "a", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "una", "por", "como"],
    "fr": ["le", "la", "les", "et", "est", "des", "une", "dans", "pour"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "就", "不", "人"],
}


def _lang_scores_sql(tok_expr: str, arr_fmt) -> dict[str, str]:
    return {
        lang: f"len(list_intersect(list_distinct({tok_expr}), {arr_fmt(ws)}))"
        for lang, ws in _LANG_MARKERS.items()
    }


@query(
    "text_langid",
    oracle=(
        lambda scores: f"""
    WITH s AS (
      SELECT doc_id, lang,
             {', '.join(f'{expr} AS s_{lg}' for lg, expr in scores.items())}
      FROM documents
    )
    SELECT doc_id, lang AS lang_true,
           CASE {' '.join(f"WHEN s_{lg} = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN '{lg}'" for lg in _LANG_MARKERS)}
           END AS lang_pred,
           s_en, s_de, s_es, s_fr, s_zh
    FROM s
    """
    )(_lang_scores_sql(_DTOKS, lambda ws: "[" + ",".join(f"'{w}'" for w in ws) + "]")),
    tags=("text", "documents"),
)
def text_langid(spark, sf_dir):
    """stopword-profile language ID (argmax with fixed tie-break order)."""
    d = load_table(spark, sf_dir, "documents")
    toks_d = F.array_distinct(F.expr(_TOKS))
    scores = {
        lang: F.size(
            F.array_intersect(toks_d, F.array(*[F.lit(w) for w in ws]))
        ).alias(f"s_{lang}")
        for lang, ws in _LANG_MARKERS.items()
    }
    s = d.select("doc_id", F.col("lang").alias("lang_true"), *scores.values())
    mx = F.greatest(*[F.col(f"s_{lg}") for lg in _LANG_MARKERS])
    pred = F
    expr = None
    for lg in _LANG_MARKERS:
        cond = F.col(f"s_{lg}") == mx
        expr = F.when(cond, lg) if expr is None else expr.when(cond, lg)
    return s.select(
        "doc_id",
        "lang_true",
        expr.alias("lang_pred"),
        *[f"s_{lg}" for lg in _LANG_MARKERS],
    )


# ---------------------------------------------------------------------------
# document fingerprinting: whole-doc hash + min-gram (winnowing-style) hash
# ---------------------------------------------------------------------------
@query(
    "text_fingerprint",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             substring(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 128)
               AS sub,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_full
      FROM documents
    )
    SELECT doc_id, fp_full,
           CASE WHEN length(sub) >= 5 THEN
             list_min(list_transform(range(1, length(sub) - 3),
                                     i -> md5(substring(sub, i::INT, 5))))
           ELSE md5(sub) END AS fp_min
    FROM n
    """,
    tags=("text", "documents"),
)
def text_fingerprint(spark, sf_dir):
    """md5 of normalized text + min 5-gram hash over the first 128 chars
    (a winnowing-style locality fingerprint; rolling-hash analog)."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    n = d.select(
        "doc_id",
        F.substring(norm, 1, 128).alias("sub"),
        F.md5(norm).alias("fp_full"),
    )
    fp_min = F.expr(
        "CASE WHEN length(sub) >= 5 THEN "
        " array_min(transform(sequence(1, length(sub) - 4),"
        "                     i -> md5(substring(sub, i, 5))))"
        " ELSE md5(sub) END"
    )
    return n.select("doc_id", "fp_full", fp_min.alias("fp_min"))


# ---------------------------------------------------------------------------
# boilerplate n-gram contamination (RefinedWeb/CCNet-style line-dedup analog)
# ---------------------------------------------------------------------------
_BOILER_DF = 4  # a 3-gram present in >= this many docs is boilerplate


@query(
    "text_boilerplate",
    oracle=f"""
    WITH sd AS (
      SELECT doc_id, unnest(
        list_distinct(list_transform(range(1, len({_DTOKS}) - 1),
          i -> {_DTOKS}[i] || ' ' || {_DTOKS}[i+1] || ' ' || {_DTOKS}[i+2]))
      ) AS sh
      FROM documents
    ), boiler AS (
      SELECT sh FROM sd GROUP BY sh HAVING count(*) >= {_BOILER_DF}
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_sh,
           sum(CASE WHEN boiler.sh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_boiler,
           round(sum(CASE WHEN boiler.sh IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 4) AS boiler_ratio
    FROM sd LEFT JOIN boiler USING (sh)
    GROUP BY doc_id
    HAVING n_boiler > 0
    """,
    tags=("text", "dedup", "documents"),
)
def text_boilerplate(spark, sf_dir):
    """Boilerplate contamination score per document: word-3-grams shared by
    >= _BOILER_DF distinct documents are 'boilerplate'; each doc reports its
    distinct-shingle count, how many are boilerplate, and the ratio.

    The batch analog of CCNet/RefinedWeb repeated-line removal. Scale shape:
    phrase document-frequency is a map-side-combinable count on uniform
    shingle keys; the resulting boilerplate set is tiny (power-law tail) so
    the flagging join is a broadcast; one shuffle total for the per-doc
    roll-up. Integer counts make the ratio bit-exact across engines.
    (Reference has no corpus-level text ops; nearest is per-page word count,
    extractor.py:28-31.)"""
    from doc2dataset_spark.queries.dedup import _doc_shingles

    sd = _doc_shingles(spark, sf_dir)
    boiler = (
        sd.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= _BOILER_DF)
        .select("sh", F.lit(1).alias("is_b"))
    )
    return (
        sd.join(F.broadcast(boiler), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.coalesce(F.sum("is_b"), F.lit(0)).alias("n_boiler"),
        )
        .filter(F.col("n_boiler") > 0)
        .select(
            "doc_id",
            "n_sh",
            "n_boiler",
            F.round(F.col("n_boiler") / F.col("n_sh"), 4).alias("boiler_ratio"),
        )
    )
