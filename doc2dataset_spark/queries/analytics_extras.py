"""Event-analytics and corpus-quality extras, registered AFTER the frozen
driver gate (queries/__init__.py) and locally oracle-checked like
everything else.

- ``events_funnel``          ordered view → click → purchase funnel per
                             user: each stage must strictly follow the
                             previous user's stage timestamp — the
                             sequential-pattern query every product
                             analytics engine ships.
- ``retention_cohorts``      weekly cohort retention: users grouped by
                             first-seen week, counted in every week they
                             return — the classic triangle table.
- ``text_logprob_quality``   unigram log-probability quality proxy (the
                             cheap stand-in for a KenLM perplexity
                             filter): mean -ln p(token) per document
                             under the corpus unigram distribution.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from doc2dataset_spark.queries.core import query
from doc2dataset_spark.queries.pipeline_extras import HEAD_WORDS
from doc2dataset_spark.queries.textops import _DTOKS, _TOKS
from doc2dataset_spark.session import load_table

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


# ---------------------------------------------------------------------------
# ordered funnel
# ---------------------------------------------------------------------------
@query(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.v_ts
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
      GROUP BY e.user_id
    )
    SELECT v.user_id,
           strftime(v.v_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           strftime(c.c_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           (1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
              + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END)::INT
             AS stages_reached
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON c.user_id = p.user_id
    """,
    tags=("analytics", "events", "funnel"),
)
def events_funnel(spark, sf_dir):
    """Ordered funnel: the first view, the first click strictly AFTER
    that view, the first purchase strictly after that click — per user.
    Sequencing (not mere existence) is the semantics: a purchase before
    any click does not count, which is what separates a funnel from
    three independent counts.

    Scale shape: each stage is one filtered aggregation keyed by
    user_id plus an equi-join carrying a single timestamp per user —
    state per user is one row per stage, never the user's event list.
    The same chain extends to any stage count; no window over raw
    events, no self-join of the full table."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.date_format("v_ts", _TS_FMT).alias("view_ts"),
            F.date_format("c_ts", _TS_FMT).alias("click_ts"),
            F.date_format("p_ts", _TS_FMT).alias("purchase_ts"),
            (
                F.lit(1)
                + F.when(F.col("c_ts").isNull(), 0).otherwise(1)
                + F.when(F.col("p_ts").isNull(), 0).otherwise(1)
            )
            .cast("int")
            .alias("stages_reached"),
        )
    )


# ---------------------------------------------------------------------------
# weekly retention cohorts
# ---------------------------------------------------------------------------
@query(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), sizes AS (
      SELECT cohort_week, count(*) AS cohort_n FROM firsts GROUP BY 1
    ), act AS (
      SELECT f.cohort_week, date_trunc('week', e.ts) AS active_week,
             count(DISTINCT e.user_id) AS n_active
      FROM events e JOIN firsts f ON e.user_id = f.user_id
      GROUP BY 1, 2
    )
    SELECT strftime(a.cohort_week, '%Y-%m-%d') AS cohort_week,
           strftime(a.active_week, '%Y-%m-%d') AS active_week,
           a.n_active::BIGINT AS n_active,
           round(a.n_active::DOUBLE / s.cohort_n, 4) AS retention
    FROM act a JOIN sizes s ON a.cohort_week = s.cohort_week
    """,
    tags=("analytics", "events", "retention"),
)
def retention_cohorts(spark, sf_dir):
    """Weekly cohort retention triangle: users bucketed by their
    first-seen ISO week, counted (distinct) in every week they are
    active, with the share of the cohort still active — the table
    behind every retention curve.

    Scale shape: one per-user min aggregation, one equi-join to carry
    the cohort label, one (cohort, week)-keyed count-distinct (two-level
    hash agg). No window, no self-join of events to events; the
    count(DISTINCT) shuffle key is (cohort, week, user) — uniform."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count("*").alias("cohort_n"))
    act = (
        ev.join(firsts, "user_id")
        .groupBy(
            "cohort_week", F.date_trunc("week", F.col("ts")).alias("active_week")
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return act.join(sizes, "cohort_week").select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        F.date_format("active_week", "yyyy-MM-dd").alias("active_week"),
        F.col("n_active").cast("bigint").alias("n_active"),
        F.round(
            F.col("n_active").cast("double") / F.col("cohort_n"), 4
        ).alias("retention"),
    )


# ---------------------------------------------------------------------------
# unigram log-probability quality proxy
# ---------------------------------------------------------------------------
@query(
    "text_logprob_quality",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DTOKS}) AS token FROM documents
    ), freq AS (
      SELECT token, count(*) AS cnt FROM tok GROUP BY token
    ), n AS (
      SELECT sum(cnt) AS total FROM freq
    ), scored AS (
      SELECT t.doc_id,
             round(-ln(f.cnt::DOUBLE / n.total), 12) AS nll
      FROM tok t JOIN freq f ON t.token = f.token CROSS JOIN n
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_tokens,
           round((sum(nll::DECIMAL(38,18)) / count(*))::DOUBLE, 4)
             AS mean_nll
    FROM scored GROUP BY doc_id
    """,
    tags=("analytics", "text", "quality"),
)
def text_logprob_quality(spark, sf_dir):
    """Unigram log-probability quality proxy — the cheap stand-in for a
    KenLM perplexity filter: mean -ln p(token) per document under the
    corpus's own unigram distribution. Rare-token soup scores high
    (suspicious), common fluent text scores low; thresholding this is
    the first LM-based quality gate most corpus pipelines apply.

    Determinism: each token's -ln p is rounded to 12 dp and accumulated
    as exact DECIMAL(38,18) — the per-doc sum is then order-independent,
    the same discipline every dsum() aggregate here uses (ln itself is
    bit-identical across engines on identical doubles, the
    text_tfidf_topk precedent). Scale shape: the frequency table is one
    token-keyed aggregation; the probability join is token-keyed (AQE
    chooses broadcast when the vocabulary is small — never forced, the
    text_tfidf_topk rule); per-doc reduction is map-side combinable."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.expr(_TOKS)).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    # total tokens from the freq aggregate — not a third tokenize scan
    n = freq.agg(F.sum("cnt").alias("total"))
    scored = (
        tok.join(freq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.round(
                -F.log(F.col("cnt").cast("double") / F.col("total")), 12
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.round(
            (
                F.sum(F.col("nll").cast("decimal(38,18)")) / F.count("*")
            ).cast("double"),
            4,
        ).alias("mean_nll"),
    )


# ---------------------------------------------------------------------------
# triangle counting over the near-dup graph
# ---------------------------------------------------------------------------
from doc2dataset_spark.queries.dedup import (  # noqa: E402
    _SIMHASH_PAIRS_ORACLE,
    dedup_simhash_pairs,
)


@query(
    "graph_triangles",
    oracle=f"""
    WITH pr AS ({_SIMHASH_PAIRS_ORACLE})
    SELECT a.da AS x, a.db AS y, b.db AS z
    FROM pr a JOIN pr b ON a.db = b.da
              JOIN pr c ON c.da = a.da AND c.db = b.db
    """,
    tags=("analytics", "graph", "documents"),
)
def graph_triangles(spark, sf_dir):
    """Triangle enumeration over the SimHash near-dup graph: each
    triangle (x < y < z) is three documents that are pairwise near-dups
    — the density signal that separates a true duplicate CLUSTER from a
    chain of borderline pairs (clustering coefficient, community
    strength; the standard graph-quality diagnostic next to connected
    components).

    Scale shape: the canonical two-join triangle enumeration over an
    ordered edge list (da < db everywhere, so each triangle is produced
    exactly once): first join keyed on the shared vertex, closing join
    keyed on BOTH endpoints — equi-joins only, never a cartesian. Edge
    lists are near-dup output (sparse by construction), and the ordered
    orientation bounds each vertex's join fan-out by its out-degree."""
    # three self-references below; without a cut the band-join + distinct
    # + hamming-verify pipeline executes once per reference (plan-checked:
    # 0 ReusedExchange). The edge list is near-dup output — tiny relative
    # to the corpus — so one eager localCheckpoint trades a small
    # materialization for two recomputations of the heavy subtree.
    p = (
        dedup_simhash_pairs(spark, sf_dir)
        .select("da", "db")
        .localCheckpoint(eager=True)
    )
    a = p.alias("a")
    b = p.alias("b")
    c = p.alias("c")
    return (
        a.join(b, F.col("a.db") == F.col("b.da"))
        .join(
            c,
            (F.col("c.da") == F.col("a.da")) & (F.col("c.db") == F.col("b.db")),
        )
        .select(
            F.col("a.da").alias("x"),
            F.col("a.db").alias("y"),
            F.col("b.db").alias("z"),
        )
    )


# ---------------------------------------------------------------------------
# within-document duplicate-chunk fraction (Gopher dup-paragraph analog)
# ---------------------------------------------------------------------------
from doc2dataset_spark.queries.pipeline_extras import (  # noqa: E402
    _CHUNKS,
    _DUCK_CHUNK_CTE,
)

DUP_CHUNK_FLAG = 0.2


@query(
    "text_dup_chunk_fraction",
    oracle=f"""
    {_DUCK_CHUNK_CTE}
    , pc AS (
      SELECT doc_id, span, count(*) AS c FROM ch GROUP BY doc_id, span
    )
    SELECT doc_id,
           sum(c)::BIGINT AS n_chunks,
           sum(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS dup_chunks,
           round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / sum(c), 4)
             AS dup_fraction,
           sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / sum(c)
             > {DUP_CHUNK_FLAG} AS flagged
    FROM pc GROUP BY doc_id
    """,
    tags=("analytics", "text", "quality"),
)
def text_dup_chunk_fraction(spark, sf_dir):
    """Within-document self-repetition: the fraction of a document's
    8-word chunks that occur more than once INSIDE the same document —
    the Gopher "duplicate paragraph fraction" rule at chunk granularity
    (catches looped boilerplate and template spam that the cross-doc
    span miner and the top-bigram rule both miss).

    Scale shape: the same non-overlapping chunk explode as
    dedup_boilerplate_spans (linear, 1/8 of shingle volume) but keyed by
    (doc_id, span) then doc_id — both aggregations map-side combinable,
    no join anywhere."""
    d = load_table(spark, sf_dir, "documents")
    pc = (
        d.select("doc_id", F.explode(F.expr(_CHUNKS)).alias("span"))
        .groupBy("doc_id", "span")
        .agg(F.count("*").alias("c"))
    )
    dup = F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
    frac = dup.cast("double") / F.sum("c")
    return pc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_chunks"),
        dup.cast("bigint").alias("dup_chunks"),
        F.round(frac, 4).alias("dup_fraction"),
        (frac > DUP_CHUNK_FLAG).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# sliding-window counts (overlapping windows, batch form)
# ---------------------------------------------------------------------------
@query(
    "events_sliding_counts",
    oracle="""
    WITH b AS (
      -- floor division (// truncates toward zero; the CASE repairs
      -- negative non-multiples so pre-epoch events land in the right hour)
      SELECT event_type,
             epoch_us(ts) // 3600000000
               - CASE WHEN epoch_us(ts) < 0
                       AND epoch_us(ts) % 3600000000 <> 0
                      THEN 1 ELSE 0 END AS hr
      FROM events
    ), assigned AS (
      -- a 2h-wide window sliding by 1h: each event belongs to the window
      -- starting at its own hour and the one starting an hour earlier
      SELECT event_type, unnest([hr, hr - 1]) AS win_start FROM b
    )
    SELECT win_start, event_type, count(*)::BIGINT AS n
    FROM assigned GROUP BY win_start, event_type
    """,
    tags=("analytics", "events", "window"),
)
def events_sliding_counts(spark, sf_dir):
    """Overlapping sliding-window counts (2-hour windows every hour) —
    the batch twin of streaming's window(ts, '2 hours', '1 hour'): each
    event is assigned to width/slide = 2 windows by explosion, then an
    ordinary hash aggregate counts per (window, type). Window starts are
    keyed by epoch hour.

    Scale shape: the explode multiplies rows by the constant
    width/slide factor (2), then one map-side-combinable aggregation —
    the standard way to get overlapping windows without a range join or
    a window function over a global sort."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        # DIV truncates toward zero; repair negatives so the bucketing is a
        # true floor, matching streaming window(ts, '2 hours', '1 hour')
        F.expr(
            "unix_micros(ts) DIV 3600000000"
            " - (CASE WHEN unix_micros(ts) < 0"
            " AND unix_micros(ts) % 3600000000 != 0 THEN 1 ELSE 0 END)"
        ).alias("hr"),
    )
    assigned = b.select(
        "event_type",
        F.explode(F.expr("array(hr, hr - 1)")).alias("win_start"),
    )
    return assigned.groupBy("win_start", "event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )


# ---------------------------------------------------------------------------
# robust anomaly detection (median / MAD)
# ---------------------------------------------------------------------------
MAD_K = 3.5  # flag threshold in MAD units (the standard robust cutoff)


@query(
    "events_anomaly_robust",
    oracle=f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type,
           CASE WHEN d.mad = 0 THEN NULL
                ELSE round(abs(e.value - m.med) / d.mad, 4) END AS mad_score
    FROM events e JOIN med m ON e.event_type = m.event_type
                  JOIN dev d ON e.event_type = d.event_type
    WHERE CASE WHEN d.mad = 0 THEN e.value <> m.med
               ELSE abs(e.value - m.med) / d.mad > {MAD_K} END
    """,
    tags=("analytics", "events", "anomaly"),
)
def events_anomaly_robust(spark, sf_dir):
    """Robust outlier detection per event type: flag events whose value
    sits more than MAD_K median-absolute-deviations from the type's
    median — the telemetry-cleaning rule that survives the heavy tails
    that break mean/stddev z-scores (the outliers being hunted would
    inflate a stddev and hide themselves).

    Determinism: median and MAD are exact interpolated percentiles
    (Spark ``percentile`` == DuckDB ``quantile_cont``, the
    agg_percentiles precedent) — order-independent by construction, so
    no decimal-sum machinery is needed anywhere. Scale shape: two
    grouped percentile aggregations over a handful of event types, each
    result a tiny frame joined back (AQE broadcasts them); the flag is
    then a row-local expression over one corpus scan."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = (
        ev.join(med, "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    scored = ev.join(med, "event_type").join(dev, "event_type")
    score = F.abs(F.col("value") - F.col("med")) / F.col("mad")
    # degenerate guard: a type where >=50% of values are identical has
    # MAD = 0 and score = NULL for every row — which would silently
    # unflag arbitrarily extreme outliers. Fall back to "any deviation
    # from the median is anomalous" for such types (score undefined).
    keep = F.when(F.col("mad") == 0, F.col("value") != F.col("med")).otherwise(
        score > MAD_K
    )
    return scored.filter(keep).select(
        "event_id",
        "event_type",
        F.when(F.col("mad") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(score, 4))
        .alias("mad_score"),
    )


# ---------------------------------------------------------------------------
# MinHash estimate-vs-truth audit
# ---------------------------------------------------------------------------
from doc2dataset_spark.queries.dedup import (  # noqa: E402
    _DSHINGLES,
    _H48_DUCK,
    _MINHASH_BANDS_SQL,
    _MINHASH_SIG_SQL,
    N_PERM,
    P,
    _band_cols,
    _doc_shingles,
    minhash_sig_of,
)

# one definition, both engines (it is engine-neutral SQL): fraction of
# matching signature components
_EST_TERMS = " + ".join(
    f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END" for j in range(N_PERM)
)


@query(
    "dedup_minhash_estimate",
    oracle=f"""
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
    -- LEFT join + coalesce: a band collision between docs with ZERO shared
    -- shingles is a pure LSH false positive — the exact case this audit
    -- exists to expose (est high, jaccard 0); an inner join would drop it
    SELECT c.da, c.db,
           round(({_EST_TERMS})::DOUBLE / {N_PERM}, 4) AS est_jaccard,
           round(coalesce(s.sh_n, 0)::DOUBLE
                 / (ca.n + cb.n - coalesce(s.sh_n, 0)), 4) AS jaccard
    FROM cand c
    LEFT JOIN shared s ON s.da = c.da AND s.db = c.db
    JOIN sig sa ON sa.doc_id = c.da
    JOIN sig sb ON sb.doc_id = c.db
    JOIN cnt ca ON ca.doc_id = c.da
    JOIN cnt cb ON cb.doc_id = c.db
    """,
    tags=("analytics", "dedup", "documents"),
)
def dedup_minhash_estimate(spark, sf_dir):
    """The MinHash audit every production dedup pipeline should ship: for
    each LSH candidate pair, the signature-estimated Jaccard (fraction of
    matching minhash components — the quantity the sketch actually
    promises, E[est] = J) next to the true shingle Jaccard. Thresholding
    on the estimate instead of the exact verify is the O(1)-per-pair
    scale move; this query measures exactly what that trade costs on
    this corpus.

    Scale shape: identical candidate generation to dedup_minhash_lsh
    (band equi-join); the estimate is a 16-column signature self-join
    (fixed-width rows keyed by doc_id), the truth the same shared-shingle
    count the LSH verify pays. Nothing here widens beyond the candidate
    set."""
    sd = _doc_shingles(spark, sf_dir)
    # ONE signature computation; bands derive from it via posexplode (the
    # dedup_minhash_lsh pattern) — never a second shingle/hash pipeline
    sig = minhash_sig_of(sd)
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*[F.expr(e) for e in _band_cols()])).alias(
            "band", "bh"
        ),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    cnt = sd.groupBy("doc_id").agg(F.count("*").alias("n"))
    p = sd.alias("p")
    q = sd.alias("q")
    shared = (
        cand.join(p, F.col("p.doc_id") == F.col("da"))
        .join(
            q,
            (F.col("q.doc_id") == F.col("db")) & (F.col("q.sh") == F.col("p.sh")),
        )
        .groupBy("da", "db")
        .agg(F.count("*").alias("sh_n"))
    )
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    est = F.expr(f"({_EST_TERMS}) / CAST({N_PERM} AS double)")
    # LEFT join + coalesce: zero-shared-shingle band collisions are pure
    # LSH false positives — the audit must show them (est high, jaccard 0),
    # not drop them
    sh_n = F.coalesce(F.col("sh_n"), F.lit(0))
    true_j = sh_n.cast("double") / (F.col("ca.n") + F.col("cb.n") - sh_n)
    return (
        cand.join(shared, ["da", "db"], "left")
        .join(sa, F.col("sa.doc_id") == F.col("da"))
        .join(sb, F.col("sb.doc_id") == F.col("db"))
        .join(ca, F.col("ca.doc_id") == F.col("da"))
        .join(cb, F.col("cb.doc_id") == F.col("db"))
        .select(
            "da",
            "db",
            F.round(est, 4).alias("est_jaccard"),
            F.round(true_j, 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# IVF ANN over TRAINED centroids
# ---------------------------------------------------------------------------
from doc2dataset_spark.queries.dedup import spark_dot  # noqa: E402
from doc2dataset_spark.queries.ml import _KMEANS_CTES, kmeans_assign  # noqa: E402
from doc2dataset_spark.queries.scale import IVF_TOP_K  # noqa: E402


@query(
    "sim_ann_ivf_trained",
    oracle=f"""
    {_KMEANS_CTES}
    , scored AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             list_dot_product(q.qd, c.qd) AS cos
      FROM a2 q JOIN a2 c
        ON q.cell = c.cell AND c.vec_id <> q.vec_id
    )
    SELECT qid, cid, cos FROM (
      SELECT qid, cid, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, cid) AS rn
      FROM scored
    ) WHERE rn <= {IVF_TOP_K}
    """,
    tags=("analytics", "similarity", "embeddings", "scale"),
)
def sim_ann_ivf_trained(spark, sf_dir):
    """IVF ANN over TRAINED coarse centroids: the cell table comes from
    the k-means loop (ml.kmeans_assign, 2 Lloyd iterations) instead of
    sim_ann_ivf's raw seed vectors — the claim in sim_ann_ivf's docstring
    ("a trained-kmeans centroid table slots into the same plan") made
    real and oracle-exact. Trained cells track the data distribution, so
    cell populations are more balanced and within-cell neighbors are
    likelier true neighbors — the production IVF recipe (train on a
    sample, quantize the corpus, serve cell joins).

    Scale shape: identical to sim_ann_ivf — the training loop collects
    only k×dim integer sums per iteration, assignment is a broadcast of
    k centroid literals, and the search is a cell-id equi-join plus a
    per-query top-k window. The oracle unrolls the same two iterations
    in SQL (shared CTE chain with ml_kmeans_lite)."""
    from pyspark.sql import Window as W

    assign = kmeans_assign(spark, sf_dir).localCheckpoint(eager=True)
    q = assign.alias("q")
    c = assign.alias("c")
    scored = q.join(
        c,
        (F.col("q.cell") == F.col("c.cell"))
        & (F.col("c.vec_id") != F.col("q.vec_id")),
    ).select(
        F.col("q.vec_id").alias("qid"),
        F.col("c.vec_id").alias("cid"),
        spark_dot(F.col("q.qd"), F.col("c.qd")).alias("cos"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos"), "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= IVF_TOP_K)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# deterministic per-group mode (round 6)
# ---------------------------------------------------------------------------
@query(
    "agg_mode_per_group",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id % 16 AS cohort, count(*)::BIGINT AS n
      FROM events GROUP BY event_type, user_id % 16
    )
    SELECT event_type,
           (max({'n': n, 'neg': -cohort, 'cohort': cohort})).cohort
             AS mode_cohort,
           (max({'n': n, 'neg': -cohort, 'cohort': cohort})).n
             AS mode_n
    FROM c GROUP BY event_type
    """,
    tags=("agg", "analytics", "events"),
)
def agg_mode_per_group(spark, sf_dir):
    """Per-group MODE (most frequent value) with EXPLICIT deterministic
    tie-breaking — count DESC, value ASC — via the max(struct) argmax
    instead of the engines' native mode() (whose tie choice is
    engine/order-defined and therefore un-oracle-able). Two
    map-side-combinable aggregates, no window, no sort.

    Scale shape: the inner count groups on (group, value) — the same key
    a native mode must hash anyway; the outer argmax carries one struct
    per (group, value) row."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("user_id % 16").alias("cohort")
    )
    c = e.groupBy("event_type", "cohort").agg(F.count("*").alias("n"))
    best = F.max(
        F.struct(
            F.col("n"), (-F.col("cohort")).alias("neg"), F.col("cohort")
        )
    ).alias("best")
    return (
        c.groupBy("event_type")
        .agg(best)
        .select(
            "event_type",
            F.col("best.cohort").alias("mode_cohort"),
            F.col("best.n").alias("mode_n"),
        )
    )


# ---------------------------------------------------------------------------
# equi-width histogram (round 6)
# ---------------------------------------------------------------------------
HIST_BINS = 20
HIST_LO, HIST_HI = 0.0, 500.0  # events.value spans ~(0, 490]


@query(
    "events_histogram",
    oracle=f"""
    SELECT event_type,
           CASE WHEN value < {HIST_LO} THEN 0
                WHEN value >= {HIST_HI} THEN {HIST_BINS} + 1
                ELSE floor((value - {HIST_LO}) * {HIST_BINS}
                           / ({HIST_HI} - {HIST_LO}))::BIGINT + 1
           END AS bin,
           count(*)::BIGINT AS n,
           round(min(value), 4) AS lo,
           round(max(value), 4) AS hi
    FROM events
    GROUP BY event_type, bin
    """,
    tags=("agg", "analytics", "events"),
)
def events_histogram(spark, sf_dir):
    """Per-type equi-width histogram of event values (bin 0 = underflow,
    HIST_BINS+1 = overflow, [lo,hi) interior — one shared explicit
    formula in both engines), with per-bin min/max so the bins are
    self-describing.
    The one-pass distributed histogram every monitoring layer needs.

    Scale shape: one map-side-combinable aggregate keyed by
    (type, bin) — at most |types|·(bins+2) output rows regardless of
    event count; no shuffle carries raw events beyond the partial
    aggregation."""
    e = load_table(spark, sf_dir, "events")
    # explicit arithmetic instead of width_bucket: DuckDB has no
    # width_bucket, and sharing one formula keeps edge handling
    # (underflow 0 / overflow bins+1 / [lo,hi) interior) bit-identical
    bin_ = (
        F.when(F.col("value") < HIST_LO, F.lit(0))
        .when(F.col("value") >= HIST_HI, F.lit(HIST_BINS + 1))
        .otherwise(
            F.floor(
                (F.col("value") - HIST_LO) * HIST_BINS
                / (HIST_HI - HIST_LO)
            )
            + 1
        )
        .cast("bigint")
    )
    return (
        e.groupBy("event_type", bin_.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# last-touch attribution (round 6)
# ---------------------------------------------------------------------------
@query(
    "events_attribution",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    ), touches AS (
      SELECT user_id, event_id AS touch_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'click')
    )
    SELECT p.event_id AS purchase_id,
           (max({{'ts': strftime(t.ts, '%Y-%m-%d %H:%M:%S'),
                 'neg': -t.touch_id,
                 'id': t.touch_id,
                 'typ': t.event_type}})).id AS touch_id,
           (max({{'ts': strftime(t.ts, '%Y-%m-%d %H:%M:%S'),
                 'neg': -t.touch_id,
                 'id': t.touch_id,
                 'typ': t.event_type}})).typ AS touch_type,
           count(*)::BIGINT AS n_touches
    FROM p JOIN touches t
      ON t.user_id = p.user_id AND t.ts < p.ts
    GROUP BY p.event_id
    """,
    tags=("analytics", "events", "attribution"),
)
def events_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase credits the user's most
    recent prior view/click (latest formatted-second ts; same-second
    ties resolve to the LOWEST touch_id via the -id field in the argmax
    struct — deterministic and engine-identical). Also counts the
    touches considered.

    Scale shape: one (user_id) equi-join between purchases and touches
    with the time predicate as a join residual, then a per-purchase
    max(struct) argmax — map-side combinable, no window over the raw
    event stream. Skew bounded by per-user activity (the AQE skew-join
    guard applies on a pathological user)."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    t = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("touch_id"),
        "ts",
        "event_type",
    )
    joined = p.join(
        t,
        (F.col("t_user") == F.col("p_user")) & (F.col("ts") < F.col("p_ts")),
    )
    best = F.max(
        F.struct(
            F.date_format("ts", _TS_FMT).alias("ts"),
            (-F.col("touch_id")).alias("neg"),
            F.col("touch_id").alias("id"),
            F.col("event_type").alias("typ"),
        )
    ).alias("best")
    return (
        joined.groupBy("purchase_id")
        .agg(best, F.count("*").alias("n_touches"))
        .select(
            "purchase_id",
            F.col("best.id").alias("touch_id"),
            F.col("best.typ").alias("touch_type"),
            "n_touches",
        )
    )


# ---------------------------------------------------------------------------
# regular-grid resampling with forward fill (round 6)
# ---------------------------------------------------------------------------
@query(
    "events_resample_ffill",
    oracle="""
    WITH b AS (
      SELECT user_id, min(date_trunc('day', ts)) AS lo,
             max(date_trunc('day', ts)) AS hi
      FROM events GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
      FROM b
    ), daily AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             round(SUM(CAST(value AS DECIMAL(38,6))), 4)::DOUBLE AS day_value
      FROM events GROUP BY user_id, day
    )
    SELECT g.user_id,
           strftime(g.day, '%Y-%m-%d') AS day,
           d.day_value IS NOT NULL AS observed,
           last_value(d.day_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS UNBOUNDED PRECEDING
           ) AS value_ffill
    FROM grid g LEFT JOIN daily d
      ON d.user_id = g.user_id AND d.day = g.day
    """,
    tags=("analytics", "events", "timeseries"),
)
def events_resample_ffill(spark, sf_dir):
    """Regular-grid resampling with forward fill: each user's daily value
    series re-expressed on a gapless day grid spanning their first-to-
    last activity, missing days carrying the last observed daily total
    (LOCF — the standard prep before any time-series model that assumes
    regular sampling). Day totals use the exact-decimal SUM so both
    engines agree; the fill itself is last(ignorenulls) over the grid.

    Scale shape: the grid explode is bounded by (users × span-days), a
    PARAMETER-shaped frame, not event count; daily totals are map-side
    combinable; the ffill window partitions per user over that bounded
    grid. Raw events never pass through a window."""
    e = load_table(spark, sf_dir, "events")
    b = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    grid = b.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    daily = e.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.round(F.sum(F.col("value").cast("decimal(38,6)")), 4)
        .cast("double")
        .alias("day_value")
    )
    j = grid.join(daily, ["user_id", "day"], "left")
    from pyspark.sql import Window as _W

    w = (
        _W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("day_value").isNotNull().alias("observed"),
        F.last("day_value", ignorenulls=True).over(w).alias("value_ffill"),
    )


# ---------------------------------------------------------------------------
# interval concurrency via sweep line (round 6)
# ---------------------------------------------------------------------------
CONC_DUR_MIN = 10  # each event held "active" for 10 minutes


@query(
    "events_max_concurrency",
    oracle=f"""
    WITH pts AS (
      SELECT event_type, event_id, ts AS t, 1 AS d FROM events
      UNION ALL
      SELECT event_type, event_id,
             ts + INTERVAL {CONC_DUR_MIN} MINUTE, -1 FROM events
    ), swept AS (
      SELECT event_type, t,
             sum(d) OVER (PARTITION BY event_type
                          ORDER BY t, d, event_id
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS conc
      FROM pts
    )
    SELECT event_type,
           (max({{'c': conc, 'nt': -epoch_us(t), 't': strftime(t,
                 '%Y-%m-%d %H:%M:%S')}})).c AS max_concurrency,
           (max({{'c': conc, 'nt': -epoch_us(t), 't': strftime(t,
                 '%Y-%m-%d %H:%M:%S')}})).t AS at_time
    FROM swept GROUP BY event_type
    """,
    tags=("analytics", "events", "intervals"),
)
def events_max_concurrency(spark, sf_dir):
    """Max concurrent intervals per event type (each event active for
    CONC_DUR_MIN minutes) — the sweep-line classic: explode every
    interval into a +1 start and a -1 end point, running-sum in time
    order (ends sort before starts at the same instant via d ASC, so
    touching intervals don't count as concurrent; event_id breaks exact
    ties), take the per-type argmax with earliest-time tiebreak.

    Scale shape: the sweep is a per-type window over 2n points — at
    100 TB you'd pre-bucket time and run the same sweep per bucket with
    carried-in offsets (the pack_sequences shard discipline); the
    argmax is a map-side-combinable max(struct)."""
    e = load_table(spark, sf_dir, "events")
    starts = e.select(
        "event_type", "event_id", F.col("ts").alias("t"), F.lit(1).alias("d")
    )
    ends = e.select(
        "event_type",
        "event_id",
        (F.col("ts") + F.expr(f"INTERVAL {CONC_DUR_MIN} MINUTE")).alias("t"),
        F.lit(-1).alias("d"),
    )
    pts = starts.unionByName(ends)
    w = (
        W.partitionBy("event_type")
        .orderBy("t", "d", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    swept = pts.select(
        "event_type", "t", F.sum("d").over(w).cast("bigint").alias("conc")
    )
    best = F.max(
        F.struct(
            F.col("conc").alias("c"),
            (-F.unix_micros("t")).alias("nt"),
            F.date_format("t", _TS_FMT).alias("t"),
        )
    ).alias("best")
    return (
        swept.groupBy("event_type")
        .agg(best)
        .select(
            "event_type",
            F.col("best.c").alias("max_concurrency"),
            F.col("best.t").alias("at_time"),
        )
    )


# ---------------------------------------------------------------------------
# conversion-window funnel
# ---------------------------------------------------------------------------
FUNNEL_CLICK_WINDOW_DAYS = 3
FUNNEL_PURCHASE_WINDOW_DAYS = 7


@query(
    "events_funnel_windowed",
    oracle=f"""
    WITH v AS (
      SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.v_ts
        AND e.ts <= v.v_ts + INTERVAL {FUNNEL_CLICK_WINDOW_DAYS} DAY
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        AND e.ts <= c.c_ts + INTERVAL {FUNNEL_PURCHASE_WINDOW_DAYS} DAY
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v)::BIGINT AS n_viewed,
           (SELECT count(*) FROM c)::BIGINT AS n_clicked_in_window,
           (SELECT count(*) FROM p)::BIGINT AS n_purchased_in_window,
           round((SELECT count(*) FROM p)::DOUBLE
                 / (SELECT count(*) FROM v), 4) AS conversion
    """,
    tags=("analytics", "events", "funnel"),
)
def events_funnel_windowed(spark, sf_dir):
    """Conversion-window funnel: click within FUNNEL_CLICK_WINDOW_DAYS
    of the first view, purchase within FUNNEL_PURCHASE_WINDOW_DAYS of
    that click — the industry-standard attribution funnel (unbounded
    ordered funnels overcount: a purchase months later is not a
    conversion). Summary row: stage cardinalities + end-to-end
    conversion rate.

    Scale shape: identical to events_funnel (one filtered aggregation
    per stage, single-timestamp state per user, no raw-event window);
    the window bound is one extra residual per join. The final counts
    are three scalar aggregates — the counts join as 1-row broadcasts.
    Deterministic: counts are exact integers, the rate is one double
    division (the retention precedent)."""
    ev = load_table(spark, sf_dir, "events")
    cw = F.expr(f"INTERVAL {FUNNEL_CLICK_WINDOW_DAYS} DAYS")
    pw = F.expr(f"INTERVAL {FUNNEL_PURCHASE_WINDOW_DAYS} DAYS")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("v_ts"))
            & (F.col("ts") <= F.col("v_ts") + cw)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("c_ts"))
            & (F.col("ts") <= F.col("c_ts") + pw)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    nv = v.agg(F.count(F.lit(1)).cast("bigint").alias("n_viewed"))
    nc = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clicked_in_window")
    )
    np_ = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchased_in_window")
    )
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_viewed",
            "n_clicked_in_window",
            "n_purchased_in_window",
            F.round(
                F.col("n_purchased_in_window").cast("double")
                / F.col("n_viewed"),
                4,
            ).alias("conversion"),
        )
    )


# ---------------------------------------------------------------------------
# corpus accounting: source overlap, language fertility, profiling
# ---------------------------------------------------------------------------
@query(
    "corpus_source_overlap",
    oracle=f"""
    WITH fp AS (
      SELECT DISTINCT
             md5(array_to_string({_DTOKS}[1:{HEAD_WORDS}], ' ')) AS fp,
             source
      FROM documents WHERE len({_DTOKS}) > 0
    )
    SELECT a.source AS source_a, b.source AS source_b,
           count(*)::BIGINT AS shared_heads
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    tags=("dedup", "documents", "accounting"),
)
def corpus_source_overlap(spark, sf_dir):
    """Cross-source contamination matrix: for every source pair, how
    many distinct head-fingerprints they share — the measurement that
    decides cross-source dedup priorities (dedup_cross_source) and
    flags a source as a re-crawl of another.

    Scale shape: fingerprints are row-local md5s; the distinct
    (fp, source) frame is corpus-bounded; the pair join is an equi-join
    on fp whose per-key fan-out is bounded by the source count (≤ S rows
    per fingerprint after distinct), so worst-case join output is
    S²/2 per fingerprint — a parameter, not data."""
    fp = (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(F.expr(_TOKS)) > 0)
        .select(
            F.md5(
                F.expr(f"array_join(slice({_TOKS}, 1, {HEAD_WORDS}), ' ')")
            ).alias("fp"),
            "source",
        )
        .distinct()
    )
    a = fp.alias("a")
    b = fp.select(
        F.col("fp").alias("fp_b"), F.col("source").alias("source_b")
    )
    return (
        a.join(
            b,
            (F.col("fp") == F.col("fp_b"))
            & (F.col("source") < F.col("source_b")),
        )
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(F.count("*").alias("shared_heads"))
    )


@query(
    "text_lang_fertility",
    oracle=f"""
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(len({_DTOKS}))::BIGINT AS n_tokens,
           sum(n_chars)::BIGINT AS total_chars,
           round(sum(n_chars)::DOUBLE
                 / greatest(sum(len({_DTOKS})), 1), 4) AS chars_per_token
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "documents", "accounting"),
)
def text_lang_fertility(spark, sf_dir):
    """Per-language tokenizer-fertility accounting: docs, tokens, chars,
    and chars/token per language — the table that calibrates per-language
    token budgets (fertility differences are why 'equal bytes' is not
    'equal tokens' across languages).

    Scale shape: one map-side-combinable aggregate keyed by lang (all
    inputs integral, ratio derived post-agg from exact sums — bit-equal
    on both engines)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.expr(_TOKS))).cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(
            F.sum("n_chars").cast("double")
            / F.greatest(F.sum(F.size(F.expr(_TOKS))), F.lit(1)),
            4,
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# one-pass column profiling (the SUMMARIZE / data-profiling workload)
# ---------------------------------------------------------------------------
_PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]


@query(
    "profile_documents",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name,
           count(*)::BIGINT AS n_rows,
           (count(*) - count({c}))::BIGINT AS n_null,
           count(DISTINCT {c})::BIGINT AS n_distinct,
           min({c})::VARCHAR AS min_str,
           max({c})::VARCHAR AS max_str
    FROM documents"""
        for c in _PROFILE_COLS
    ),
    tags=("quality", "documents", "profiling"),
)
def profile_documents(spark, sf_dir):
    """Column profiling in ONE scan: per-column row/null/exact-distinct
    counts and min/max (stringified for a uniform schema) — the
    SUMMARIZE / data-contract baseline a quality dashboard reads.

    Scale shape: a single wide aggregate computes every column's
    profile in one pass (Catalyst plans the multiple exact DISTINCTs via
    one Expand — one shuffle, rows×|cols| expanded but map-side
    combined), then a literal-keyed stack reshapes the 1-row result into
    one row per column — no per-column re-scan, no second pass over the
    data. text is profiled via the quality/fertility queries instead
    (distinct-count on a long text column is a hash of the whole corpus
    — wasteful next to the fingerprint ops that already exist)."""
    d = load_table(spark, sf_dir, "documents")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count("*").alias(f"{c}__n"),
            (F.count("*") - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__dist"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = d.agg(*aggs)
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(f"{c}__n").alias("n_rows"),
                        F.col(f"{c}__null").alias("n_null"),
                        F.col(f"{c}__dist").alias("n_distinct"),
                        F.col(f"{c}__min").alias("min_str"),
                        F.col(f"{c}__max").alias("max_str"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.*")


# ---------------------------------------------------------------------------
# event path mining: top event-type n-grams
# ---------------------------------------------------------------------------
PATH_N = 3  # event-type n-gram width
PATH_TOPK = 20


@query(
    "events_top_paths",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             list(event_type ORDER BY ts, event_id) AS evs
      FROM events GROUP BY user_id
    ), grams AS (
      SELECT unnest(list_transform(
               range(1, len(evs) - {PATH_N} + 2),
               i -> array_to_string(evs[i:i + {PATH_N} - 1], '>')
             )) AS path
      FROM seq WHERE len(evs) >= {PATH_N}
    )
    SELECT path, count(*)::BIGINT AS n FROM grams
    GROUP BY path
    ORDER BY n DESC, path
    LIMIT {PATH_TOPK}
    """,
    tags=("events", "analytics", "paths"),
)
def events_top_paths(spark, sf_dir):
    """User-journey path mining: the PATH_TOPK most common length-PATH_N
    event-type sequences across per-user ordered streams — the
    "what do users do before X" table behind funnel design.

    Scale shape: per-user state is bounded by that user's event count
    (collect_list keyed by user_id — same bound every sessionization
    op carries); n-grams explode row-locally from the collected array;
    the count is map-side combinable on the path string (≤ |types|^N
    distinct keys — a parameter); the top-k is TakeOrderedAndProject.
    Ordering inside a user is (ts, event_id) — a total order, so both
    engines build identical sequences."""
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id,"
                " event_type))), s -> s.event_type)"
            ).alias("evs")
        )
        .filter(F.size("evs") >= PATH_N)
    )
    grams = seq.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, size(evs) - {PATH_N}),"
                f" i -> array_join(slice(evs, i + 1, {PATH_N}), '>'))"
            )
        ).alias("path")
    )
    return (
        grams.groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(PATH_TOPK)
    )


# ---------------------------------------------------------------------------
# corpus health report
# ---------------------------------------------------------------------------
@query(
    "corpus_health_report",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, lang, n_chars, md5(text) AS digest
      FROM documents
    ), top_lang AS (
      SELECT lang, count(*) AS n FROM d GROUP BY lang
      ORDER BY n DESC, lang LIMIT 1
    )
    SELECT count(*)::BIGINT AS n_docs,
           count(DISTINCT source)::BIGINT AS n_sources,
           count(DISTINCT lang)::BIGINT AS n_langs,
           round(1.0 - count(DISTINCT digest)::DOUBLE / count(*), 6)
             AS exact_dup_rate,
           round(SUM(CAST(n_chars AS DECIMAL(38,6)))::DOUBLE / count(*), 2)
             AS mean_chars,
           (SELECT lang FROM top_lang) AS top_lang,
           round((SELECT n FROM top_lang)::DOUBLE / count(*), 4)
             AS top_lang_share
    FROM d
    """,
    tags=("curation", "documents", "reporting"),
)
def corpus_health_report(spark, sf_dir):
    """The one-row corpus dashboard: volume, source/language breadth,
    exact-digest duplicate rate, mean document length, dominant
    language and its share — the numbers a curation run prints first,
    composed from the registry's own primitives into a single pass plus
    one tiny top-1 aggregate.

    Scale shape: one scan feeds a global aggregate whose distinct
    counts are exact (shuffle on each distinct key, partial-aggregated);
    the top-language pick is a 1-row TakeOrdered over |langs| rows with
    a name tiebreak, broadcast back. All ratios divide exact
    counts/decimal sums in double (retention precedent)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars", F.md5("text").alias("digest")
    )
    top = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "lang")
        .limit(1)
        .select(
            F.col("lang").alias("top_lang"), F.col("n").alias("top_n")
        )
    )
    return (
        d.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.round(
                1.0
                - F.countDistinct("digest").cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("exact_dup_rate"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                2,
            ).alias("mean_chars"),
        )
        .crossJoin(F.broadcast(top))
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            "exact_dup_rate",
            "mean_chars",
            "top_lang",
            F.round(
                F.col("top_n").cast("double") / F.col("n_docs"), 4
            ).alias("top_lang_share"),
        )
    )
