"""Physical-plan shape assertions — the 100 TB design guarantees
(SURVEY §4): filters reach the parquet scan, projections prune the read
schema, small dims broadcast, aggregates are partial (map-side combined),
and no pairwise operator ever degenerates into an unblocked cartesian
product. These are the properties that decide whether a plan survives a
1000-executor cluster, checked on every build."""

from __future__ import annotations

import pytest

from doc2dataset_spark.queries import REGISTRY


def plan_of(spark, name: str, sf_dir: str) -> str:
    df = REGISTRY[name].builder(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_filter_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, "q01_project_filter", sf_dir)
    assert "PushedFilters: [" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    # projection pruned to the 6 needed columns (lineitem has 11)
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert read.count(":") - 1 <= 6  # 6 fields in the struct


def test_broadcast_join(spark, sf_dir):
    plan = plan_of(spark, "q09_broadcast_join", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partial_aggregation(spark, sf_dir):
    # TPC-H Q1 must map-side combine: two HashAggregate nodes around the
    # exchange, not one global agg over raw rows
    plan = plan_of(spark, "q14_tpch_q1", sf_dir)
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning(l_returnflag" in plan


def test_no_cartesian_in_blocked_operators(spark, sf_dir):
    """Dedup/similarity candidate generation must stay an equi-join on the
    blocking key (shingle / band / bucket) — a cartesian product here means
    the operator cannot scale."""
    for name in [
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash_pairs",
        "dedup_ngram_containment",
        "fuzzy_levenshtein_pairs",
        "sim_ann_hyperplane",
        "sim_ann_ivf",
        "dedup_embedding_cell",
    ]:
        plan = plan_of(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, name


def test_embedding_cosine_is_tiled_not_nested_loop(spark, sf_dir):
    """The exact pairwise kernel must be the tile-partitioned equi-join,
    never a BroadcastNestedLoopJoin / CartesianProduct: per-task memory is
    two blocks, not an entire broadcast side."""
    plan = plan_of(spark, "dedup_embedding_cosine", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the tile table itself broadcasts; the pair join shuffles on (ba, bb)
    assert "BroadcastHashJoin" in plan


def test_tfidf_vocab_side_not_hint_broadcast(spark, sf_dir):
    """text_tfidf_topk's document-frequency table is one row per distinct
    term — unbounded on a web corpus — so the code must NOT force a
    broadcast: only the 1-row scalar N may carry a hint. Whether AQE
    auto-broadcasts from measured runtime size is Catalyst's call and is
    correct at any scale; what we pin is that we don't overrule it."""
    df = REGISTRY["text_tfidf_topk"].builder(spark, sf_dir)
    logical = str(df._jdf.queryExecution().optimizedPlan())
    hints = [l for l in logical.splitlines() if "hint" in l.lower()]
    # the scalar-N crossJoin(broadcast(...)) is the only permitted hint
    assert len(hints) <= 1, hints


@pytest.mark.parametrize(
    "name",
    ["sim_ann_hyperplane", "sim_ann_ivf_probe2"],
)
def test_self_joined_assign_frame_reuses_exchange(spark, sf_dir, name):
    """These join an aggregate-derived frame to itself (bucket/cell
    assignment joined back on the key). The expensive subtree —
    centroid scoring crossJoin + ranking (probe2) or hyperplane signature
    agg — must execute ONCE, with the second occurrence served from the
    shuffle output of the first. AQE expresses that as exchange/query-stage
    reuse in the finalized plan; if this assertion fails, the assign frame
    needs a localCheckpoint (the ml_kmeans_lite treatment)."""
    df = REGISTRY[name].builder(spark, sf_dir)
    df.collect()  # finalize THIS df's adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    reuse = (
        plan.count("ReusedExchange")
        + plan.count("ReusedQueryStage")
        + plan.count("reused")
    )
    assert reuse >= 1, f"{name}: assign subtree executed twice\n{plan}"


@pytest.mark.parametrize("name", ["sim_ann_ivf", "dedup_embedding_cell"])
def test_cell_kernel_runs_assign_once(spark, sf_dir, name):
    """Since the round-15 optimization these two no longer self-join the
    assign frame: the within-cell pair scan is one grouped NumPy kernel
    (vecmath.group_topk_blocked / cell_pairs_blocked), so the expensive
    centroid-scoring subtree appears exactly once — the property the old
    exchange-reuse assertion guarded, now held by construction."""
    df = REGISTRY[name].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    # the 16-row centroid crossJoin (a broadcast nested loop against a
    # constant-size side) must not be duplicated
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_semi_anti_join_shapes(spark, sf_dir):
    plan = plan_of(spark, "q11_semi_anti", sf_dir)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


@pytest.mark.parametrize(
    "name",
    ["q14_tpch_q1", "q08_join_chain", "q22_frame_windows"],
)
def test_whole_stage_codegen(spark, sf_dir, name):
    """The relational hot path must stay inside whole-stage codegen —
    row-at-a-time Python would show up as BatchEvalPython here. With AQE
    the codegen annotation only exists on the finalized plan, so execute
    first."""
    df = REGISTRY[name].builder(spark, sf_dir)
    df.collect()  # count() builds a different QueryExecution; collect
    # finalizes THIS df's adaptive plan
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "codegen id" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_session3_ops_stay_blocked_and_partial(spark, sf_dir):
    """Round-5 session-3 ops keep the same guarantees: the rewrite dedup
    and PQ search never degenerate into an unblocked pairwise plan, the
    CMS probe joins a broadcast sketch, and the grouping-sets query pays
    ONE Expand + shuffle for all four granularities."""
    for name in ["dedup_substring_rewrite", "sim_ann_pq", "sim_ann_ivfpq"]:
        plan = plan_of(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, name
        if name != "sim_ann_ivfpq":
            # ivfpq's coarse quantizer broadcasts 16 centroid rows via
            # crossJoin (a BNLJ against a constant-size side — the
            # sim_ann_ivf shape); the other two must have no BNLJ at all
            assert "BroadcastNestedLoopJoin" not in plan, name
        # codebook/LUT (PQ) and first-owner build (rewrite via AQE) keep
        # at least one broadcast-sized side
        assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan, name

    cms = plan_of(spark, "agg_count_min", sf_dir)
    # the d×w counter matrix is partially aggregated before the exchange
    # (shuffle carries counter partials, not exploded rows) and the probe
    # side joins the broadcast sketch
    assert cms.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in cms

    gs = plan_of(spark, "q17c_grouping_sets", sf_dir)
    # formatted explain prints each node twice (tree + detail section);
    # exactly one Expand node means one shuffle serves all four levels
    assert gs.count("+- Expand") == 1


def test_default_pipeline_has_no_single_partition_window(spark, tmp_path):
    """Round-5 verdict What's-wrong #1: the production download() path used
    to default to a global row_number window — the whole url table through
    ONE task. Keys now come from the dense per-partition-offset path. A
    single-partition exchange in the plan is the scale-killer signature
    this pins against."""
    from doc2dataset_spark.config import DownloadConfig
    from doc2dataset_spark.plans.pipeline import build_pipeline

    urls = tmp_path / "urls.csv"
    urls.write_text(
        "url\n" + "\n".join(f"file:///nonexistent/{i}.fake" for i in range(20))
    )
    cfg = DownloadConfig(
        url_list=str(urls),
        output_folder=str(tmp_path / "out"),
        input_format="csv",
        get_language=True,
    )

    def phys(df):
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        return df._jdf.queryExecution().explainString(mode)

    plan = phys(build_pipeline(spark, cfg))
    assert "SinglePartition" not in plan
    assert "row_number" not in plan
    # the language-propagation window stays, but partitioned by doc key
    assert "windowspecdefinition(key" in plan


def test_curate_corpus_embedding_stage_stays_blocked(spark, sf_dir):
    """Round-6: the curate_corpus SemDeDup stage must keep the
    dedup_embedding_cell guarantees inside the composed plan — cell
    equi-join pairs (never a cartesian/unblocked nested loop over data
    rows; the only BNLJ allowed is the 16-row broadcast centroid
    scoring), with the centroid side broadcast."""
    plan = plan_of(spark, "curate_corpus", sf_dir)
    assert "CartesianProduct" not in plan
    # centroid scoring is the only legitimate constant-size BNLJ; the
    # self-joined surv frame statically shows it once per branch and
    # formatted explain prints every node twice (tree + detail) -> <= 4
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan

    # at runtime AQE must serve the second branch's assign subtree from
    # the first's shuffle output, so centroid scoring executes ONCE
    df = REGISTRY["curate_corpus"].builder(spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    reuse = (
        final.count("ReusedExchange")
        + final.count("ReusedQueryStage")
        + final.count("reused")
    )
    assert reuse >= 1, "curate_corpus assign subtree executed twice"


def test_round7_tpch_plans(spark, sf_dir):
    """q48 (Q10): both filters reach their scans, the top-20 is a
    TakeOrderedAndProject, nation broadcasts. q49 (Q18): the quantity
    aggregate map-side combines (two HashAggregate levels) and no
    cartesian appears."""
    q48 = plan_of(spark, "q48_tpch_q10", sf_dir)
    assert "TakeOrderedAndProject" in q48
    assert "PushedFilters" in q48
    pushed = [l for l in q48.splitlines() if "PushedFilters" in l]
    assert any("l_returnflag" in l and "R" in l for l in pushed), pushed
    assert any("o_orderdate" in l for l in pushed), pushed
    assert "BroadcastHashJoin" in q48

    q49 = plan_of(spark, "q49_tpch_q18", sf_dir)
    assert q49.count("HashAggregate") >= 2
    assert "CartesianProduct" not in q49


def test_curriculum_buckets_no_global_sort(spark, sf_dir):
    """The decile bucketing must be the broadcast-cutoff plan, never an
    ntile global sort: no Sort over data rows, no Window at all, and the
    cutoff frame joins via BroadcastNestedLoopJoin/Broadcast exchange
    (1-row side)."""
    plan = plan_of(spark, "curriculum_length_buckets", sf_dir)
    assert "Window" not in plan
    assert "rangepartitioning" not in plan  # global sort signature


def test_profile_documents_single_pass(spark, sf_dir):
    """The profiler must compute every column's stats in one pass: a
    single scan of the documents table (formatted explain lists each
    scan node once in the tree and once in detail -> count == 2)."""
    plan = plan_of(spark, "profile_documents", sf_dir)
    assert plan.count("Scan parquet") <= 2, plan.count("Scan parquet")


def test_salted_join_is_shuffle_not_broadcast(spark, sf_dir):
    """join_salted_replicated exists to demonstrate salt-replication for
    skewed keys — a broadcast would mask the pattern entirely. The join
    must shuffle on the compound (source, salt) key."""
    plan = plan_of(spark, "join_salted_replicated", sf_dir)
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    # formatted mode prints join keys in the detail section
    key_lines = [
        l for l in plan.splitlines()
        if "Left keys" in l or "Right keys" in l
    ]
    assert key_lines and all("salt" in l for l in key_lines), key_lines


def _iter_plan_nodes(node):
    yield node
    for i in range(node.children().size()):
        yield from _iter_plan_nodes(node.children().apply(i))
    try:  # correlated/scalar subqueries hang off the node, not children
        subs = node.subqueries()
        for i in range(subs.size()):
            yield from _iter_plan_nodes(subs.apply(i))
    except Exception:
        pass


def test_registry_wide_no_unpartitioned_window(spark, sf_dir):
    """Registry-wide scale gate (round-6 verdict What's-wrong #1): NO
    query plan may contain a Window with an empty partitionSpec — the
    "Moving all data to a single partition" WindowExec that funnels an
    unbounded frame through one task. Global top-k must be
    orderBy().limit() (TakeOrderedAndProject: distributed partial
    top-k); share-of-total must be a broadcast scalar cross-join. The
    whitelist is EMPTY by construction — add to it only with a written
    boundedness argument."""
    # Whitelisted ONLY with a written boundedness argument:
    # - search_hybrid_rrf: its two rank windows run AFTER a limit(200) —
    #   the input is a TakeOrdered result already in one partition of at
    #   most 200 rows (a query parameter), so no corpus-scale data can
    #   ever reach them.
    whitelist: set[str] = {"search_hybrid_rrf"}
    offenders = {}
    for name, spec in REGISTRY.items():
        if name in whitelist:
            continue
        plan = (
            spec.builder(spark, sf_dir)
            ._jdf.queryExecution()
            .optimizedPlan()
        )
        for nd in _iter_plan_nodes(plan):
            if nd.nodeName() == "Window" and nd.partitionSpec().isEmpty():
                offenders[name] = str(nd.simpleString(120))[:200]
                break
    assert not offenders, (
        "unpartitioned Window (single-partition scale-killer) in: "
        f"{offenders}"
    )


def test_search_queries_prune_postings_and_stay_blocked(spark, sf_dir):
    """Round-6 search primitives: term pruning must reach below the
    posting aggregates (the IN-list filter sits under the first
    Exchange), and the phrase join stays an equi-join."""
    for name in ["search_bm25_topk", "search_boolean_and", "search_phrase"]:
        plan = plan_of(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, name
    phrase = plan_of(spark, "search_phrase", sf_dir)
    # positional join is hash/sort-merge on (doc_id, pos), never BNLJ
    assert "BroadcastNestedLoopJoin" not in phrase
    boolean = plan_of(spark, "search_boolean_and", sf_dir)
    # the IN-list prune appears as a Filter on term before aggregation
    assert "term" in boolean and "IN (" in boolean or "isin" in boolean
    # global top-k is the distributed partial top-k, not a sort or a
    # single-partition window (scalar-aggregate SinglePartition
    # exchanges over 1-row partials are fine and still present)
    for name in ["search_bm25_topk", "text_pmi_pairs"]:
        plan = plan_of(spark, name, sf_dir)
        assert "TakeOrderedAndProject" in plan, name
        assert "Window" not in plan, name


def test_q7_disjunction_derives_per_side_nation_filters(spark, sf_dir):
    """q55_tpch_q7's nation-pair OR-of-ANDs references both join sides,
    yet Catalyst's constraint propagation must derive the implied
    ``n_name IN (A, B)`` filter onto EACH nation scan (the docstring's
    claim) — at scale this prunes the broadcast build sides before the
    fact join instead of filtering after it."""
    from doc2dataset_spark.queries.core import REGISTRY
    from doc2dataset_spark.queries.tpch_more import Q7_NATION_A, Q7_NATION_B

    df = REGISTRY["q55_tpch_q7"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    derived = [
        line
        for line in plan.split("\n")
        if "Filter" in line
        and Q7_NATION_A in line
        and Q7_NATION_B in line
    ]
    assert len(derived) == 2, plan  # one per nation scan
