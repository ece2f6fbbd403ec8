"""Single source of truth for the driver-gate contract.

The round driver snapshots only the FIRST ``DRIVER_GATE_SIZE`` registered
queries into CORRECTNESS_r{N}.json. ``queries/__init__.py`` rebuilds the
registry as ``FROZEN_GATE`` followed by every other query in import
order, so this list alone decides which queries get an
externally-recorded correctness row. Registering a query never moves
the gate; editing this list is the only way to change it.

Rounds 7-8 proved why the lists live in one file: the gate list and
``MUST_BE_GATED`` were once hand-maintained in two places and drifted
(the repo's own checker exited 1 for two rounds). The test modules and
``scripts/registry_order.py`` import them from here, and the module-load
checks below make a subset violation impossible to commit.

Why the current 50 are the current 50 (full rotation history: VERDICT.md
and git history):
- the scale-critical core, ``MUST_BE_GATED`` below, plus
  dedup_ngram_jaccard, the exact ground truth every dedup detector's
  recall row is judged against.
- r7: the TPC-H Q5 join, BM25, CDC merge, the CBO join reorder, k-core
  and the model-driven curation pair (quality_dsir_weights,
  quality_classifier_lr).
- r9: the two join-heaviest TPC-H shapes (q69_tpch_q21, q64_tpch_q2) and
  the OR-amplified multi-table LSH (sim_ann_hyperplane_multi).
- r10: the round-9 flagships — text_bpe_encode (tokenizer
  train->apply), curate_corpus_scored (fixed-point model gate),
  dedup_minhash_indexed (index-served LSH), dedup_winnow.
- r11: the detector-evaluation rows dedup_simhash_recall and
  dedup_embedding_cell_recall, and the detection->decision operators
  dedup_cluster_keep_best, dedup_cluster_incremental (judged against
  the full-recompute recursive CTE), curate_ccnet_buckets,
  embedding_mrl_recall.
- r12: dedup_keep_best_incremental (shares keep_best's oracle VERBATIM:
  the gate proves warm == cold), sample_token_budget, events_asof_join
  (judged against DuckDB's native ASOF LEFT JOIN) and layout_zorder.
- r13: events_asof_nearest, events_asof_forward_bucketed (shares the
  forward oracle VERBATIM: bucketed == plain == native ASOF) and
  rollup_hypertable_incremental (fold-of-partials == recompute, on the
  direct-from-raw rollup oracle).
- r14-r15: the rest of the hypertable lifecycle on the same rollup
  oracle (asof, late, final, gapfill, deadletter, autocompact, and the
  RTBF trio) and events_asof_auto (the bucket="auto" chooser, judged on
  its BUCKETED branch).
Every demoted row stays hash-checked by tests/test_registry_gate.py's
degated-parity sweep and scripts/driver_mirror.py.
"""

from __future__ import annotations

DRIVER_GATE_SIZE = 50

# The 50 names the driver gates on, in registry order. queries/__init__.py
# puts exactly these first; every member must be registered and
# oracle-backed (pinned by tests/test_registry_gate.py).
FROZEN_GATE = [
    "text_bpe_encode",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "curate_corpus_scored",
    "dedup_minhash_indexed",
    "dedup_embedding_cosine",
    "dedup_embedding_cell",
    "dedup_cluster_cc",
    "dedup_winnow",
    "events_asof_nearest",
    "sim_ann_hyperplane",
    "sim_ann_ivf",
    "agg_salted_two_phase",
    "q12b_bucketed_range_join",
    "q69_tpch_q21",
    "rollup_hypertable_rtbf_final",
    "text_tfidf_topk",
    "q64_tpch_q2",
    "join_cbo_reordered",
    "events_asof_forward_bucketed",
    "curate_ccnet_buckets",
    "events_asof_auto",
    "events_asof_join",
    "rollup_hypertable_rtbf",
    "dedup_simhash_recall",
    "dedup_cluster_incremental",
    "sim_ann_hyperplane_multi",
    "graph_kcore",
    "dedup_cluster_keep_best",
    "layout_zorder",
    "ml_kmeans_lite",
    "q36_pandas_udf",
    "q36_apply_in_pandas",
    "sample_token_budget",
    "quality_dsir_weights",
    "quality_classifier_lr",
    "embedding_mrl_recall",
    "rollup_hypertable_rtbf_audit",
    "q46_tpch_q5",
    "rollup_hypertable_autocompact",
    "dedup_embedding_cell_recall",
    "search_bm25_topk",
    "rollup_hypertable_incremental",
    "rollup_hypertable_late",
    "dedup_keep_best_incremental",
    "rollup_hypertable_final",
    "rollup_hypertable_gapfill",
    "rollup_hypertable_deadletter",
    "merge_cdc_apply",
    "rollup_hypertable_asof",
]

# Queries that MUST keep a driver-recorded correctness row (round-2
# verdict, "Next round" #1): the scale-critical ANN/dedup/tfidf surface
# plus the Python-boundary representatives and the bucketed range join.
#
# q36 representation rationale (round-9, resolving the r7-r8 drift): of
# the six q36 UDF-surface flavors, exactly TWO hold gate slots —
# q36_pandas_udf (the scalar Arrow-batch boundary) and
# q36_apply_in_pandas (the grouped-frame boundary). q36_map_in_pandas
# exercises the same mapInPandas iterator plumbing that
# multimodal/mapInPandas tests already pin; its hash parity stays
# covered by the degated-parity pytest sweep and scripts/driver_mirror.py,
# so it no longer burns a gate slot.
MUST_BE_GATED = frozenset(
    {
        "sim_ann_hyperplane",
        "sim_ann_ivf",
        "text_tfidf_topk",
        "q12b_bucketed_range_join",
        "q36_pandas_udf",
        "q36_apply_in_pandas",
        "dedup_embedding_cosine",
        "dedup_embedding_cell",
        "dedup_minhash_lsh",
        "dedup_cluster_cc",
        "ml_kmeans_lite",
        "agg_salted_two_phase",
    }
)

# Drift is a committed-code bug, not a runtime condition: fail at import.
# Explicit raises, not assert — `python -O` strips asserts, which would
# silently disable exactly the enforcement this module exists to provide.
if len(FROZEN_GATE) != DRIVER_GATE_SIZE:
    raise RuntimeError(
        f"FROZEN_GATE has {len(FROZEN_GATE)} rows, driver gates "
        f"{DRIVER_GATE_SIZE}"
    )
if len(set(FROZEN_GATE)) != DRIVER_GATE_SIZE:
    raise RuntimeError("duplicate gate rows in FROZEN_GATE")
_missing = MUST_BE_GATED - set(FROZEN_GATE)
if _missing:
    raise RuntimeError(
        f"MUST_BE_GATED members outside FROZEN_GATE: {sorted(_missing)} — "
        "amend both in the same commit (this is the r7-r8 drift this "
        "module exists to prevent)"
    )
