"""Lock the driver-gate view of the query registry.

The round driver snapshots only the first 50 registered queries into
CORRECTNESS_r{N}.json. Round 2 was dinged for letting a new registration
silently displace `sim_ann_hyperplane` out of that window; this test makes
any such displacement a loud failure instead.
"""

from doc2dataset_spark.queries import REGISTRY, all_oracles, all_queries
from doc2dataset_spark.queries.gate import (
    DRIVER_GATE_SIZE as DRIVER_SNAPSHOT_ROWS,
    MUST_BE_GATED,
)


def test_scale_critical_queries_inside_driver_gate():
    gated = set(list(REGISTRY)[:DRIVER_SNAPSHOT_ROWS])
    missing = MUST_BE_GATED - gated
    assert not missing, (
        f"scale-critical queries displaced outside the driver's "
        f"{DRIVER_SNAPSHOT_ROWS}-row gate: {sorted(missing)} — add them to "
        f"FROZEN_GATE in doc2dataset_spark/queries/gate.py"
    )


def test_scripts_checker_reads_the_same_single_source():
    """scripts/registry_order.py must expose the gate.py constants, not a
    private copy — the r7-r8 red suite came from exactly that drift."""
    import scripts.registry_order as ro
    from doc2dataset_spark.queries import gate

    assert ro.FROZEN_GATE is gate.FROZEN_GATE
    assert ro.MUST_BE_GATED is gate.MUST_BE_GATED
    assert ro.DRIVER_SNAPSHOT_ROWS == gate.DRIVER_GATE_SIZE


def test_gated_slots_are_oracle_backed():
    # rows-only demos must not burn gate slots: the two approx sketches
    # live in the registry tail since round 6, so every gate slot must
    # carry a DuckDB oracle.
    oracles = all_oracles()
    gated = list(REGISTRY)[:DRIVER_SNAPSHOT_ROWS]
    unbacked = [n for n in gated if n not in oracles]
    assert not unbacked, f"gate slots wasted on oracle-less queries: {unbacked}"


def test_entry_exports_follow_registry_order():
    assert list(all_queries()) == list(REGISTRY)
