"""Freeze the driver-gate query set.

The round driver snapshots only the FIRST 50 registered queries into
CORRECTNESS_r{N}.json. Round 2 learned the hard way that an innocent
mid-module addition silently displaces a scale-critical query from that
gate (dedup_embedding_cell pushed sim_ann_hyperplane out). This test
makes the gate set an explicit contract: changing it requires editing
the frozen list here, in the same diff, on purpose.

queries/__init__.py puts FROZEN_GATE first and every other query after
it, so a query registered in any module lands after the gate; promoting
one into the gate means editing FROZEN_GATE and choosing which current
member it evicts.
"""

import subprocess
import sys
from pathlib import Path

import pytest

from doc2dataset_spark.oracle import run_compare
from doc2dataset_spark.queries import REGISTRY
from doc2dataset_spark.queries.gate import DRIVER_GATE_SIZE, FROZEN_GATE


def test_driver_gate_set_is_frozen():
    got = list(REGISTRY)[:DRIVER_GATE_SIZE]
    assert got == FROZEN_GATE, (
        "the first 50 registered queries differ from FROZEN_GATE — "
        "queries/__init__.py must put FROZEN_GATE first; change the gate "
        "only by editing FROZEN_GATE in queries/gate.py.\n"
        f"evicted: {sorted(set(FROZEN_GATE) - set(got))}\n"
        f"intruded: {sorted(set(got) - set(FROZEN_GATE))}"
    )


def test_unregistered_gate_member_fails_the_registry_load():
    """A FROZEN_GATE name no module registers must crash the registry
    load — with an explicit raise, so it also holds under ``python -O``."""
    stub = (
        "import sys, types\n"
        "g = types.ModuleType('doc2dataset_spark.queries.gate')\n"
        "g.FROZEN_GATE = ['no_such_query']\n"
        "sys.modules[g.__name__] = g\n"
        "import doc2dataset_spark.queries\n"
    )
    r = subprocess.run(
        [sys.executable, "-O", "-c", stub],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode != 0
    assert "no_such_query" in r.stderr


def test_gate_members_are_oracle_backed():
    """Every gated query must carry a DuckDB oracle (hash-compared by the
    driver). The two rows-only sketches left the gate in round 6, so no
    exemptions remain: a clean 50/50 CORRECTNESS file is the contract."""
    for name in list(REGISTRY)[:DRIVER_GATE_SIZE]:
        spec = REGISTRY[name]
        assert spec.oracle, f"gated query {name} has no oracle SQL"


def _degated_oracle_names() -> list[str]:
    return [
        name
        for name in list(REGISTRY)[DRIVER_GATE_SIZE:]
        if REGISTRY[name].oracle
    ]


@pytest.mark.parametrize("name", _degated_oracle_names())
def test_degated_queries_keep_oracle_parity(spark, sf_dir, name):
    """Queries registered PAST the 50-row driver snapshot (the q01-q19
    relational surface and late additions) lose external verification —
    the driver's CORRECTNESS file never sees them again. This keeps them
    under an automated oracle gate: every de-gated oracle-backed query is
    hash-compared against DuckDB at smoke scale on each test run."""
    res = run_compare(spark, sf_dir, name)
    assert res.ok, f"{name}: {res}"
