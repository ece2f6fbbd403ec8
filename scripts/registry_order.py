"""Print the driver-gate view of the query registry.

The round driver snapshots only the first 50 registered queries into
CORRECTNESS_r{N}.json. doc2dataset_spark/queries/__init__.py orders the
registry as queries/gate.py FROZEN_GATE followed by every other query in
import order, so a query registered in any module lands after the gate.
To change which queries the driver records, edit FROZEN_GATE (and, for
the scale-critical subset, MUST_BE_GATED) in gate.py — the single source
this script, the registry and tests/test_registry_*.py all read.

    python scripts/registry_order.py

Exits non-zero if the gate differs from FROZEN_GATE or a MUST_BE_GATED
query sits outside it.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from doc2dataset_spark.queries.gate import (  # noqa: E402
    DRIVER_GATE_SIZE,
    FROZEN_GATE,
    MUST_BE_GATED,
)

# historical alias (tests and older scripts imported this name)
DRIVER_SNAPSHOT_ROWS = DRIVER_GATE_SIZE


def main() -> int:
    from doc2dataset_spark.queries import REGISTRY

    names = list(REGISTRY)
    gated, ungated = names[:DRIVER_GATE_SIZE], names[DRIVER_GATE_SIZE:]
    print(f"registry: {len(names)} queries; driver gates first {DRIVER_GATE_SIZE}")
    for i, n in enumerate(names, 1):
        marker = "GATE" if i <= DRIVER_GATE_SIZE else "    "
        print(f"{i:3d} {marker} {n}")
    ok = True
    if gated != FROZEN_GATE:
        evicted = sorted(set(FROZEN_GATE) - set(gated))
        intruded = sorted(set(gated) - set(FROZEN_GATE))
        print(
            f"\nERROR: gate drifted from queries/gate.py FROZEN_GATE "
            f"(evicted={evicted} intruded={intruded})"
        )
        ok = False
    missing = MUST_BE_GATED - set(gated)
    if missing:
        print(f"\nERROR: scale-critical queries outside the driver gate: {sorted(missing)}")
        ok = False
    if not ok:
        return 1
    print(
        f"\nOK: gate matches FROZEN_GATE; all {len(MUST_BE_GATED)} scale-critical "
        f"queries inside; {len(ungated)} queries rely on the degated-parity "
        f"pytest + scripts/driver_mirror.py verification."
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
