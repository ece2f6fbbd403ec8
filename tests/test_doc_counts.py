"""The README/COVERAGE current-state counts match the registry.

Runs scripts/check_doc_counts.py in its fast mode (--skip-collect: the
registry-derived numbers and the README tally arithmetic; the pytest
collection count is checked by the full mode at round close)."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_doc_count_claims_match_the_registry():
    out = subprocess.run(
        [sys.executable, "scripts/check_doc_counts.py", "--skip-collect"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=False,
    )
    assert out.returncode == 0, out.stdout + out.stderr
