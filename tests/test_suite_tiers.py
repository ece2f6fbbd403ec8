"""The slow tier is a list of test-module basenames in tests/conftest.py:
renaming or deleting a module there silently drops it from the tier's
skip list (or leaves a dead entry). Pin every entry to an existing file."""

from __future__ import annotations

from pathlib import Path

from tests.conftest import SLOW_TIER


def test_slow_tier_names_existing_modules():
    tests_dir = Path(__file__).resolve().parent
    missing = sorted(n for n in SLOW_TIER if not (tests_dir / n).is_file())
    assert not missing, f"SLOW_TIER names missing test modules: {missing}"
