#!/usr/bin/env python
"""Close-time doc-counts assert (round-13 verdict, What's-wrong #1).

Round 13 shipped two stale current-state counts (README's test tally,
COVERAGE's hash-matched fraction) because those numbers were
hand-maintained in prose while the truth lived in the tree. This is the
queries/gate.py "both lists live HERE" lesson applied to docs: derive
the counts from the tree, regex the CURRENT-STATE claim lines in
README.md and COVERAGE.md, and exit 1 on any drift — so a stale number
fails the round close loudly instead of shipping.

Checked claims (historical "Registry at round-N close" lines are dated
records and deliberately NOT checked):

- README.md      "<T> tests (<P> pass + <S> env-gated skips" where T is
                 pytest's collected count, S the env-gated skip count
                 (the real-codec parity gates), P = T - S.
- COVERAGE.md    "(<O>/<Q>) is hash-matched" where Q = len(REGISTRY)
                 and O = queries with a DuckDB oracle.
- COVERAGE.md    "Registry at round-<LATEST>: **Q queries / O oracles"
                 — only the highest-round registry line is current.

Usage: python scripts/check_doc_counts.py [--skip-collect]
(--skip-collect trusts README's T and checks only registry-derived
numbers — the fast pre-commit mode; the round close runs the full
version.)
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the suite's env-gated skips: real-codec parity tests behind import
# gates (fitz/pycld2/PIL are not installable in this container)
ENV_GATED_SKIPS = 9


def registry_counts() -> tuple[int, int]:
    from doc2dataset_spark.queries import REGISTRY

    total = len(REGISTRY)
    oracled = sum(1 for s in REGISTRY.values() if s.oracle is not None)
    return total, oracled


def collected_tests() -> int:
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=False,
    )
    m = re.search(r"(\d+) tests collected", out.stdout)
    if not m:
        raise SystemExit(
            f"could not parse pytest collection output:\n{out.stdout[-2000:]}"
        )
    return int(m.group(1))


def main() -> int:
    skip_collect = "--skip-collect" in sys.argv[1:]
    total, oracled = registry_counts()
    failures: list[str] = []

    readme = open(os.path.join(ROOT, "README.md")).read()
    m = re.search(r"(\d+) tests \((\d+) pass \+ (\d+) env-gated skips", readme)
    if not m:
        failures.append("README.md: test-tally claim line not found")
    else:
        t, p, s = (int(g) for g in m.groups())
        if s != ENV_GATED_SKIPS or p != t - s:
            failures.append(
                f"README.md: tally arithmetic broken: {t} tests, {p} pass,"
                f" {s} skips (want skips={ENV_GATED_SKIPS}, pass=T-skips)"
            )
        if not skip_collect:
            got = collected_tests()
            if t != got:
                failures.append(
                    f"README.md: claims {t} tests, pytest collects {got}"
                )

    m = re.search(r"(\d+) registered queries", readme)
    if not m:
        failures.append("README.md: 'N registered queries' line not found")
    elif int(m.group(1)) != total:
        failures.append(
            f"README.md: claims {m.group(1)} registered queries; "
            f"registry has {total}"
        )
    m = re.search(r"(\d+) with exact DuckDB oracles", readme)
    if not m:
        failures.append(
            "README.md: 'N with exact DuckDB oracles' line not found"
        )
    elif int(m.group(1)) != oracled:
        failures.append(
            f"README.md: claims {m.group(1)} oracles; registry has {oracled}"
        )

    coverage = open(os.path.join(ROOT, "COVERAGE.md")).read()
    m = re.search(r"\((\d+)/(\d+)\) is hash-matched", coverage)
    if not m:
        failures.append("COVERAGE.md: '(O/Q) is hash-matched' line not found")
    elif (int(m.group(1)), int(m.group(2))) != (oracled, total):
        failures.append(
            f"COVERAGE.md: claims ({m.group(1)}/{m.group(2)}) hash-matched;"
            f" registry says ({oracled}/{total})"
        )

    reg_lines = re.findall(
        r"Registry at round-(\d+)[^:]*: \*?\*?(\d+) queries / (\d+)",
        coverage,
    )
    if reg_lines:
        rnd, q, o = max(
            (int(r), int(q), int(o)) for r, q, o in reg_lines
        )
        if (q, o) != (total, oracled):
            failures.append(
                f"COVERAGE.md: newest registry line (round {rnd}) says "
                f"{q}/{o}; registry says {total}/{oracled} — append a "
                "current-round line"
            )

    if failures:
        print("DOC-COUNT DRIFT:")
        for f in failures:
            print(f"  - {f}")
        return 1
    mode = "registry-only" if skip_collect else "full"
    print(
        f"doc counts OK ({mode}): registry {total} queries / {oracled} "
        "oracles; README tally consistent"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
