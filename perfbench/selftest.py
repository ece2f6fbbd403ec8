"""Self-test of the benchmark at toy size (under three minutes):

    python3 perfbench/selftest.py

Checks the event-log parser on a small recorded log (trimmed to the events
and fields it reads: two tagged job groups and one untagged job), runs each
workload at toy size with tracing on, checks that every metric
BENCHMARK.json names is printed with its unit, and checks that an operation
whose expected count is deliberately wrong is reported as failed.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import eventlog
import run as bench

HERE = os.path.dirname(os.path.abspath(__file__))


def check_eventlog() -> None:
    with open(os.path.join(HERE, "testdata", "eventlog_small.jsonl")) as fh:
        groups = eventlog.parse(fh)
    scan, shuffle, untagged = groups["scan"], groups["shuffle"], groups[None]
    assert (scan.jobs, scan.tasks, scan.final_stage_tasks) == (1, 3, 1), scan
    assert abs(scan.executor_run_s - 0.375) < 1e-9, scan
    assert abs(scan.gc_s - 0.038) < 1e-9, scan
    assert (shuffle.jobs, shuffle.tasks, shuffle.final_stage_tasks) == (1, 4, 2), shuffle
    assert abs(shuffle.executor_run_s - 0.449) < 1e-9, shuffle
    assert shuffle.shuffle_write_mb > 0 and shuffle.failed_tasks == 0, shuffle
    assert (untagged.jobs, untagged.tasks) == (1, 3), untagged


def check_names(metrics: dict, declared: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {name: m["unit"] for name, m in metrics.items()}
    assert got == want, (sorted(set(got) ^ set(want)),
                         {k: (got[k], want[k]) for k in got.keys() & want.keys()
                          if got[k] != want[k]})
    assert all(isinstance(m["value"], (int, float)) for m in metrics.values())


def main() -> int:
    check_eventlog()
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    # toy size: one timed operation per run, no warm-up
    bench.WARMUP_OPS, bench.MIN_TIMED_OPS = 0, 1
    work = bench.work_dir()
    try:
        bench.size_environment(work)
        bench.import_program()
        from curate import Curate
        from ingest import TOY_DOCS, Ingest

        r = bench.run(Ingest(os.path.join(work, "a"), 1, toy=True), 0, True, work)
        assert r["correct"] and r["failed"] == 0, r
        check_names(r["end_to_end"], spec["end_to_end"])
        check_names(r["per_layer"], spec["per_layer"])
        assert r["per_layer"]["fetch.docs"]["value"] == TOY_DOCS, r

        r = bench.run(Curate(), 0, True, work)
        assert r["correct"] and r["failed"] == 0, r
        check_names(r["per_layer"], spec["per_layer"])
        assert r["per_layer"]["q.dedup_cluster_cc.jobs"]["value"] > 0, r

        # an operation checked against a wrong expected count fails
        w = Ingest(os.path.join(work, "b"), 1, toy=True)
        e = w.corpus.expected
        w.corpus = dataclasses.replace(
            w.corpus, expected=dataclasses.replace(e, successes=e.successes + 1))
        r = bench.run(w, 0, False, work)
        assert not r["correct"] and r["failed"] == r["attempted"] > 0, r
    finally:
        bench.remove_work_dir(work)
    print("perfbench self-test: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
