#!/usr/bin/env python
"""Per-query timing for one source tree; the leg of the interleaved A/B
harness (scripts/opt_ab.py).

Self-contained: imports doc2dataset_spark from --tree (which may be a
worktree of an older commit), runs each named registry query at --sf
with a min-of-N count() wall, and emits one JSON line per query with
the wall and row count. Options:

- ``--hash``: add a FULL-PRECISION canonicalized result hash (floats by
  bit pattern via float.hex, rows sorted);
- ``--noop``: also time the noop sink (computes every column, which
  count() may prune), min-of-N;
- ``--plans DIR``: write explain("formatted") to DIR/<query>.txt.

Single tree (this checkout):
  python scripts/ab_runner.py --tree . --sf .bench_scale/sf0.5 \
      --queries dedup_cluster_cc,graph_kcore --runs 3 --noop --plans plans/x
Two trees, interleaved and hash-gated: scripts/opt_ab.py.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time


def canon_hash(df) -> str:
    def c(v):
        if isinstance(v, float):
            return v.hex()
        if isinstance(v, list):
            return tuple(c(x) for x in v)
        return v

    rows = sorted(tuple(c(v) for v in r) for r in df.collect())
    return hashlib.md5(repr(rows).encode()).hexdigest()


def min_wall(action, runs: int):
    """(best wall, last result) of ``runs`` calls to ``action``."""
    best, res = float("inf"), None
    for _ in range(runs):
        t0 = time.time()
        res = action()
        best = min(best, time.time() - t0)
    return round(best, 3), res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tree", required=True)
    ap.add_argument("--sf", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--hash", action="store_true")
    ap.add_argument("--noop", action="store_true",
                    help="also time the noop sink")
    ap.add_argument("--plans", default=None,
                    help="directory for explain('formatted') dumps")
    args = ap.parse_args()

    tree = os.path.abspath(args.tree)
    sys.path.insert(0, tree)
    from doc2dataset_spark.queries import REGISTRY  # noqa: E402
    from doc2dataset_spark.session import get_spark, load_table  # noqa: E402

    spark = get_spark(app_name=f"ab:{os.path.basename(tree)}")
    load_table(spark, args.sf, "lineitem").count()  # warmup

    for name in args.queries.split(","):
        spec = REGISTRY.get(name)
        if spec is None:
            print(json.dumps({"query": name, "error": "missing"}), flush=True)
            continue

        def build(spec=spec):
            return spec.builder(spark, args.sf)

        spark.sparkContext.setJobDescription(f"ab:{name}")
        wall, rows = min_wall(lambda: build().count(), args.runs)
        rec = {"query": name, "wall": wall, "rows": rows}
        if args.noop:
            rec["noop"], _ = min_wall(
                lambda: build().write.format("noop").mode("overwrite").save(),
                args.runs,
            )
        if args.hash:
            rec["hash"] = canon_hash(build())
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
            plan = build()._jdf.queryExecution().explainString(
                mode.fromString("formatted")
            )
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
