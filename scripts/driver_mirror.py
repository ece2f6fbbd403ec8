#!/usr/bin/env python
"""Drive the repo exactly as the driver does: import __spark_entry__,
smoke entry(spark), then dual-run every queries() entry against its
oracle_sql() on DuckDB and compare canonicalized results.

    python scripts/driver_mirror.py [sf_dir] [name_filter ...]

sf_dir defaults to the shipped sf0.01 data; with filters, only queries
whose name contains one of them as a substring are compared.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # the public boundary, as the driver sees it
from doc2dataset_spark.oracle import CompareResult, compare_frames, duck_connect
from doc2dataset_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> int:
    filters = sys.argv[2:]
    spark = get_spark()
    t0 = time.time()
    flag = entrymod.entry(spark)
    rows = flag.count()
    print(f"entry(): {rows} rows, schema={[f.name for f in flag.schema]} "
          f"({time.time()-t0:.1f}s)")
    assert rows >= 0

    qs = {
        name: fn
        for name, fn in entrymod.queries().items()
        if not filters or any(f in name for f in filters)
    }
    oracles = entrymod.oracle_sql()
    print(f"queries={len(qs)} oracles={sum(n in oracles for n in qs)}")
    if not qs:
        print(f"no query name contains any of {filters}")
        return 1
    con = duck_connect(SF_DIR)
    failed = []
    for name, fn in sorted(qs.items()):
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
            if name in oracles:
                odf = con.execute(oracles[name]).fetchdf()
                res = compare_frames(name, sdf, odf)
            else:
                res = CompareResult(name, True, len(sdf), -1, "(rows-only)")
        except Exception as exc:  # noqa: BLE001
            print(f"[ERROR] {name}: {type(exc).__name__}: {exc}")
            failed.append(name)
            continue
        if not res.ok:
            failed.append(name)
        print(f"{res} ({time.time()-t0:.1f}s)", flush=True)
    print(f"\n{'ALL PASS' if not failed else 'FAILED: ' + ', '.join(failed)}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
