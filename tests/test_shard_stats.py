"""Per-shard stats and the roll-up against a brute-force Python count.

The error histogram keeps each shard's ``TOP_K_ERRORS`` most frequent
messages, ties broken by message; a shard with no errors has a null map.
The same message under two statuses is one histogram entry."""

from __future__ import annotations

from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from doc2dataset_spark.operators.stats import (
    TOP_K_ERRORS,
    global_rollup,
    shard_stats,
)

OK, DL, EX = "success", "failed_to_download", "failed_to_extract"


def _round4(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _pages():
    rows = []
    # shard 0: 12 distinct messages, counts 12..1 except a tie of 3s that
    # straddles the top-10 cut: m09, m10, m11 all occur 3 times
    counts = {f"m{i:02d}": c for i, c in enumerate(
        [12, 11, 10, 9, 8, 7, 6, 5, 4, 3, 3, 3])}
    for msg, c in counts.items():
        rows += [(0, EX, msg)] * c
    rows += [(0, OK, None)] * 5
    # shard 1: no errors at all
    rows += [(1, OK, None)] * 4
    # shard 2: all three statuses; "boom" under two statuses is one entry
    rows += [(2, DL, "boom")] * 2 + [(2, EX, "boom")] + [(2, DL, "404")]
    rows += [(2, OK, None)] * 3
    # shard 3: 1 success in 32 rows, a ratio that sits on a rounding half
    rows += [(3, OK, None)] + [(3, EX, "bad")] * 31
    return rows


def _brute(rows):
    out = {}
    for sid in sorted({r[0] for r in rows}):
        mine = [r for r in rows if r[0] == sid]
        status = Counter(r[1] for r in mine)
        errors = Counter(r[2] for r in mine if r[2] is not None)
        top = sorted(errors.items(), key=lambda kv: (-kv[1], kv[0]))
        out[sid] = {
            "count": len(mine),
            "successes": status[OK],
            "failed_to_download": status[DL],
            "failed_to_resize": status[EX],
            "status_dict": dict(top[:TOP_K_ERRORS]) or None,
            "success_ratio": _round4(status[OK] / len(mine)),
        }
    return out


def test_shard_stats_matches_brute_force(spark):
    rows = _pages()
    pages = spark.createDataFrame(
        rows, "shard_id long, status string, error_message string"
    )
    got = {
        r["shard_id"]: {k: v for k, v in r.asDict().items() if k != "shard_id"}
        for r in shard_stats(pages).collect()
    }
    want = _brute(rows)
    assert got == want
    # m09, m10 and m11 tie at 3 across the cut: message order keeps m09
    assert set(got[0]["status_dict"]) == {f"m{i:02d}" for i in range(10)}
    assert got[1]["status_dict"] is None
    assert got[2]["status_dict"] == {"boom": 3, "404": 1}
    assert got[3]["success_ratio"] == 0.0313  # HALF_UP, not half-even


def test_global_rollup_matches_brute_force(spark):
    rows = _pages()
    pages = spark.createDataFrame(
        rows, "shard_id long, status string, error_message string"
    )
    got = global_rollup(shard_stats(pages)).collect()
    status = Counter(r[1] for r in rows)
    assert [r.asDict() for r in got] == [{
        "n_shards": 4,
        "count": len(rows),
        "successes": status[OK],
        "failed_to_download": status[DL],
        "failed_to_extract": status[EX],
        "success_ratio": _round4(status[OK] / len(rows)),
    }]


def test_global_rollup_of_no_shards(spark):
    pages = spark.createDataFrame(
        [], "shard_id long, status string, error_message string"
    )
    got = global_rollup(shard_stats(pages)).collect()
    assert [r.asDict() for r in got] == [{
        "n_shards": 0,
        "count": None,
        "successes": None,
        "failed_to_download": None,
        "failed_to_extract": None,
        "success_ratio": None,
    }]
