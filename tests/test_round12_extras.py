"""Round-12 operator laws: as-of join semantics.

The oracle gate (driver / scripts/driver_mirror.py) proves the as-of
rewrite hash-equal to DuckDB's native ASOF LEFT JOIN; these tests pin
the SEMANTICS independently — a naive per-purchase scan reference for
the carry and closure invariants for the tolerance report.
"""

from __future__ import annotations

import pandas as pd

from doc2dataset_spark.queries.core import REGISTRY
from doc2dataset_spark.queries.timeseries_asof import (
    ASOF_TOL_US,
    _asof_carried,
)
from doc2dataset_spark.session import load_table

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# as-of join: naive-reference law
# ---------------------------------------------------------------------------


def _naive_asof(spark) -> dict[int, tuple]:
    """Per-purchase truth by brute-force scan: the max-ts view at-or-
    before each purchase (views pre-deduped per (user, ts) by max
    event_id, as the operator contracts)."""
    ev = load_table(spark, SF, "events").toPandas()
    views = (
        ev[ev.event_type == "view"]
        .sort_values("event_id")
        .groupby(["user_id", "ts"], as_index=False)
        .last()  # max event_id per (user, ts) wins
        .rename(columns={"value": "v_value"})
    )
    out = {}
    for _, p in ev[ev.event_type == "purchase"].iterrows():
        cand = views[(views.user_id == p.user_id) & (views.ts <= p.ts)]
        if len(cand):
            best = cand.loc[cand.ts.idxmax()]
            out[int(p.event_id)] = (best.ts, float(best.v_value))
        else:
            out[int(p.event_id)] = (None, None)
    return out


def test_asof_join_matches_naive_scan(spark):
    truth = _naive_asof(spark)
    got = _asof_carried(spark, SF).toPandas()
    assert len(got) == len(truth)  # every purchase survives (left join)
    for _, r in got.iterrows():
        t_ts, t_val = truth[int(r.event_id)]
        if t_ts is None:
            assert pd.isna(r.v_ts) and pd.isna(r.last_view_value)
            assert pd.isna(r.gap_us)
        else:
            assert r.v_ts == t_ts
            assert r.last_view_value == t_val
            assert r.gap_us == (r.p_ts - t_ts).value // 1000  # ns -> us
            assert r.gap_us >= 0  # backward as-of never looks ahead


def test_asof_tolerance_report_closes_over_detail(spark):
    detail = _asof_carried(spark, SF).toPandas()
    rep = REGISTRY["events_asof_tolerance"].builder(spark, SF).toPandas()
    assert rep.n_purchases.sum() == len(detail)
    # counting chain: attributed <= matched <= purchases, per user
    assert (rep.n_attributed <= rep.n_matched).all()
    assert (rep.n_matched <= rep.n_purchases).all()
    # recompute one user's row from the detail frame
    r = rep.sort_values("n_attributed").iloc[-1]
    d = detail[detail.user_id == r.user_id]
    att = d[d.gap_us.notna() & (d.gap_us <= ASOF_TOL_US)]
    assert r.n_matched == int(d.gap_us.notna().sum())
    assert r.n_attributed == len(att)
    assert r.avg_gap_seconds == round(
        float(att.gap_us.sum()) / len(att) / 1e6, 4
    )


def test_hypertable_reaggregation_is_lossless(spark):
    """The cagg contract pinned Spark-side too (the oracle proves it
    cross-engine): day rows served by re-aggregating hourly partials ==
    day rows computed directly from raw events, bit for bit, and the
    three granularities nest (n_events conservation)."""
    from pyspark.sql import functions as F

    from doc2dataset_spark.session import load_table

    out = (
        REGISTRY["events_hypertable_rollup"].builder(spark, SF).toPandas()
    )
    e = load_table(spark, SF, "events")
    direct_day = (
        e.groupBy(F.date_trunc("day", F.col("ts")).alias("b"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")), 4
            )
            .cast("double")
            .alias("total"),
        )
        .toPandas()
    )
    got_day = out[out.granularity == "day"].sort_values("bucket")
    assert len(got_day) == len(direct_day)
    assert got_day.n_events.sum() == 1000
    want = {
        str(r.b): (r.n_events, r.total) for _, r in direct_day.iterrows()
    }
    for _, r in got_day.iterrows():
        assert want[r.bucket] == (r.n_events, r.total)
    for g in ("hour", "month"):
        assert out[out.granularity == g].n_events.sum() == 1000
