from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from doc2dataset_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"

# Two-tier suite (round-16; round-15 verdict "Next round" #4): the full
# suite outgrew the round driver's bounded verify window (~50-70 min on
# a shared host; the r15 capture died mid-run with zero failures shown),
# so the slow OPERATOR-INTEGRATION tier below is skipped by default and
# run with SPARK_GRAFT_FULL_TESTS=1 (CI / round close). The default
# (fast) tier still imports every test module at collection and keeps
# every suite that pins RESULTS: registry gate/order/smoke, degated
# oracle parity, plan shapes, recall floors, kernel bit-exactness, the
# cc fixpoint, cluster-state equivalences, bench contracts, and the
# persisted-index lifecycle (build / append / compact / delete / time
# travel of the four index families). The slow tier is end-to-end
# coverage of the streaming twins, the hypertable RTBF and the
# property / retry / dataset-format suites — mostly multi-batch
# foreachBatch pipelines whose wall is scheduling, not logic; their
# operator semantics stay pinned in the fast tier by their batch-side
# twins.
SLOW_TIER = {
    "test_streaming_asof.py",
    "test_hypertable_rtbf.py",
    "test_streaming_hypertable.py",
    "test_property_text.py",
    "test_property_cc_wat.py",
    "test_property_multimodal.py",
    "test_streaming.py",
    "test_task_retry.py",
    "test_webdataset_ds.py",
    "test_stateful_streaming.py",
    "test_streaming_cdc.py",
    "test_streaming_drift.py",
    "test_streaming_packing.py",
    "test_streaming_rollup.py",
    "test_tws.py",
}


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier (operator-integration e2e): "
        "set SPARK_GRAFT_FULL_TESTS=1"
    )
    for item in items:
        if os.path.basename(str(item.fspath)) in SLOW_TIER:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
