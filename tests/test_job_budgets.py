"""Job budgets: how many Spark jobs a query or an operator runs, counted
per job group with ``statusTracker``.

At small scale these paths are bound by their job count, not their rows,
and a wall-time check is too noisy to see a few jobs come back. Each
budget is the count measured when it was set; lower it when a change
cuts jobs."""

from __future__ import annotations

import os
import uuid

from doc2dataset_spark.config import DownloadConfig
from doc2dataset_spark.operators.cluster_state import apply_batch
from doc2dataset_spark.plans.pipeline import download
from doc2dataset_spark.queries import REGISTRY
from tests.fixtures import build_corpus, write_url_csv

# dedup_cluster_cc builds and counts in 10 jobs: the parquet listing, the
# SimHash fingerprint checkpoint, the oriented-pair checkpoint, the pull to
# the driver and the count, with their AQE shuffle stages
CLUSTER_CC_JOBS = 12
# fold 4 documents and 3 pairs into a 2-document label state: 19 jobs
APPLY_BATCH_JOBS = 19
# download() of the fixture corpus into parquet: the CSV header scan,
# assign_keys' per-partition counts (2), the sink (3) and the one collect
# of the per-shard stats (3)
DOWNLOAD_JOBS = 9


def _jobs(spark, action):
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dedup_cluster_cc_job_budget(spark, sf_dir):
    build = REGISTRY["dedup_cluster_cc"].builder
    n = _jobs(spark, lambda: build(spark, sf_dir).count())
    assert n <= CLUSTER_CC_JOBS, f"dedup_cluster_cc ran {n} jobs"


def test_apply_batch_job_budget(spark, tmp_path):
    state = str(tmp_path / "state")

    def pairs(rows):
        return spark.createDataFrame(rows, "da bigint, db bigint")

    def ids(xs):
        return spark.createDataFrame([(x,) for x in xs], "doc_id bigint")

    apply_batch(spark, state, pairs([(1, 2)]), ids([1, 2]), batch_id=0)
    n = _jobs(
        spark,
        lambda: apply_batch(
            spark,
            state,
            pairs([(2, 3), (4, 5), (3, 6)]),
            ids([3, 4, 5, 6]),
            batch_id=1,
        ),
    )
    assert n <= APPLY_BATCH_JOBS, f"apply_batch ran {n} jobs"


def test_download_job_budget(spark, tmp_path):
    root = str(tmp_path)
    urls = write_url_csv(root, build_corpus(root))
    cfg = DownloadConfig(
        url_list=urls,
        output_folder=os.path.join(root, "out"),
        input_format="csv",
        output_format="parquet",
        compute_hash="sha256",
        min_words_per_page=5,
        get_language=True,
        number_sample_per_shard=4,
    )
    n = _jobs(spark, lambda: download(spark, cfg))
    assert n <= DOWNLOAD_JOBS, f"download ran {n} jobs"
