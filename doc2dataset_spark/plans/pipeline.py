"""The end-to-end document pipeline (reference `main.py:66-237` ``download``)
as ONE declarative DataFrame lineage:

    read url list (S1-S8)
      → key/shard assignment (P1/P3)
      → incremental-resume filter (P4)
      → fetch mapInPandas + thread pool (S9-S11)
      → hash verify/compute as native sha2/md5 (F4/F5)
      → per-page extraction flatMap (T1-T5, T12, T14)
      → native page transforms + filters (F6-F10, T6-T10)
      → language enrichment on page 0, propagated per doc (T11)
      → final schema assembly (key+page concat, exif placeholder)
      → sink (W1-W7) + stats manifest (A1-A5, W8)

A fixed handful of Spark jobs replaces the reference's reader-pool /
worker-pool / monitor three-process architecture (`main.py:119-233`); the
shuffle replaces the ``_tmp`` feather files; task retries replace the
shard retrier (`distributor.py:10-21`). With a CSV url list and the
parquet sink, ``download()`` runs 9 jobs whatever the corpus size: the
header scan, ``assign_keys``' per-partition counts (2), the sink (3) and
one collect of the per-shard stats (3); ``tests/test_job_budgets.py``
pins the count.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doc2dataset_spark import fsio
from doc2dataset_spark.config import DownloadConfig
from doc2dataset_spark.functions.text import detect_language
from doc2dataset_spark.operators.extract import extract_pages
from doc2dataset_spark.operators.filters import (
    MSG_BLANK,
    MSG_MAX_IMAGES,
    MSG_MIN_WORDS,
    apply_page_filters,
)
from doc2dataset_spark.operators.sharding import assign_keys, filter_done_shards
from doc2dataset_spark.operators.stats import rollup, shard_stats
from doc2dataset_spark.sinks.writer import write_output
from doc2dataset_spark.sources.fetch import compute_hash, fetch_documents, verify_hash
from doc2dataset_spark.sources.reader import read_url_list


def _stats_path(cfg: DownloadConfig) -> str:
    return fsio.join(cfg.output_folder, "_stats")


def _load_done_manifest(cfg: DownloadConfig):
    """The prior ``_stats`` manifest as a pyarrow Table, for resume and
    the cumulative roll-up; None outside incremental mode, or when it is
    absent or unreadable (no resume). The manifest is per-shard counters
    — small by contract, like the reference's driver-side stats files
    (`writer.py:60-66`) — so it is read on the driver for every scheme."""
    if cfg.incremental_mode != "incremental":
        return None
    try:
        return fsio.read_parquet_dir(_stats_path(cfg))
    except Exception:  # noqa: BLE001 — corrupt manifest = no resume
        return None


def add_language(df: DataFrame, cfg: DownloadConfig) -> DataFrame:
    """T11: detect on page 0 only (`downloader.py:152-160`), propagate to
    the whole document via a window — one UDF call per doc, not per page."""
    if not cfg.get_language:
        return df.withColumn("language", F.lit(None).cast("string"))
    import pandas as pd  # noqa: F401

    @F.pandas_udf("string")
    def lang_udf(texts):
        return texts.map(lambda t: detect_language(t) if t else None)

    # guard INSIDE the UDF input, not via F.when around the UDF call:
    # Spark's ExtractPythonUDFs pulls a UDF out of when() into an
    # ArrowEvalPython node evaluated for EVERY row, then applies the
    # condition to the computed column — detection would run once per
    # page, not once per doc. Nulling the input for page>0 keeps the
    # Python-side work to one real detection per document.
    page0_text = F.when(
        (F.col("page_no") == 0) & F.col("text").isNotNull(), F.col("text")
    )
    w = Window.partitionBy("key")
    return df.withColumn("_l0", lang_udf(page0_text)).withColumn(
        "language", F.first("_l0", ignorenulls=True).over(w)
    ).drop("_l0")


def build_pipeline(spark: SparkSession, cfg: DownloadConfig) -> DataFrame:
    """Assemble the full lineage. Only the url list's header scan and
    ``assign_keys``' per-partition counts run before an action."""
    return _pipeline(spark, cfg, _load_done_manifest(cfg))


def _pipeline(spark: SparkSession, cfg: DownloadConfig, prior) -> DataFrame:
    cfg.validate()
    urls = read_url_list(spark, cfg)
    keyed = assign_keys(urls, cfg)
    done = None if prior is None else prior.column("shard_id").to_pylist()
    keyed = filter_done_shards(keyed, done)
    fetched = fetch_documents(keyed, cfg)
    fetched = verify_hash(fetched, cfg)
    fetched = compute_hash(fetched, cfg)
    pages = extract_pages(fetched, cfg)
    pages = apply_page_filters(pages, cfg)
    pages = add_language(pages, cfg)
    if cfg.extract_exif:
        # T13: schema-parity placeholder, always null (`downloader.py:239-240`)
        pages = pages.withColumn("exif", F.lit(None).cast("string"))
    # the observable page key is doc key + page number concatenated without
    # separator — ambiguous but part of the reference's output contract
    # (`downloader.py:212`)
    pages = pages.withColumn("doc_key", F.col("key")).withColumn(
        "key",
        F.when(
            F.col("page_no").isNotNull(),
            F.concat(F.col("key"), F.col("page_no").cast("string")),
        ).otherwise(F.col("key")),
    )
    return pages


def download(
    spark: SparkSession, cfg: DownloadConfig, return_frames: bool = False
):
    """Run the pipeline: write samples via the configured sink, then write
    the ``_stats`` manifest (which doubles as the resume commit log).

    The per-shard stats reach the driver in one collect. That table is
    the new manifest part (written through ``fsio`` for every scheme),
    and with the prior manifest — read once, before the run, for the
    resume filter too — it is the cumulative roll-up: nothing is read
    back. Returns the roll-up and the run's ``Observation`` (rows, docs,
    successes, per-filter drops, duration); with ``return_frames`` the
    persisted pages, the whole manifest and the roll-up as frames."""
    cfg.validate()
    # absolutize into a COPY: mutating the caller's config would pin the
    # first absolutized path across cwd changes / repeated download() calls
    if fsio.absolutize(cfg.output_folder) != cfg.output_folder:
        import dataclasses

        cfg = dataclasses.replace(
            cfg, output_folder=fsio.absolutize(cfg.output_folder)
        )
    # refuse invalid (format, scheme) pairs BEFORE the destructive
    # overwrite rm below — a doomed run must not delete prior output
    from doc2dataset_spark.sinks.writer import check_sink_target

    check_sink_target(cfg)
    fs, _ = fsio.url_to_fs(cfg.output_folder)
    if cfg.incremental_mode == "overwrite" and fs.exists(cfg.output_folder):
        fs.rm(cfg.output_folder, recursive=True)
    fs.makedirs(cfg.output_folder, exist_ok=True)

    import time

    import pyarrow as pa
    from pyspark.sql import Observation

    prior = _load_done_manifest(cfg)
    pages = _pipeline(spark, cfg, prior)
    # D7/A5: live metrics ride the job itself via observe() — no monitor
    # process, no stats-file polling (`logger.py:224-276`)
    n = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    msg = F.col("error_message")
    obs = Observation("pipeline_metrics")
    pages = pages.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        # docs, not pages: count each document's page 0 (or its single
        # error row, where page_no is null) — the reference's docs/sec is
        # per DOCUMENT (`logger.py:114`), and rows here are post-explode
        n(F.col("page_no").isNull() | (F.col("page_no") == 0)).alias("docs"),
        n(F.col("status") == "success").alias("successes"),
        # pages each page filter dropped (the first failing filter names
        # the page's error)
        n(msg == MSG_MIN_WORDS).alias("drop_min_words"),
        n(msg == MSG_MAX_IMAGES).alias("drop_max_images"),
        n(msg == MSG_BLANK).alias("drop_blank"),
    )
    # one materialization feeds both the sink and the stats agg — without
    # this the whole fetch+extract lineage would run twice
    pages = pages.persist()
    t0 = time.time()
    try:
        write_output(pages, cfg)
        stats = shard_stats(pages).toArrow()
        fsio.write_parquet_file(
            stats, _stats_path(cfg), f"part-{uuid.uuid4().hex}.parquet"
        )
    finally:
        if not return_frames:
            # with return_frames the CALLER owns the frame: unpersisting
            # here would make their first action re-run the whole
            # fetch+extract lineage (re-downloading every URL)
            pages.unpersist()
    duration = time.time() - t0
    observed = dict(obs.get) if obs.get else {}
    observed["duration_sec"] = round(duration, 3)
    if observed.get("docs"):
        observed["docs_per_sec"] = round(observed["docs"] / duration, 2)
    if prior is not None:
        stats = pa.concat_tables([prior, stats], promote_options="default")
    summary = rollup(stats)
    if return_frames:
        return (
            pages,
            spark.createDataFrame(stats),
            spark.createDataFrame(summary),
        )
    out = summary.to_pylist()[0]
    out.update(observed)
    return out
