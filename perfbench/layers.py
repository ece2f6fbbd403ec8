"""The traced run: per-layer metrics from the Spark event log.

It follows the untraced timed operations of the same run, in a new session
(same JVM) with the event log on. Each layer call is tagged with
``SparkContext.setJobGroup``; walls are taken around the calls here, task
metrics come from the event log.

Pipeline layers are lazy, so ``ingest`` times cumulative prefixes
(reader, +fetch, +extract, +filters, +language), each built from scratch and
forced with the ``noop`` format; a layer's self time is its prefix minus the
previous prefix. ``sink`` and ``stats`` are timed on a persisted
full-pipeline frame. ``curate`` times each query's ``count()``.

Every layer metric is printed on every traced run; a layer the workload
does not run reports 0.
"""

from __future__ import annotations

import os
import tempfile
import time
from contextlib import contextmanager

import eventlog
from curate import DATA, QUERIES

PIPELINE = ("reader", "fetch", "extract", "filters", "language", "sink", "stats")
PREFIXES = PIPELINE[:5]
QUERY_LAYER = ("wall_s", "jobs", "core_busy_ratio", "shuffle_write_mb", "spill_mb")

# name -> (unit, better)
_COMMON = {
    "wall_s": ("s", "lower"),
    "tasks": ("count", "higher"),
    "executor_run_s": ("s", "lower"),
    "executor_cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "core_busy_ratio": ("ratio", "higher"),
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "failed_tasks": ("count", "lower"),
}
_COUNTS = {
    "fetch.docs": ("count", "higher"),
    "fetch.failed": ("count", "lower"),
    "fetch.bytes_mb": ("MB", "lower"),
    "extract.pages": ("count", "higher"),
    "extract.decode_errors": ("count", "lower"),
    "extract.decode_us_per_doc": ("us", "lower"),
    "filters.kept_ratio": ("ratio", "higher"),
    "filters.drop_min_words": ("count", "lower"),
    "filters.drop_max_images": ("count", "lower"),
    "filters.drop_blank": ("count", "lower"),
    "sink.files": ("count", "lower"),
    "sink.bytes_mb": ("MB", "lower"),
}
_RUN = {
    "session.start_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "trace.accounted_ratio": ("ratio", "higher"),
    "error_rate": ("ratio", "lower"),
}


def per_layer_metrics() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, better)."""
    out = {f"{layer}.{k}": v for layer in PIPELINE for k, v in _COMMON.items()}
    out.update(_COUNTS)
    for q in QUERIES:
        out.update({f"q.{q}.{k}": _COMMON.get(k, ("count", "lower"))
                    for k in QUERY_LAYER})
    out.update(_RUN)
    return out


class Spans:
    """Wall time per job group; tags every job started inside a span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = self.walls.get(name, 0.0) + time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _prefix(spark, cfg, depth: int):
    """The pipeline's first ``depth + 1`` layers, via their public calls."""
    from doc2dataset_spark.operators.extract import extract_pages
    from doc2dataset_spark.operators.filters import apply_page_filters
    from doc2dataset_spark.operators.sharding import assign_keys
    from doc2dataset_spark.plans.pipeline import add_language
    from doc2dataset_spark.sources.fetch import compute_hash, fetch_documents
    from doc2dataset_spark.sources.reader import read_url_list

    df = assign_keys(read_url_list(spark, cfg), cfg)  # runs its own jobs
    steps = (lambda d: compute_hash(fetch_documents(d, cfg), cfg),
             lambda d: extract_pages(d, cfg),
             lambda d: apply_page_filters(d, cfg),
             lambda d: add_language(d, cfg))
    for step in steps[:depth]:
        df = step(df)
    return df


def _observed(df, depth: int):
    """Attach the layer's counters to its prefix (read after the action)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    n = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    exprs = {
        1: (F.count(F.lit(1)).alias("docs"),
            n(F.col("fetch_error").isNotNull()).alias("failed"),
            F.coalesce(F.sum(F.length("doc_bytes")), F.lit(0)).alias("bytes")),
        2: (n(F.col("page_no").isNotNull()).alias("pages"),
            n(F.col("doc_error").isNotNull()).alias("decode_errors")),
        3: (F.count(F.lit(1)).alias("rows"),
            n(F.col("status") == "success").alias("kept"),
            n(F.col("error_message") == "too few words in page").alias("min_words"),
            n(F.col("error_message") == "too many images in page").alias("max_images"),
            n(F.col("error_message") == "empty page").alias("blank")),
    }.get(depth)
    if exprs is None:
        return df, None
    obs = Observation(f"layer{depth}")
    return df.observe(obs, *exprs), obs


def _decode_us_per_doc(doc_dir: str) -> float:
    """decode_document + xhtml_to_text in this process, per document file."""
    from doc2dataset_spark.operators.extract import decode_document, xhtml_to_text

    names = sorted(os.listdir(doc_dir))
    blobs = []
    for name in names:
        with open(os.path.join(doc_dir, name), "rb") as fh:
            blobs.append(fh.read())
    t0 = time.perf_counter()
    for data in blobs:
        try:
            for page in decode_document(data):
                xhtml_to_text(page, keep_images=True)
        except ValueError:
            pass
    return (time.perf_counter() - t0) / max(len(blobs), 1) * 1e6


def trace_ingest(spark, workload, spans: Spans, check) -> tuple[float, dict]:
    """(traced operation wall, layer counters)."""
    from doc2dataset_spark.operators.stats import global_rollup, shard_stats
    from doc2dataset_spark.plans.pipeline import build_pipeline, download
    from doc2dataset_spark.sinks.writer import write_output

    cfg = workload.config()
    with spans("op"):
        result = cfg.output_folder, download(spark, cfg)
    check("traced op", result)

    counts = {}
    for depth, layer in enumerate(PREFIXES):
        with spans(f"{layer}.build"):
            df = _prefix(spark, workload.config(), depth)
        df, obs = _observed(df, depth)
        with spans(layer):
            _force(df)
        if obs is not None:
            counts.update(obs.get)

    cfg = workload.config()
    pages = build_pipeline(spark, cfg).persist()
    try:
        with spans("materialize"):
            _force(pages)
        with spans("sink"):
            write_output(pages, cfg)
        files = [os.path.join(d, f) for d, _, fs in os.walk(cfg.output_folder)
                 for f in fs]
        counts["files"] = len(files)
        counts["sink_bytes"] = sum(os.path.getsize(f) for f in files)
        with spans("stats"):  # as download() does: manifest, then roll-up
            stats_dir = os.path.join(cfg.output_folder, "_stats")
            shard_stats(pages).write.mode("append").parquet(stats_dir)
            global_rollup(spark.read.parquet(stats_dir)).collect()
    finally:
        pages.unpersist()
    counts["decode_us"] = _decode_us_per_doc(workload.corpus.doc_dir)
    return spans.walls["op"], counts


def trace_curate(spark, workload, spans: Spans, check) -> tuple[float, dict]:
    from doc2dataset_spark.queries import REGISTRY

    workload.prepare(spark)
    counts = {}
    t0 = time.perf_counter()
    for q in workload.queries:
        with spans(f"q.{q}"):
            counts[q] = REGISTRY[q].builder(spark, DATA).count()
    wall = time.perf_counter() - t0
    check("traced pass", counts)
    return wall, {}


def _pipeline_metrics(spans: Spans, groups, cores: int, c: dict) -> dict:
    out = {}
    prev_wall, prev = 0.0, eventlog.Group()
    for layer in PREFIXES:
        wall = spans.walls[f"{layer}.build"] + spans.walls[layer]
        cum = groups.get(f"{layer}.build", eventlog.Group()) + groups.get(
            layer, eventlog.Group())
        out[layer] = (wall - prev_wall, cum - prev,
                      groups.get(layer, eventlog.Group()).final_stage_tasks)
        prev_wall, prev = wall, cum
    for layer in ("sink", "stats"):
        g = groups.get(layer, eventlog.Group())
        out[layer] = (spans.walls[layer], g, g.final_stage_tasks)

    m = {}
    for layer, (wall, g, tasks) in out.items():
        wall = max(wall, 0.0)
        m.update({
            f"{layer}.wall_s": wall,
            f"{layer}.tasks": tasks,
            f"{layer}.executor_run_s": max(g.executor_run_s, 0.0),
            f"{layer}.executor_cpu_s": max(g.executor_cpu_s, 0.0),
            f"{layer}.gc_s": max(g.gc_s, 0.0),
            f"{layer}.core_busy_ratio": (max(g.executor_run_s, 0.0) / (wall * cores)
                                         if wall > 0 else 0.0),
            f"{layer}.shuffle_write_mb": max(g.shuffle_write_mb, 0.0),
            f"{layer}.spill_mb": max(g.spill_mb, 0.0),
            f"{layer}.failed_tasks": max(g.failed_tasks, 0),
        })
    m.update({
        "fetch.docs": c["docs"],
        "fetch.failed": c["failed"],
        "fetch.bytes_mb": c["bytes"] / eventlog.MB,
        "extract.pages": c["pages"],
        "extract.decode_errors": c["decode_errors"],
        "extract.decode_us_per_doc": c["decode_us"],
        "filters.kept_ratio": c["kept"] / c["rows"],
        "filters.drop_min_words": c["min_words"],
        "filters.drop_max_images": c["max_images"],
        "filters.drop_blank": c["blank"],
        "sink.files": c["files"],
        "sink.bytes_mb": c["sink_bytes"] / eventlog.MB,
    })
    return m


def _query_metrics(spans: Spans, groups, cores: int, queries) -> dict:
    m = {}
    for q in queries:
        wall = spans.walls[f"q.{q}"]
        g = groups.get(f"q.{q}", eventlog.Group())
        m.update({
            f"q.{q}.wall_s": wall,
            f"q.{q}.jobs": g.jobs,
            f"q.{q}.core_busy_ratio": g.executor_run_s / (wall * cores),
            f"q.{q}.shuffle_write_mb": g.shuffle_write_mb,
            f"q.{q}.spill_mb": g.spill_mb,
        })
    return m


def trace_run(session_cls, work: str, workload, tally, op_p50_s: float,
              cold_start_s: float) -> dict:
    """The traced run; returns every per-layer metric as {value, unit}."""
    log_dir = tempfile.mkdtemp(prefix="eventlog-", dir=work)
    session = session_cls(work, event_log=log_dir)
    try:
        spark = session.start()
        cores = spark.sparkContext.defaultParallelism

        def check(label, result):
            tally.record(label, workload.check(spark, result))

        # first operation on the new session: Python workers start again
        workload.prepare(spark)
        check("trace warm-up", workload.op(spark))
        spans = Spans(spark)
        traced = trace_ingest if workload.name == "ingest" else trace_curate
        op_wall, counts = traced(spark, workload, spans, check)
    finally:
        session.stop()
    groups = eventlog.read_dir(log_dir)

    units = per_layer_metrics()
    values = dict.fromkeys(units, 0)
    if workload.name == "ingest":
        values.update(_pipeline_metrics(spans, groups, cores, counts))
        layer_walls = [values[f"{layer}.wall_s"] for layer in PIPELINE]
    else:
        values.update(_query_metrics(spans, groups, cores, workload.queries))
        layer_walls = [values[f"q.{q}.wall_s"] for q in workload.queries]
    # how much of the traced operation's wall the layer self times cover
    values["trace.accounted_ratio"] = sum(layer_walls) / op_wall
    values["session.start_s"] = cold_start_s
    values["trace.overhead_ratio"] = op_wall / op_p50_s
    values["error_rate"] = tally.failed / tally.attempted
    return {k: {"value": v, "unit": units[k][0]} for k, v in values.items()}
