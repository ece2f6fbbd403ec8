"""``ingest``: download() over a seeded file:// FAKEDOC corpus into parquet.

The paper's main path. The fetch is a local read, so extraction, the page
filters, language detection and the parquet sink do the work.
"""

from __future__ import annotations

import itertools
import os
import shutil

import corpus

N_DOCS = 400
TOY_DOCS = 20
MAX_PAGES = 6
SAMPLES_PER_SHARD = 200


class Ingest:
    name = "ingest"

    def __init__(self, work: str, seed: int, toy: bool = False):
        self.work = work
        self.docs = TOY_DOCS if toy else N_DOCS
        self.corpus = corpus.build(os.path.join(work, "corpus"), seed,
                                   self.docs, MAX_PAGES)
        self._outs = itertools.count()

    def config(self):
        from doc2dataset_spark.config import DownloadConfig

        return DownloadConfig(
            url_list=self.corpus.url_list,
            # a fresh folder per call: in the default incremental mode a
            # reused folder skips every shard listed in its _stats manifest
            output_folder=os.path.join(self.work, "out", str(next(self._outs))),
            input_format="csv",
            output_format="parquet",
            get_language=True,
            compute_hash="sha256",
            number_sample_per_shard=SAMPLES_PER_SHARD,
            min_words_per_page=corpus.MIN_WORDS,
            max_images_per_page=corpus.MAX_IMAGES,
            min_image_size=corpus.MIN_IMAGE_SIZE,
            max_aspect_ratio=corpus.MAX_ASPECT,
        )

    def prepare(self, spark) -> None:
        pass

    def op(self, spark):
        from doc2dataset_spark.plans.pipeline import download

        cfg = self.config()
        return cfg.output_folder, download(spark, cfg)

    def check(self, spark, result) -> str | None:
        """Compare download()'s summary and the parquet sink with what the
        corpus generator expects; remove the output folder."""
        out, summary = result
        e = self.corpus.expected
        try:
            want = {"count": e.rows, "successes": e.successes,
                    "failed_to_download": e.failed_to_download,
                    "failed_to_extract": e.failed_to_extract, "docs": e.docs}
            errors = [f"{k}={summary.get(k)} want {v}"
                      for k, v in want.items() if summary.get(k) != v]
            rows = (spark.read.parquet(os.path.join(out, "samples"))
                    .select("url", "page_no", "text").collect())
            if len(rows) != e.successes:
                errors.append(f"sink samples={len(rows)} want {e.successes}")
            digest = corpus.text_digest(
                (r.url, r.page_no, bytes(r.text).decode()) for r in rows)
            if digest != e.text_digest:
                errors.append("sink text digest differs")
            return "; ".join(errors) or None
        finally:
            shutil.rmtree(out, ignore_errors=True)
