"""Post-extraction page processing as native Spark SQL (reference F6-F10 +
T6-T10, `extractor.py:121-168`, `downloader.py:194-195`).

The reference evaluates all of this in Python per page; here every step is
a Catalyst expression (whole-stage codegen, no serde), built from the
Column twins in functions/text.py:

1. image scan           — regexp_extract_all (T7)
2. removal criteria     — size/aspect predicates over the parsed attrs (F8)
3. img removal          — aggregate-fold literal replace (T9; reference
                          regex-as-pattern bug fixed, divergence documented)
4. images_per_page      — count of images FOUND (pre-removal; F7 input,
                          reference `extractor.py:152`)
5. digit removal        — regexp_replace (T10, only when save_figures=False)
6. word count           — strip-tags + word regex (T6)
7. status marking       — failed filters mark rows failed_to_extract but
                          keep them (stats parity, SURVEY F6 note)

The returned frame carries every page with a ``status`` and
``error_message``; sinks write only successes (the reference never writes
failed samples either — their writes are commented out,
`downloader.py:188-192` — but counts them in stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from doc2dataset_spark.config import DownloadConfig
from doc2dataset_spark.functions.text import (
    count_words_col,
    image_removal_criteria_col,
    images_in_page_col,
    is_blank_col,
    remove_digits_col,
)

MSG_BLANK = "empty page"
MSG_MAX_IMAGES = "too many images in page"
MSG_MIN_WORDS = "too few words in page"
STATUS_SUCCESS = "success"
STATUS_FAILED_DOWNLOAD = "failed_to_download"
STATUS_FAILED_EXTRACT = "failed_to_extract"


def apply_page_filters(df: DataFrame, cfg: DownloadConfig) -> DataFrame:
    """Native page transform + filter pass. Input: extract_pages output.
    Output adds text, total_words, images_per_page, status, error_message.
    """
    # F8: undersized or extreme aspect ratio (missing attrs parse as 0
    # and always fail the size test; h==0 with aspect check on is a drop
    # — the reference raises ZeroDivisionError there, documented
    # divergence SURVEY §2.1)
    df = df.withColumn("_imgs_all", images_in_page_col(F.col("page_text")))
    df = df.withColumn(
        "_imgs_rm",
        F.filter(
            F.col("_imgs_all"),
            lambda i: image_removal_criteria_col(
                i, cfg.min_image_size, cfg.max_aspect_ratio
            ),
        ),
    )
    # T9: fold the removable tags into literal replaces
    df = df.withColumn(
        "text",
        F.when(
            F.col("page_text").isNotNull(),
            F.aggregate(
                F.col("_imgs_rm"),
                F.col("page_text"),
                lambda acc, tag: F.replace(acc, tag, F.lit("")),
            ),
        ),
    )
    # reference parity (`extractor.py:152`): images_per_page is the count
    # of images FOUND on the page (pre-size-removal) — the same value the
    # F7 max-images check tests; size-based removal edits the text but
    # does not change the recorded count
    df = df.withColumn("images_per_page", F.size(F.col("_imgs_all")))
    if cfg.remove_digits and not cfg.save_figures:
        # T10 gate (`extractor.py:163-164`): digits stripped only when
        # remove_digits is on AND figures are off — both conditions, like
        # the reference
        df = df.withColumn("text", remove_digits_col(F.col("text")))

    # T6 word count over the final text
    df = df.withColumn(
        "total_words",
        F.when(F.col("text").isNotNull(), count_words_col(F.col("text"))),
    )

    # status resolution (T14 taxonomy)
    is_blank = F.col("text").isNotNull() & is_blank_col(F.col("text"))
    too_few_words = (
        (F.col("total_words") < cfg.min_words_per_page)
        if cfg.min_words_per_page is not None
        else F.lit(False)
    )
    too_many_imgs = (
        (F.size(F.col("_imgs_all")) > cfg.max_images_per_page)
        if cfg.max_images_per_page is not None
        else F.lit(False)
    )
    status = (
        F.when(F.col("fetch_error").isNotNull(), STATUS_FAILED_DOWNLOAD)
        .when(F.col("doc_error").isNotNull(), STATUS_FAILED_EXTRACT)
        .when(is_blank, STATUS_FAILED_EXTRACT)
        .when(too_many_imgs, STATUS_FAILED_EXTRACT)
        .when(too_few_words, STATUS_FAILED_EXTRACT)
        .otherwise(STATUS_SUCCESS)
    )
    error_message = (
        F.when(F.col("fetch_error").isNotNull(), F.col("fetch_error"))
        .when(F.col("doc_error").isNotNull(), F.col("doc_error"))
        .when(is_blank, F.lit(MSG_BLANK))
        .when(too_many_imgs, F.lit(MSG_MAX_IMAGES))
        .when(too_few_words, F.lit(MSG_MIN_WORDS))
    )
    return (
        df.withColumn("status", status)
        .withColumn("error_message", error_message)
        .drop("_imgs_all", "_imgs_rm", "page_text")
    )
