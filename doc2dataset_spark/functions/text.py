"""Text-extraction scalar functions (reference T6-T11, `extractor.py:13-77`).

Each function exists twice with identical semantics:
- a pure-Python form (used inside the per-document extraction UDF, and as
  the unit-test oracle), and
- a native Spark Column form (JVM-side regex, whole-stage-codegen'd) used
  when the value is computed over an already-extracted text column — the
  100 TB hot path never leaves the JVM for these.

Regex semantics follow the reference (`extractor.py:13-17`):
- ALL_TAGS:  ``(?is)<.*?>``  — any tag, dotall+caseless, non-greedy
- ANY_WORD:  ``[^\\]\\[\\s,<>]+`` — runs not containing ws , < > [ ]
- IMG_TAG:   ``(?s)<img.*?>``
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

ALL_TAGS_RE = re.compile(r"(?is)<.*?>")
ANY_WORD_RE = re.compile(r"[^\]\[\s,<>]+")
IMG_TAG_RE = re.compile(r"(?s)<img.*?>")
_WIDTH_RE = re.compile(r'width="(\d+)"')
_HEIGHT_RE = re.compile(r'height="(\d+)"')
_DIGITS_RE = re.compile(r"[.\d]+")

ALL_TAGS_SQL = r"(?is)<.*?>"
ANY_WORD_SQL = r"[^\]\[\s,<>]+"
IMG_TAG_SQL = r"(?s)<img.*?>"


# ---------------------------------------------------------------------------
# word counting (T6, `extractor.py:28-31`)
# ---------------------------------------------------------------------------
def count_words(page: str) -> int:
    """Strip every tag to a newline, then count ANY_WORD matches."""
    return len(ANY_WORD_RE.findall(ALL_TAGS_RE.sub("\n", page)))


def count_words_col(col: Column) -> Column:
    """Native twin of :func:`count_words` (regexp JVM-side)."""
    stripped = F.regexp_replace(col, ALL_TAGS_SQL, "\n")
    return F.size(F.regexp_extract_all(stripped, F.lit(ANY_WORD_SQL), 0))


# ---------------------------------------------------------------------------
# image tags (T7-T9, `extractor.py:34-64`)
# ---------------------------------------------------------------------------
def images_in_page(page: str) -> list[str]:
    return IMG_TAG_RE.findall(page)


def images_in_page_col(col: Column) -> Column:
    return F.regexp_extract_all(col, F.lit(IMG_TAG_SQL), 0)


def get_image_size(img_tag: str) -> tuple[int, int]:
    """(width, height); a missing attribute is 0 (reference
    `extractor.py:38-44` — missing sizes always fail the min-size test)."""
    w = _WIDTH_RE.search(img_tag)
    h = _HEIGHT_RE.search(img_tag)
    return (int(w.group(1)) if w else 0, int(h.group(1)) if h else 0)


def remove_img_tag(page: str, img_tag: str) -> str:
    """Remove one img tag from the page.

    The reference uses the tag text as a *regex pattern* (`re.sub(img, ...)`,
    `extractor.py:63-64`), which breaks when src contains metacharacters;
    we substitute the literal string instead (documented divergence,
    SURVEY §2.1 T9)."""
    return page.replace(img_tag, "")


def image_removal_criteria(
    img_tag: str, min_image_size: int, max_aspect_ratio: float | None
) -> bool:
    """True if the image must be dropped from the text (F8,
    `extractor.py:121-126`). ZeroDivision on h==0 is treated as a drop
    (the reference lets it raise and fail the page; divergence documented)."""
    w, h = get_image_size(img_tag)
    if w < min_image_size or h < min_image_size:
        return True
    if max_aspect_ratio is not None:
        if h == 0 or w == 0:
            return True
        if max(w / h, h / w) > max_aspect_ratio:
            return True
    return False


def image_removal_criteria_col(
    img_tag: Column, min_image_size: int, max_aspect_ratio: float | None
) -> Column:
    """Native twin of :func:`image_removal_criteria` over one img-tag
    Column (missing attrs parse as 0, exactly like get_image_size)."""
    w, h = (
        F.coalesce(
            F.regexp_extract(img_tag, rx.pattern, 1).cast("int"), F.lit(0)
        )
        for rx in (_WIDTH_RE, _HEIGHT_RE)
    )
    drop = (w < min_image_size) | (h < min_image_size)
    if max_aspect_ratio is not None:
        ratio = F.greatest(
            w / F.nullif(h, F.lit(0)), h / F.nullif(w, F.lit(0))
        )
        drop = drop | ((h == 0) | (w == 0) | (ratio > max_aspect_ratio))
    return drop


# ---------------------------------------------------------------------------
# tag stripping / digit removal (T10, `extractor.py:67-68`)
# ---------------------------------------------------------------------------
def strip_tags(page: str) -> str:
    """Replace every tag with a newline (the word-count preprocessor)."""
    return ALL_TAGS_RE.sub("\n", page)


def remove_digits(page: str) -> str:
    return _DIGITS_RE.sub("", page)


def remove_digits_col(col: Column) -> Column:
    # (?U) = UNICODE_CHARACTER_CLASS: Java \d is ASCII-only by default,
    # but the reference compiles r"[.\d]+" as a Python str pattern where
    # \d already matches every Unicode Nd digit (e.g. Arabic-Indic ٠-٩) —
    # without the flag, non-Latin corpora diverge from the reference
    return F.regexp_replace(col, r"(?U)[.\d]+", "")


def is_blank_col(col: Column) -> Column:
    """True when the text holds nothing but whitespace (the Java regex
    whitespace class: ASCII only) — the F6 empty-page test."""
    return F.length(F.regexp_replace(col, r"\s", "")) == 0


# ---------------------------------------------------------------------------
# language detection (T11, `extractor.py:71-73`): pycld2 when present,
# else a deterministic script+stopword heuristic with the same signature
# ---------------------------------------------------------------------------
try:  # pragma: no cover - depends on environment
    import pycld2  # type: ignore

    def detect_language(text: str) -> str | None:
        try:
            return pycld2.detect(text)[2][0][1]
        except Exception:  # noqa: BLE001
            return None

except ImportError:
    _MARKERS = {
        "en": {"the", "of", "and", "to", "in", "is", "was", "a", "that", "it"},
        "de": {"der", "die", "das", "und", "ist", "nicht", "ein", "zu"},
        "es": {"el", "la", "de", "que", "y", "los", "es", "una", "por"},
        "fr": {"le", "les", "et", "est", "des", "une", "dans", "pour"},
        "ru": {"и", "в", "не", "на", "что", "я", "с", "это"},
        "fa": {"و", "در", "به", "از", "که", "را", "با", "این"},
    }

    def detect_language(text: str) -> str | None:
        """Deterministic fallback language ID (pycld2 is not installed in
        this environment): Unicode-script check for Cyrillic/Arabic, then
        stopword profiles. Same contract as the pycld2 path."""
        if not text or not text.strip():
            return None
        cyr = sum("Ѐ" <= c <= "ӿ" for c in text)
        ara = sum("؀" <= c <= "ۿ" for c in text)
        han = sum("一" <= c <= "鿿" for c in text)
        letters = sum(c.isalpha() for c in text) or 1
        if han / letters > 0.3:
            return "zh"
        if cyr / letters > 0.3:
            return "ru"
        if ara / letters > 0.3:
            return "fa"
        toks = set(re.findall(r"\w+", text.lower(), re.UNICODE))
        best, score = "en", -1
        for lang, words in _MARKERS.items():
            s = len(toks & words)
            if s > score:
                best, score = lang, s
        return best
