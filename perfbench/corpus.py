"""Seeded FAKEDOC corpus for the ``ingest`` workload.

Every page is built so that its fate under the benchmark's filter settings
is known by construction: a kept page, a page with too few words, a page
with too many images, or a blank page. A small fixed share of documents is
undecodable or missing. The generator therefore knows the exact status
counts a correct ``download()`` must report, and a digest of the text that
the sink must hold.
"""

from __future__ import annotations

import csv
import hashlib
import os
import random
from dataclasses import dataclass

from tests.fixtures import fakedoc

# Filter settings the corpus is built against (passed to DownloadConfig).
MIN_WORDS = 20
MAX_IMAGES = 3
MIN_IMAGE_SIZE = 16
MAX_ASPECT = 4.0

# Share of pages of each kind, and of documents that fail as a whole.
PAGE_KINDS = (("ok", 0.70), ("short", 0.12), ("many_images", 0.10), ("blank", 0.08))
UNDECODABLE_SHARE = 0.03
MISSING_SHARE = 0.02


@dataclass(frozen=True)
class Expected:
    """What a correct download() of the corpus reports and writes."""

    docs: int
    rows: int
    successes: int
    failed_to_download: int
    failed_to_extract: int
    text_digest: str


@dataclass(frozen=True)
class Corpus:
    url_list: str
    doc_dir: str
    expected: Expected


def _vocabulary(rng: random.Random, n: int = 400) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(2, 9))))
    return sorted(words)


def _image(rng: random.Random, src: str, keep: bool) -> tuple[str, str]:
    """(source tag, canonical marker the extractor rewrites it to). A kept
    image passes the size and aspect tests; any other is removed."""
    if keep:
        w = rng.randint(MIN_IMAGE_SIZE, 300)
        h = rng.randint(max(MIN_IMAGE_SIZE, int(w / MAX_ASPECT) + 1),
                        min(300, int(w * MAX_ASPECT)))
    elif rng.random() < 0.5:  # undersized
        w, h = rng.randint(1, MIN_IMAGE_SIZE - 1), rng.randint(1, 300)
    else:  # extreme aspect ratio
        h = rng.randint(MIN_IMAGE_SIZE, 40)
        w = rng.randint(int(h * MAX_ASPECT) + 1, int(h * MAX_ASPECT) + 200)
    return (f'<img width="{w}" height="{h}" src="{src}"/>',
            f'<img height="{h}" width="{w}" src="{src}"/>')


def _page(rng: random.Random, vocab: list[str], kind: str) -> tuple[str, str | None]:
    """(page xhtml, expected sink text or None when the page is dropped)."""
    if kind == "blank":
        return "<p>   </p>", None
    if kind == "short":
        n_words, n_images = rng.randint(1, MIN_WORDS - 1), rng.randint(0, 1)
    elif kind == "many_images":
        n_words, n_images = rng.randint(MIN_WORDS, MIN_WORDS + 80), rng.randint(
            MAX_IMAGES + 1, MAX_IMAGES + 4)
    else:
        n_words, n_images = rng.randint(MIN_WORDS, MIN_WORDS + 80), rng.randint(
            0, MAX_IMAGES)
    words = " ".join(rng.choice(vocab) for _ in range(n_words))
    tags, kept = [], []
    for i in range(n_images):
        keep = rng.random() < 0.6
        tag, marker = _image(rng, f"i{i}.png", keep)
        tags.append(tag)
        if keep:
            kept.append(marker)
    xhtml = f"<p>{words}</p>" + "".join(tags)
    return xhtml, ("\n" + words + "".join(kept)) if kind == "ok" else None


def text_digest(items) -> str:
    """Order-free digest of (url, page_no, text) triples."""
    lines = sorted(f"{u}\t{p}\t{hashlib.sha256(t.encode()).hexdigest()}"
                   for u, p, t in items)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def build(root: str, seed: int, n_docs: int, max_pages: int) -> Corpus:
    """Write ``n_docs`` documents under ``root`` and one CSV url list of
    their file:// urls."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng)
    doc_dir = os.path.join(root, "docs")
    os.makedirs(doc_dir, exist_ok=True)
    kinds, weights = zip(*PAGE_KINDS)
    rows = successes = failed_dl = failed_ex = 0
    kept_pages = []
    urls = []
    for d in range(n_docs):
        name = f"d{d:06d}.fake"
        path = os.path.join(doc_dir, name)
        url = f"file://{path}"
        urls.append(url)
        roll = rng.random()
        if roll < MISSING_SHARE:
            rows, failed_dl = rows + 1, failed_dl + 1
            continue
        if roll < MISSING_SHARE + UNDECODABLE_SHARE:
            data = bytes(rng.randrange(256) for _ in range(rng.randint(16, 200)))
            rows, failed_ex = rows + 1, failed_ex + 1
        else:
            pages = []
            for p in range(rng.randint(1, max_pages)):
                xhtml, text = _page(rng, vocab, rng.choices(kinds, weights)[0])
                pages.append(xhtml)
                if text is None:
                    failed_ex += 1
                else:
                    successes += 1
                    kept_pages.append((url, p, text))
            rows += len(pages)
            data = fakedoc(pages)
        with open(path, "wb") as fh:
            fh.write(data)
    url_list = os.path.join(root, "urls.csv")
    with open(url_list, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["url"])
        w.writerows([u] for u in urls)
    return Corpus(url_list, doc_dir, Expected(
        docs=n_docs, rows=rows, successes=successes,
        failed_to_download=failed_dl, failed_to_extract=failed_ex,
        text_digest=text_digest(kept_pages)))
