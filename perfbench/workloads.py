"""Benchmark workloads: chain parameters plus seeded .warc.gz corpora.

Each workload is written single-process from its seed, cached behind a
completion marker, and generated before any timing starts.

- ``crawl_markdown``: the synthetic crawl mix of
  ``sources.warc.write_warc_files`` (HTML and PDF payloads, ~20%
  text/plain records, one domain holding ~30% of rows) at all five
  extraction levels, so every row runs the Python lane and every kernel.
- ``text_dupes``: text/plain records only, from a large pseudo-word
  pool, in a fixed mix of unique docs, low-quality docs, exact copies
  and near copies (one unique tail token). Extract takes the pure-JVM
  lane; dedup, curation and assemble see real volume.
"""

from __future__ import annotations

import datetime as dt
import gzip
import os
import random
from typing import Dict, Iterator, List, Tuple

LEVELS_ALL = ("raw", "lines", "chapters", "processed", "markdown")

WORKLOADS: Dict[str, dict] = {
    "crawl_markdown": {
        "corpus": "crawl", "docs": 2000, "files": 4,
        "levels": LEVELS_ALL, "num_batches": 2, "budget": 10_000_000,
    },
    "text_dupes": {
        "corpus": "text_dupes", "docs": 4000, "files": 4,
        "levels": ("raw",), "num_batches": 2, "budget": 80_000,
    },
}

# text_dupes generator parameters. One block of ten docs holds five
# unique docs, one low-quality doc, two exact copies and two near
# copies, in that order; a copy's source is any earlier original.
TEXT_BLOCK = ("unique",) * 5 + ("low_quality",) + ("exact_copy",) * 2 \
    + ("near_copy",) * 2
POOL_WORDS = 20000
UNIQUE_WORDS = (60, 120)   # words per unique doc; every 5th is a stopword
LOW_WORDS = (12, 24)       # words per low-quality doc; no stopwords
STOPWORDS = ("the", "a", "and", "of")  # textstats.STOPWORDS["en"]
_CONSONANTS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"


def word_pool(rng: random.Random, size: int = POOL_WORDS) -> List[str]:
    """``size`` distinct pseudo-words of two or three syllables (mean
    length near five letters, the quality score's target)."""
    seen: set = set(STOPWORDS)
    pool: List[str] = []
    while len(pool) < size:
        w = "".join(rng.choice(_CONSONANTS) + rng.choice(_VOWELS)
                    for _ in range(rng.choice((2, 2, 3))))
        if rng.random() < 0.3:
            w += rng.choice(_CONSONANTS)
        if w not in seen:
            seen.add(w)
            pool.append(w)
    return pool


def text_dupes_records(n_docs: int, seed: int
                       ) -> Iterator[Tuple[int, str, str]]:
    """Yield ``(index, kind, text)`` for the text_dupes corpus."""
    rng = random.Random(seed)
    pool = word_pool(rng)
    originals: List[str] = []
    for i in range(n_docs):
        kind = TEXT_BLOCK[i % len(TEXT_BLOCK)]
        if kind == "unique":
            n = rng.randint(*UNIQUE_WORDS)
            text = " ".join(rng.choice(STOPWORDS) if k % 5 == 0
                            else rng.choice(pool) for k in range(n))
            originals.append(text)
        elif kind == "low_quality":
            text = " ".join(rng.choice(pool)
                            for _ in range(rng.randint(*LOW_WORDS)))
            originals.append(text)
        elif kind == "exact_copy":
            text = rng.choice(originals)
        else:
            text = f"{rng.choice(originals)} tail{seed}x{i}"
        yield i, kind, text


def _write_text_dupes(out_dir: str, n_docs: int, n_files: int,
                      seed: int) -> None:
    from pdf_extractor_spark.sources.warc import format_record

    base = dt.datetime(2025, 6, 1)
    chunks: List[List[bytes]] = [[] for _ in range(n_files)]
    for i, _kind, text in text_dupes_records(n_docs, seed):
        ts = (base + dt.timedelta(seconds=i)).strftime("%Y-%m-%dT%H:%M:%SZ")
        chunks[i % n_files].append(format_record(
            f"https://text{i % 7}.example/doc/{i:07d}.txt", ts,
            text.encode("utf-8"), "text/plain"))
    for f, recs in enumerate(chunks):
        with open(os.path.join(out_dir, f"part-{f:03d}.warc.gz"), "wb") as fh:
            fh.write(gzip.compress(b"".join(recs), mtime=0))


def write_corpus(root: str, workload: str, seed: int) -> str:
    """Write (once) the workload's corpus for ``seed``; return its dir.

    A ``_COMPLETE`` marker is written last, so a killed generation is
    redone from scratch on the next call."""
    import shutil

    cfg = WORKLOADS[workload]
    docs = cfg["docs"]
    out = os.path.join(root, f"{cfg['corpus']}-n{docs}-s{seed}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if cfg["corpus"] == "crawl":
        from pdf_extractor_spark.sources.warc import write_warc_files
        write_warc_files(out, docs, n_files=cfg["files"], seed=seed)
        # gzip here with a fixed header mtime, so equal seeds give equal
        # bytes (write_warc_files stamps the current time)
        for name in sorted(os.listdir(out)):
            path = os.path.join(out, name)
            with open(path, "rb") as fh:
                data = fh.read()
            with open(path + ".gz", "wb") as fh:
                fh.write(gzip.compress(data, mtime=0))
            os.remove(path)
    else:
        _write_text_dupes(out, docs, cfg["files"], seed)
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return out
