"""Deterministic synthetic ``pages`` corpus (FIXTURES.md §1).

Schema per BASELINE.json ``input_hint``:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Nine content classes rotate per row, each exercising named SURVEY.md §2
operators (spaced titles P4-P6, hyphenation P13, TOC structure P15-P17,
long lines P3, run-together words Q4, repeated headers/footers A8,
bullet/fragment merges P9, near-table blocks Q12, clean identity docs).
Payloads alternate HTML (boilerplate + main content) and real PDF bytes
(kernels/pdfgen) so both parser paths run. One skewed domain holds ~30%
of rows to exercise salting. Everything is a pure function of
``(seed, n)`` — no wall clock, no external data.
"""

from __future__ import annotations

import datetime as dt
import random
from typing import Dict, List

import pandas as pd

from ..kernels import pdfgen

SKEW_DOMAIN = "bighost.example"
DOMAINS = ["alpha.example", "beta.example", "gamma.example",
           "delta.example", "epsilon.example"]
LANGS = ["en", "en", "en", "fr", "es", "de", "zh"]  # en-weighted

_WORDS = (
    "the quick brown fox jumps over lazy dog while many adventurers "
    "travel across distant mountains seeking treasure wisdom and glory "
    "under pale moonlight they gather around fires telling stories of "
    "dragons dungeons heroes villains and the strange magic that binds "
    "all living things together in one great tale"
).split()

CONTENT_CLASSES = [
    "spaced_titles", "hyphenated", "toc_structure", "long_lines",
    "run_together", "headers_footers", "bullets_fragments",
    "near_table", "clean",
]


def _sentence(rng: random.Random, n_words: int) -> str:
    ws = [rng.choice(_WORDS) for _ in range(n_words)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def _class_lines(cls: str, rng: random.Random) -> List[str]:
    """Body lines for one document of the given content class."""
    if cls == "spaced_titles":
        return [
            "C h a p t e r 1 : R a c e s",
            _sentence(rng, 10),
            "H i l l D w a r f",
            _sentence(rng, 8),
            _sentence(rng, 9),
            "C h a p t e r 2 : Classes",
            _sentence(rng, 10),
        ]
    if cls == "hyphenated":
        return [
            "This paragraph contains a wonder-",
            "ful example of hyphen breaks appearing mid-",
            "sentence in extracted text.",
            _sentence(rng, 12),
        ]
    if cls == "toc_structure":
        return [
            "Preface material for the sample volume.",
            "Contents",
            "Introduction.......3",
            "Basic Rules.......7",
            "Chapter 1: Getting Started 11",
            _sentence(rng, 10),
            "Appendix A: Conditions",
            _sentence(rng, 9),
        ]
    if cls == "long_lines":
        long = " ".join(_sentence(rng, 10) for _ in range(45))  # > 2000 chars
        return [long, _sentence(rng, 8)]
    if cls == "run_together":
        return [
            "It is notable that the heroes standstill.",
            "They wanted togo but the door was locked.",
            _sentence(rng, 11),
        ]
    if cls == "headers_footers":
        return [_sentence(rng, rng.randint(8, 12)) for _ in range(88)]
    if cls == "bullets_fragments":
        return [
            "The party carried the following items",
            "• a rope of climbing",
            "• three days of rations",
            "and a lantern that never dims.",
            _sentence(rng, 10),
        ]
    if cls == "near_table":
        # Pattern-bearing lines kept BELOW detect_table thresholds (Q12).
        return [
            "1st", "+2",
            _sentence(rng, 10),
            _sentence(rng, 9),
            _sentence(rng, 8),
        ]
    return [_sentence(rng, rng.randint(8, 13)) for _ in range(6)]  # clean


def _html_payload(title: str, lines: List[str], rng: random.Random) -> bytes:
    nav = '<nav><a href="/">Home</a> <a href="/a">Archive</a> <a href="/c">Contact</a></nav>'
    footer = '<footer>Copyright 2026 Example Site <a href="/p">Privacy</a></footer>'
    side = '<aside><a href="/x">Ad one</a> <a href="/y">Ad two</a></aside>'
    body = "\n".join(f"<p>{ln}</p>" for ln in lines)
    return (
        f"<!DOCTYPE html><html><head><title>{title}</title>"
        f"<style>.m{{color:red}}</style></head><body>{nav}"
        f"<header><div>Example Site Navigation Banner</div></header>{side}"
        f"<main><h1>{title}</h1>\n{body}</main>{footer}</body></html>"
    ).encode("utf-8")


def _pdf_payload(cls: str, lines: List[str]) -> bytes:
    if cls == "headers_footers":
        return pdfgen.simple_pdf(lines, header="Sample Running Header",
                                 footer="Sample Running Footer",
                                 page_numbers=True)
    if cls == "long_lines":
        # PDF path wraps long text itself; keep lines short for layout.
        lines = [ln[:90] for ln in lines]
    return pdfgen.simple_pdf(lines)


def build_pages_records(n: int, seed: int = 42,
                        skew_frac: float = 0.3) -> List[Dict]:
    """``n`` deterministic page rows; ~``skew_frac`` share one hot domain.

    Row ``i`` is a pure function of ``(seed, i)`` — identical whether
    generated here (driver/pandas) or on executors (``synth_pages_df``),
    which is what the determinism tests rely on.
    """
    return _records_for_ids(range(n), seed, skew_frac)


def synth_pages_pandas(n: int, seed: int = 42, skew_frac: float = 0.3
                       ) -> pd.DataFrame:
    return pd.DataFrame(build_pages_records(n, seed, skew_frac))


PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def synth_pages_df(spark, n: int, seed: int = 42, skew_frac: float = 0.3,
                   partitions: int = 0):
    """Synthetic pages as a Spark DataFrame.

    Rows are generated ON EXECUTORS from an index range (the driver ships
    only ``range(n)``), so corpus size is not driver-memory-bound — the
    same shape a real Iceberg/parquet scan has at 10^12 rows.
    """
    num_parts = partitions or max(8, n // 2000)

    def gen(iterator):
        for id_batch in iterator:
            ids = id_batch["id"].tolist()
            for j in range(0, len(ids), 500):
                yield pd.DataFrame(
                    _records_for_ids(ids[j:j + 500], seed, skew_frac))

    df = spark.range(0, n, 1, num_parts)
    return df.mapInPandas(gen, schema=PAGES_SCHEMA)


def _records_for_ids(ids, seed: int, skew_frac: float) -> List[Dict]:
    """Rows for specific global indices (executor-side generation)."""
    base_ts = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    rows: List[Dict] = []
    for i in ids:
        cls = CONTENT_CLASSES[i % len(CONTENT_CLASSES)]
        doc_rng = random.Random(seed * 1_000_003 + i)
        lines = _class_lines(cls, doc_rng)
        title = f"Document {i} {cls.replace('_', ' ').title()}"
        domain = (SKEW_DOMAIN if doc_rng.random() < skew_frac
                  else doc_rng.choice(DOMAINS))
        url = f"https://{domain}/docs/{cls}/{i:07d}.html"
        is_pdf = (i % 2 == 1)
        payload = (_pdf_payload(cls, lines) if is_pdf
                   else _html_payload(title, lines, doc_rng))
        if is_pdf:
            url = url.replace(".html", ".pdf")
        pre_text = "\n".join(lines) if doc_rng.random() < 0.2 else None
        rows.append({
            "url": url,
            "warc_ts": base_ts + dt.timedelta(seconds=i * 17),
            "html": payload,
            "text": pre_text,
            "lang": doc_rng.choice(LANGS),
        })
    return rows


EXTRA_CLASSES = ["unicode", "empty_html", "nested_lists",
                 "whitespace_soup", "mixed_long"]


def _extra_class_lines(cls: str, rng: random.Random) -> List[str]:
    """Second fixture family — adversarial classes added after the
    original goldens were frozen (kept separate so the original 45
    stay byte-stable across rounds)."""
    if cls == "unicode":
        return [
            "Café déjà-vu naïve façade — æther cœur",
            "Chapter 1: Übersicht",
            "中文段落内容测试 with mixed script",
            _sentence(rng, 8) + " ß π µ",
        ]
    if cls == "empty_html":
        return []
    if cls == "nested_lists":
        return [
            "The pack contains the following",
            "• outer item one",
            "• outer item two",
            "- inner detail a",
            "- inner detail b",
            _sentence(rng, 9),
        ]
    if cls == "whitespace_soup":
        return [
            "words\twith\ttabs  and   runs    of spaces",
            "  leading and trailing   ",
            _sentence(rng, 7) + "     " + _sentence(rng, 6),
        ]
    # mixed_long: structure + long line + header-ish repetition
    long = " ".join(_sentence(rng, 10) for _ in range(30))
    return [
        "Chapter 1: Mixed Stress",
        _sentence(rng, 10),
        long,
        "H i l l D w a r f",
        _sentence(rng, 9),
    ]


def build_extra_records(n: int, seed: int = 137) -> List[Dict]:
    """Deterministic extra-family rows (same schema as the pages
    corpus; urls under /extra/ so the families never collide)."""
    base_ts = dt.datetime(2025, 7, 1, tzinfo=dt.timezone.utc)
    rows: List[Dict] = []
    for i in range(n):
        cls = EXTRA_CLASSES[i % len(EXTRA_CLASSES)]
        rng = random.Random(seed * 1_000_003 + i)
        lines = _extra_class_lines(cls, rng)
        title = f"Extra {i} {cls.replace('_', ' ').title()}"
        domain = rng.choice(DOMAINS)
        is_pdf = (i % 2 == 1)
        url = (f"https://{domain}/extra/{cls}/{i:05d}"
               f".{'pdf' if is_pdf else 'html'}")
        payload = (_pdf_payload(cls, [ln[:90] for ln in lines])
                   if is_pdf else _html_payload(title, lines, rng))
        rows.append({
            "url": url,
            "warc_ts": base_ts + dt.timedelta(seconds=i * 13),
            "html": payload,
            "text": None,
            "lang": rng.choice(LANGS),
        })
    return rows
