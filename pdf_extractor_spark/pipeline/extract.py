"""The extraction surface: pages → clean text (+ structured levels).

One fused ``mapInPandas`` stage runs the whole per-document chain
(detect → parse → P1 normalize → optional lines/chapters/processed/
markdown levels). Fusing is deliberate (SURVEY.md §7.0): documents stay
un-exploded, so there is exactly ONE JVM↔Python Arrow crossing per
document regardless of how many levels are materialized, per-document
ordering needs no window shuffle, and byte-identity with the
single-node golden generator is trivial — both call the same kernels.

Scale posture:
- ``repartition_salted`` spreads hot domains by hashing the full url —
  a 30%-of-rows domain lands evenly across all partitions (north_rule:
  "partitioning / shuffle / skew handled explicitly").
- After the pUDF the plan is embarrassingly parallel; the only shuffles
  are the (tiny) stats/lineage aggregations.
- Per-row failures are captured into ``failure_reason`` instead of
  failing the task (the reference's blanket try/except chain S5,
  pdf_extractor.py:73-81) — at 10^12 rows a poison document must cost
  one row, not a stage retry.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, List, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import chapters as kch
from ..kernels import doctype as kdt
from ..kernels import envelope as kenv
from ..kernels import htmlx, ocr, pdfx, textnorm
from ..kernels import lines as klines
from ..kernels import markdown as kmd
from ..kernels import textcleaner as ktc

LEVELS = ("raw", "lines", "chapters", "processed", "markdown")

# Poison-row defense: at 10^12 rows a multi-GB payload must become one
# failure_reason row, never an executor OOM. 64 MiB covers any sane
# web page/PDF; the cap is checked before any parsing allocates.
MAX_PAYLOAD_BYTES = 64 * 1024 * 1024

_BASE_SCHEMA = ("url string, warc_ts timestamp, lang string, "
                "doctype string, text string, n_chars long, n_lines long, "
                "failure_reason string")
_LEVEL_COLS = {
    "lines": "lines_json string",
    "chapters": "chapters_json string",
    "processed": "processed_json string",
    "markdown": "markdown string",
}


def _dumps(obj) -> str:
    """Canonical JSON for golden comparison (stable separators, UTF-8)."""
    return json.dumps(obj, ensure_ascii=False, separators=(",", ":"))


def extract_document(payload, pre_text, url: str,
                     levels: Sequence[str],
                     use_ocr_fallback: bool = False,
                     text_cleaning: str = "none") -> dict:
    """Per-document kernel chain — shared verbatim by the Spark stage and
    the single-node golden generator (tools/make_goldens.py).

    ``use_ocr_fallback`` mirrors the reference's flag
    (pdf_extractor.py:41): a PDF parse yielding less than
    min_text_length chars (the S6 scanned gate) is routed to the OCR
    stage (S4). When no OCR toolchain exists the row KEEPS the short
    parsed text (the parse did succeed) and the skip is recorded in the
    ``ocr_status`` column — failing the row would discard text the
    parser extracted (ADVICE r01).

    ``text_cleaning`` mirrors the markdown converter's config
    (markdown_converter.py:36-38): at ``light``/``advanced`` the
    TextCleaner chain (incl. quirk Q4 run-together splitting) runs over
    the normalized text into an extra ``cleaned_text`` output column;
    ``none`` (the default, matching the reference's dormant call site)
    skips it entirely.
    """
    out: dict = {"doctype": None, "text": None, "n_chars": 0, "n_lines": 0,
                 "failure_reason": None}
    if use_ocr_fallback:
        out["ocr_status"] = None
    if text_cleaning != "none":
        out["cleaned_text"] = None
    for col in _LEVEL_COLS:
        if col in levels:
            out["markdown" if col == "markdown" else f"{col}_json"] = None
    try:
        if payload is not None and len(payload) > MAX_PAYLOAD_BYTES:
            out["doctype"] = kdt.detect_doctype(bytes(payload[:16]))
            out["failure_reason"] = (
                f"payload too large: {len(payload)} bytes "
                f"(cap {MAX_PAYLOAD_BYTES})")
            return out
        if payload is not None and len(payload) > 0:
            dtype = kdt.detect_doctype(bytes(payload))
            if dtype == kdt.DOC_PDF:
                raw = pdfx.extract_pdf_text(bytes(payload))
                if use_ocr_fallback and ocr.needs_ocr(raw):
                    try:
                        raw = ocr.extract_via_ocr(bytes(payload))
                        out["ocr_status"] = "ocr_applied"
                    except ocr.OcrUnavailableError as exc:
                        # keep the (short) parsed text; record the skip
                        out["ocr_status"] = f"ocr_skipped: {exc}"[:200]
            elif dtype == kdt.DOC_HTML:
                raw = htmlx.extract_html_text(bytes(payload))
            else:
                raw = bytes(payload).decode("utf-8", errors="replace")
        elif pre_text:
            dtype, raw = kdt.DOC_TEXT, str(pre_text)
        else:
            out["doctype"] = kdt.DOC_EMPTY
            out["failure_reason"] = "empty payload and no pre-extracted text"
            return out

        text = textnorm.normalize_raw_text(raw)
        out["doctype"] = dtype
        out["text"] = text
        out["n_chars"] = len(text)
        if text_cleaning != "none":
            out["cleaned_text"] = ktc.clean_text(text, text_cleaning)

        line_result = None
        if not set(levels).isdisjoint({"lines", "chapters", "processed",
                                       "markdown"}):
            line_result = klines.process_lines(text)
            out["n_lines"] = line_result["stats"]["total_lines"]
        else:
            out["n_lines"] = text.count("\n") + 1 if text else 0
        if "lines" in levels:
            out["lines_json"] = _dumps(line_result)

        chapter_result = None
        if not set(levels).isdisjoint({"chapters", "processed", "markdown"}):
            chapter_result = kch.segment_chapters(line_result["lines"])
        if "chapters" in levels:
            out["chapters_json"] = _dumps(chapter_result)

        processed = None
        if not set(levels).isdisjoint({"processed", "markdown"}):
            processed = kenv.build_processed(chapter_result, text, url)
        if "processed" in levels:
            out["processed_json"] = _dumps(processed)

        if "markdown" in levels:
            env = kenv.make_envelope(url.rsplit("/", 1)[-1], "processed",
                                     processed, extraction_date="")
            out["markdown"] = kmd.convert_to_markdown(env)
    except Exception as exc:  # poison row → lineage, not task failure
        out["failure_reason"] = f"{type(exc).__name__}: {exc}"[:500]
        out["text"] = None
    return out


def extract_pages(pages: DataFrame,
                  levels: Sequence[str] = ("raw",),
                  use_ocr_fallback: bool = False,
                  text_cleaning: str = "none") -> DataFrame:
    """Run the fused extraction over a ``pages`` DataFrame.

    ``levels`` ⊆ {raw, lines, chapters, processed, markdown}; higher
    levels imply the per-document work of the lower ones (mirroring the
    reference's dependency chain, cli.py:155-168 — here the chain is
    fused into one stage instead of re-running).
    ``use_ocr_fallback`` routes scanned PDFs to the S4 OCR stage.
    ``text_cleaning`` ∈ {none, basic, light, advanced} adds the
    TextCleaner chain (quirk Q4) as a ``cleaned_text`` column.
    """
    bad = set(levels) - set(LEVELS)
    if bad:
        raise ValueError(f"unknown levels: {sorted(bad)}")
    schema = _BASE_SCHEMA + "".join(
        f", {_LEVEL_COLS[lv]}" for lv in LEVELS if lv in levels and lv != "raw"
    )
    if use_ocr_fallback:
        schema += ", ocr_status string"
    if text_cleaning != "none":
        schema += ", cleaned_text string"
    lv = tuple(levels)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Test-only fault injection (tests/test_retry_determinism.py):
        # when PDFX_RETRY_FAULT=1, attempt 0 of EVERY task dies after
        # yielding its first Arrow batch — partial output a retry must
        # fully replace, never append to. Requires master local[N,F]
        # (F>1) or spark.task.maxFailures>1; a no-op in production.
        fault = os.environ.get("PDFX_RETRY_FAULT") == "1"
        if fault:
            from pyspark import TaskContext
            ctx = TaskContext.get()
            fault = ctx is not None and ctx.attemptNumber() == 0
        for batch in batches:
            results: List[dict] = []
            for url, ts, payload, pre_text, lang in zip(
                    batch["url"], batch["warc_ts"], batch["html"],
                    batch["text"], batch["lang"]):
                rec = extract_document(payload, pre_text, url, lv,
                                       use_ocr_fallback=use_ocr_fallback,
                                       text_cleaning=text_cleaning)
                rec["url"] = url
                rec["warc_ts"] = ts
                rec["lang"] = lang
                results.append(rec)
            yield pd.DataFrame(results)
            if fault:
                raise RuntimeError(
                    "injected retry fault (attempt 0, post-first-batch)")

    return pages.mapInPandas(run, schema=schema)


def extract_pages_text_jvm(pages: DataFrame) -> DataFrame:
    """Raw-level extraction for rows with NO binary payload — the
    pre-extracted-text lane — as a pure JVM plan (quirk Q9 promotion,
    VERDICT r02 #2): detect-empty + P1 normalize + stats evaluate
    entirely JVM-side (codegen for the scalar chain, interpreted
    higher-order array ops for the line strip) — no Python worker, no
    Arrow crossing.

    Byte-identical to ``extract_pages(levels=("raw",))`` on the same
    rows (gate: tests/test_jvm_textnorm.py — synth corpus + adversarial
    Unicode + per-codepoint whitespace sweep). At 10^12 rows this is
    the lane a text-bearing Common-Crawl table takes: the expensive
    Python kernels run only where bytes actually need parsing — see
    ``extract_pages_hybrid``.

    Input rows MUST have ``html`` null or empty (caller splits); output
    matches the raw-level schema of extract_pages.

    The normalized text is projected ONCE and the stats derive from
    that column: referenced from several output columns, the
    higher-order normalize chain is otherwise evaluated once per
    reference (measured at local[2] on 4 vCPUs: 0.58 vs 0.35 s per
    2,000 rows, same checksum). The projection stays separate because
    CollapseProject does not inline a non-trivial alias that is
    referenced more than once.
    """
    from ..kernels.textnorm import normalize_raw_text_expr

    has_text = F.col("text").isNotNull() & (F.col("text") != "")
    normed = pages.select(
        "url", "warc_ts", "lang", has_text.alias("has_text"),
        F.when(has_text, normalize_raw_text_expr(F.col("text")))
         .alias("text"))
    has_text, text = F.col("has_text"), F.col("text")
    n_lines = F.when(~has_text, F.lit(0)).when(text == "", F.lit(0)) \
        .otherwise(F.size(F.split(text, "\n", -1)))
    return normed.select(
        "url", "warc_ts", "lang",
        F.when(has_text, F.lit("text")).otherwise(F.lit("empty"))
         .alias("doctype"),
        "text",
        F.coalesce(F.length(text), F.lit(0)).cast("long")
         .alias("n_chars"),
        n_lines.cast("long").alias("n_lines"),
        F.when(~has_text,
               F.lit("empty payload and no pre-extracted text"))
         .alias("failure_reason"),
    )


def extract_pages_lines_jvm(pages: DataFrame) -> DataFrame:
    """Lines-level extraction for payload-less rows as a pure JVM plan
    (VERDICT r03 #7 — the most common text-row request is "stats +
    lines", and with this lane it never crosses into Python): the raw
    lane's P1 normalize plus the P2+P3 line pass and A1 stats as
    expression twins (kernels/lines.py split_lines_expr /
    line_stats_exprs).

    Output is the TYPED shape — ``lines array<string>`` plus the three
    stats columns — not the Python lane's ``lines_json`` envelope:
    downstream queries consume the typed columns (the JSON envelope is
    presentation, kept Python-side), and the gate
    (tests/test_jvm_lines.py) pins value-identity of every line and
    every stat against ``extract_pages(levels=("raw", "lines"))`` on
    the same rows. Input rows MUST have ``html`` null/empty."""
    from ..kernels.lines import line_stats_exprs, split_lines_expr
    from ..kernels.textnorm import normalize_raw_text_expr

    has_text = F.col("text").isNotNull() & (F.col("text") != "")
    norm = normalize_raw_text_expr(F.col("text"))
    out_text = F.when(has_text, norm)
    lines = F.when(has_text, split_lines_expr(out_text))
    total, avg, mx = line_stats_exprs(lines)
    return pages.select(
        "url", "warc_ts", "lang",
        F.when(has_text, F.lit("text")).otherwise(F.lit("empty"))
         .alias("doctype"),
        out_text.alias("text"),
        F.coalesce(F.length(out_text), F.lit(0)).cast("long")
         .alias("n_chars"),
        F.coalesce(F.when(has_text, total), F.lit(0)).cast("long")
         .alias("n_lines"),
        F.when(~has_text,
               F.lit("empty payload and no pre-extracted text"))
         .alias("failure_reason"),
        lines.alias("lines"),
        F.when(has_text, avg).alias("avg_line_length"),
        F.when(has_text, mx).alias("max_line_length"),
    )


def extract_pages_hybrid(pages: DataFrame) -> DataFrame:
    """Raw-level extraction with the JVM fast lane: payload-less rows
    take ``extract_pages_text_jvm`` (JVM only), payload rows take
    the fused Python kernel stage; union of the two lanes — row-set
    identical to ``extract_pages(levels=("raw",))`` by the same gate.

    The split predicate is evaluated at the scan, so each lane reads
    only its rows (column pruning drops ``html`` entirely from the JVM
    lane's scan)."""
    no_payload = F.col("html").isNull() | (F.length("html") == 0)
    jvm = extract_pages_text_jvm(pages.filter(no_payload))
    py = extract_pages(pages.filter(~no_payload), levels=("raw",))
    return jvm.unionByName(py)


_LINES_JSON_SCHEMA = ("struct<lines:array<string>, "
                      "stats:struct<total_lines:bigint, "
                      "avg_line_length:double, max_line_length:bigint>>")


def extract_pages_lines_hybrid(pages: DataFrame) -> DataFrame:
    """Lines-level extraction with the JVM fast lane: payload-less
    rows take ``extract_pages_lines_jvm`` (pure JVM), payload rows run
    the fused Python chain and have their ``lines_json`` lifted to the
    SAME typed columns via ``from_json`` — one unified
    (…, lines, avg_line_length, max_line_length) table either way.
    Row-set identical to the all-Python path by the gate
    (tests/test_jvm_lines.py); at 10^12 rows the common
    text-bearing-row request (normalize + lines + stats) never
    crosses into Python."""
    no_payload = F.col("html").isNull() | (F.length("html") == 0)
    jvm = extract_pages_lines_jvm(pages.filter(no_payload))
    parsed = F.from_json(F.col("lines_json"), _LINES_JSON_SCHEMA)
    py = (extract_pages(pages.filter(~no_payload),
                        levels=("raw", "lines"))
          .withColumn("_p", parsed)
          .select("url", "warc_ts", "lang", "doctype", "text",
                  "n_chars", "n_lines", "failure_reason",
                  F.col("_p.lines").alias("lines"),
                  F.col("_p.stats.avg_line_length")
                   .alias("avg_line_length"),
                  F.col("_p.stats.max_line_length")
                   .alias("max_line_length")))
    return jvm.unionByName(py)


def repartition_salted(df: DataFrame, num_partitions: int,
                       key: str = "url") -> DataFrame:
    """Skew-defeating repartition: hash the full high-cardinality key
    (url, not domain), so a hot domain spreads across all partitions
    (SURVEY.md §4). ``xxhash64`` stays JVM-side — no Python crossing.
    """
    return df.repartition(num_partitions, F.xxhash64(F.col(key)))


def extraction_stats(extracted: DataFrame) -> DataFrame:
    """Tiny post-pUDF aggregation: per-doctype success/failure counts
    and text-size stats (the lineage roll-up; map-side partial aggs)."""
    return (
        extracted.groupBy("doctype")
        .agg(
            F.count("*").alias("docs"),
            F.count(F.col("failure_reason")).alias("failures"),
            F.avg("n_chars").alias("avg_chars"),
            F.max("n_chars").alias("max_chars"),
            F.avg("n_lines").alias("avg_lines"),
        )
        .orderBy("doctype")
    )
