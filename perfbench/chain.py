"""One benchmark run in its own process; ``run.py`` starts it.

Starts a Spark session at ``local[2]`` with the repository's session
defaults, runs one untimed warm-up chain (``run_rehearsal`` from a fresh
job dir), then times fresh-job-dir chains until ``--seconds`` have
passed, sampling the process tree's CPU and memory from ``/proc``. Then it
checks the outputs. With ``--trace 1`` it goes on to restart the session
with the Spark event log on, runs one traced chain, and derives the
per-layer metrics from it. The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time
from typing import Dict, List, Optional, Sequence

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SLOTS = 2            # local[2]: tasks plus Python workers fit 4 cores
HEAP = "2g"          # Spark driver heap, fixed (-Xms = -Xmx): steady memory
SAMPLE_ROWS = 16     # documents-table rows checked against extract_document
KERNEL_ROWS = 48     # rows in the single-process kernel loop
MEM_PERIOD_S = 0.25
SETTLE_S = 1.0       # for Spark's cleaner thread after a JVM GC
FINAL_TABLES = ("dedup_verdicts", "curation_verdicts", "assemble/audit",
                "assemble/kept", "assemble/pack", "assemble/seq_manifest",
                "assemble/shards")


def start_session(work: str, event_log: Optional[str] = None):
    from pdf_extractor_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false",
             "spark.local.dir": os.path.join(work, "local"),
             "spark.driver.memory": HEAP,
             "spark.driver.extraJavaOptions":
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                 f"-XX:-UsePerfData -Xms{HEAP}"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": "file://" + event_log})
    spark = get_spark("perfbench", master=f"local[{SLOTS}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_chain(spark, corpus: str, job_dir: str, cfg: dict) -> dict:
    from pdf_extractor_spark.pipeline.compose import run_rehearsal

    shutil.rmtree(job_dir, ignore_errors=True)
    start = time.time()
    counts = run_rehearsal(spark, corpus, job_dir, budget=cfg["budget"],
                           num_batches=cfg["num_batches"],
                           levels=cfg["levels"])
    return {"dir": job_dir, "start": start, "wall_s": time.time() - start,
            "counts": counts}


def settle(spark) -> None:
    """Let Spark drop the previous chain's garbage before a timed chain.
    Its ContextCleaner deletes unreferenced shuffles, broadcasts and
    checkpointed RDDs only after a JVM GC finds them, which would
    otherwise land at a random point inside the timed window."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(SETTLE_S)


class MemoryPeak(threading.Thread):
    """Highest memory (summed PSS) of the process tree while running."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root, self.peak_mb = root, 0.0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak_mb = max(self.peak_mb, layers.tree_pss_mb(self.root))
            self._stop_event.wait(MEM_PERIOD_S)

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        return self.peak_mb


# --- output checks -------------------------------------------------------

def count_failures(counts: dict, docs: int) -> List[str]:
    """Stage counts must reconcile and shrink monotonically."""
    c = counts
    rules = {
        "rows_in == docs generated": c["rows_in"] == docs,
        "extracted_ok + failures == rows_in":
            c["extracted_ok"] + c["failures"] == c["rows_in"],
        "after_dedup <= extracted_ok": c["after_dedup"] <= c["extracted_ok"],
        "after_curation <= after_dedup":
            c["after_curation"] <= c["after_dedup"],
        "selected <= after_curation": c["selected"] <= c["after_curation"],
    }
    return [f"counts: {name}" for name, ok in rules.items() if not ok]


def warc_rows(corpus: str) -> List[layers.Row]:
    """Every record of the corpus as ``read_warc`` maps it (text/plain
    bodies become pre-extracted text), parsed single-process and sorted
    by url."""
    from pdf_extractor_spark.sources.warc import parse_warc

    rows: List[layers.Row] = []
    for name in sorted(os.listdir(corpus)):
        if ".warc" not in name:
            continue
        with open(os.path.join(corpus, name), "rb") as fh:
            blob = fh.read()
        for headers, payload in parse_warc(blob):
            if headers.get("warc-type") != "response":
                continue
            head, _, body = payload.partition(b"\r\n\r\n")
            is_text = b"content-type: text/plain" in head.lower()
            rows.append((headers["warc-target-uri"],
                         None if is_text else body,
                         body.decode("utf-8", "replace") if is_text
                         else None))
    rows.sort(key=lambda r: r[0])
    return rows


def spaced(rows: Sequence, k: int) -> list:
    """``k`` evenly spaced items of ``rows`` (all of them if fewer)."""
    if len(rows) <= k:
        return list(rows)
    return [rows[i * len(rows) // k] for i in range(k)]


def sample_failures(spark, job_dir: str, rows: Sequence[layers.Row],
                    levels: Sequence[str]) -> List[str]:
    """The documents table's text equals single-process
    ``extract_document`` on the same records."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.pipeline.extract import extract_document

    sample = spaced(rows, SAMPLE_ROWS)
    keys = spark.createDataFrame([(r[0],) for r in sample], "url string") \
        .select("url", F.xxhash64("url").alias("doc_id"))
    docs = spark.read.parquet(os.path.join(job_dir, "t1",
                                           "documents.parquet"))
    got = {r["url"]: r["text"] for r in
           keys.join(docs, "doc_id").select("url", "text").collect()}
    out = []
    for url, payload, pre_text in sample:
        want = extract_document(payload, pre_text, url, levels)["text"]
        if got.get(url) != want:
            out.append(f"documents text differs from extract_document: {url}")
    return out


def import_failures(spark) -> List[str]:
    """Executor-side Python workers import the package from the same
    tree as the Spark driver (the checkout under test)."""
    import pdf_extractor_spark

    def where(batches):
        import pandas as pd

        import pdf_extractor_spark as pkg
        for _ in batches:
            yield pd.DataFrame({"path": [pkg.__file__]})

    got = {r["path"] for r in
           spark.range(1).mapInPandas(where, "path string").collect()}
    want = pdf_extractor_spark.__file__
    return [] if got == {want} else [
        f"executor workers import {sorted(got)}, not {want}"]


def checksums(spark, job_dir: str) -> Dict[str, int]:
    return {t: layers.table_checksum(spark, os.path.join(job_dir, t))
            for t in FINAL_TABLES}


def checksum_failures(ref: Dict[str, int], got: Dict[str, int],
                      label: str) -> List[str]:
    return [f"checksum of {t} differs ({label})"
            for t in FINAL_TABLES if ref[t] != got[t]]


# --- traced run ------------------------------------------------------------

def completed_at(spark, job_dir: str) -> List[float]:
    from pyspark.sql import functions as F

    cp = spark.read.parquet(os.path.join(job_dir, "extract", "_checkpoint"))
    return [r[0] / 1e6 for r in
            cp.select(F.unix_micros("completed_at")).collect()]


def python_lane(rows: Sequence[layers.Row],
                levels: Sequence[str]) -> List[layers.Row]:
    """The rows ``compose.run_rehearsal`` sends to the Python extract
    lane: at ``levels == ("raw",)`` rows without a payload take the JVM
    lane, at any other levels every row runs in Python."""
    if tuple(levels) == ("raw",):
        return [r for r in rows if r[1]]
    return list(rows)


def traced_layers(args, cfg: dict, work: str, rows: Sequence[layers.Row],
                  untraced_dps: float, ref: Dict[str, int],
                  failures: List[str]) -> Dict[str, float]:
    event_log = os.path.join(work, "eventlog")
    spark = start_session(work, event_log)
    try:
        chain = run_chain(spark, args.corpus, os.path.join(work, "traced"),
                          cfg)
        failures += count_failures(chain["counts"], cfg["docs"])
        failures += checksum_failures(ref, checksums(spark, chain["dir"]),
                                      "traced chain")
        done = completed_at(spark, chain["dir"])
    finally:
        spark.stop()  # closes the event log
    c = chain["counts"]
    windows = layers.stage_windows(chain["dir"], chain["start"])
    rows_out = {"land": c["rows_in"], "extract": c["extracted_ok"],
                "documents": c["extracted_ok"], "dedup": c["after_dedup"],
                "curation": c["after_curation"], "assemble": c["selected"]}
    jobs = layers.job_task_metrics(layers.read_event_log(event_log))
    out = layers.stage_metrics(windows, layers.attribute_jobs(jobs, windows),
                               rows_out, SLOTS)
    batches = layers.batch_seconds(windows["extract"][0], done)
    out["extract.batch_s.p50"] = statistics.median(batches)
    out["extract.batch_s.max"] = max(batches)
    py_rows = python_lane(rows, cfg["levels"])
    out["extract.jvm_rows"] = len(rows) - len(py_rows)
    out["extract.python_rows"] = len(py_rows)
    out.update(layers.kernel_profile(spaced(py_rows, KERNEL_ROWS),
                                     cfg["levels"]))
    staged = sum(end - start for start, end in windows.values())
    traced_dps = c["rows_in"] / chain["wall_s"]
    out.update({
        "chain.wall_s": chain["wall_s"],
        "chain.stage_sum_frac": staged / chain["wall_s"],
        "trace.docs_per_s": traced_dps,
        "trace.untraced_docs_per_s": untraced_dps,
        "trace.overhead_frac": 1.0 - traced_dps / untraced_dps,
    })
    return out


# --- the run --------------------------------------------------------------

def main(argv: Optional[Sequence[str]] = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--launched-at", type=float, required=True)
    args = ap.parse_args(argv)
    cfg = WORKLOADS[args.workload]
    work = args.work

    t0 = time.time()
    spark = start_session(work)
    session_s = time.time() - t0
    warm = run_chain(spark, args.corpus, os.path.join(work, "warm"), cfg)
    settle(spark)
    setup_s = time.time() - args.launched_at

    me = os.getpid()
    mem = MemoryPeak(me)
    mem.start()
    cpu0 = layers.tree_cpu_s(me)
    chains: List[dict] = []
    busy = 0.0
    while not chains or busy < args.seconds:
        chains.append(run_chain(spark, args.corpus,
                                os.path.join(work, f"timed{len(chains)}"),
                                cfg))
        busy += chains[-1]["wall_s"]
    cpu_s = layers.tree_cpu_s(me) - cpu0
    peak_rss_mb = mem.stop()

    rows = warc_rows(args.corpus)
    failures: List[str] = []
    ref = checksums(spark, warm["dir"])
    for i, ch in enumerate([warm] + chains):
        failures += count_failures(ch["counts"], cfg["docs"])
        if i:
            failures += checksum_failures(ref, checksums(spark, ch["dir"]),
                                          f"timed chain {i}")
    failures += sample_failures(spark, chains[-1]["dir"], rows,
                                cfg["levels"])
    failures += import_failures(spark)
    docs = sum(ch["counts"]["rows_in"] for ch in chains)
    result = {
        "setup": {"setup_s": setup_s, "session_s": session_s,
                  "warmup_chain_s": warm["wall_s"]},
        "chains": [{"wall_s": ch["wall_s"], "counts": ch["counts"]}
                   for ch in chains],
        "window": {"wall_s": busy, "docs": docs, "cpu_s": cpu_s,
                   "peak_rss_mb": peak_rss_mb},
        "failed_rows": sum(ch["counts"]["failures"] for ch in chains),
        "checksums": ref,
        "failures": failures,
    }
    spark.stop()
    if args.trace:
        result["layers"] = traced_layers(args, cfg, work, rows, docs / busy,
                                         ref, failures)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
