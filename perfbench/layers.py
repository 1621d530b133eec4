"""Per-layer measurement helpers, each reading a layer from outside.

- Spark stages: task metrics from a Spark event log, attributed to the
  chain's stages (``land`` … ``assemble``) by job submission time
  against the ``_done_<stage>`` marker mtimes ``pipeline/compose.py``
  writes.
- Extract batches: the ``completed_at`` rows of the extract checkpoint.
- Kernels: a single-process loop over the public kernel functions, in
  the order ``pipeline.extract.extract_document`` calls them.
- Outputs: an order-insensitive checksum of a parquet table.
- Process tree: CPU seconds and memory of a process and its descendants,
  read from ``/proc``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

STAGES = ("land", "extract", "documents", "dedup", "curation", "assemble")
STAGE_METRICS = ("wall_s", "jobs", "tasks", "task_s", "cpu_s", "gc_s",
                 "idle_frac", "input_mb", "output_mb", "shuffle_write_mb",
                 "spill_mb", "rows_out")
KERNELS = ("detect", "pdfx", "htmlx", "textnorm", "lines", "chapters",
           "envelope", "markdown")
MB = 1e6

Row = Tuple[str, Optional[bytes], Optional[str]]  # url, payload, pre_text


# --- chain stages --------------------------------------------------------

def stage_windows(job_dir: str, chain_start: float
                  ) -> Dict[str, Tuple[float, float]]:
    """``stage -> (start, end)`` epoch seconds. A stage ends at its
    ``_done_<stage>`` marker's mtime and starts where the previous one
    ended; the first starts at ``chain_start``."""
    out: Dict[str, Tuple[float, float]] = {}
    start = chain_start
    for stage in STAGES:
        end = os.stat(os.path.join(job_dir, f"_done_{stage}")).st_mtime
        out[stage] = (start, end)
        start = end
    return out


def read_event_log(log_dir: str) -> List[dict]:
    """All events of every application logged under ``log_dir`` in the
    rolling layout Spark 4 writes (``eventlog_v2_*/events_<n>_*``), in
    file order."""
    paths: List[str] = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        paths += sorted(glob.glob(os.path.join(app, "events_*")),
                        key=lambda p: int(os.path.basename(p).split("_")[1]))
    events: List[dict] = []
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def job_task_metrics(events: Iterable[dict]) -> List[dict]:
    """One record per Spark job: submission time (epoch s) plus the sums
    of its tasks' metrics. A stage listed by several jobs (a reused
    shuffle) counts once, under the first job that lists it."""
    jobs: Dict[int, dict] = {}
    stage_job: Dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {"job": jid, "submitted": ev["Submission Time"] / 1e3,
                         "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
                         "gc_s": 0.0, "input_mb": 0.0, "output_mb": 0.0,
                         "shuffle_write_mb": 0.0, "spill_mb": 0.0}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if jid is None or tm is None:
                continue
            rec = jobs[jid]
            rec["tasks"] += 1
            rec["task_s"] += tm.get("Executor Run Time", 0) / 1e3
            rec["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            rec["input_mb"] += tm.get("Input Metrics", {}).get(
                "Bytes Read", 0) / MB
            rec["output_mb"] += tm.get("Output Metrics", {}).get(
                "Bytes Written", 0) / MB
            rec["shuffle_write_mb"] += tm.get(
                "Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0) / MB
            rec["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
    return sorted(jobs.values(), key=lambda j: j["job"])


def attribute_jobs(jobs: Sequence[dict],
                   windows: Dict[str, Tuple[float, float]]
                   ) -> Dict[str, List[dict]]:
    """Group jobs by the stage window ``[start, end)`` holding their
    submission time; jobs outside every window are dropped."""
    out: Dict[str, List[dict]] = {s: [] for s in windows}
    for job in jobs:
        for stage, (start, end) in windows.items():
            if start <= job["submitted"] < end:
                out[stage].append(job)
                break
    return out


def stage_metrics(windows: Dict[str, Tuple[float, float]],
                  by_stage: Dict[str, List[dict]],
                  rows_out: Dict[str, int], slots: int) -> Dict[str, float]:
    """``stage.<name>.<metric>`` for every stage and STAGE_METRICS."""
    out: Dict[str, float] = {}
    for stage, (start, end) in windows.items():
        jobs = by_stage[stage]
        wall = end - start
        m = {"wall_s": wall, "jobs": len(jobs)}
        for key in ("tasks", "task_s", "cpu_s", "gc_s", "input_mb",
                    "output_mb", "shuffle_write_mb", "spill_mb"):
            m[key] = sum(j[key] for j in jobs)
        m["idle_frac"] = (1.0 - m["task_s"] / (wall * slots)
                          if wall > 0 else 0.0)
        m["rows_out"] = rows_out[stage]
        for key in STAGE_METRICS:
            out[f"stage.{stage}.{key}"] = m[key]
    return out


def batch_seconds(extract_start: float,
                  completed_at: Sequence[float]) -> List[float]:
    """Per-batch wall times from the checkpoint's completion stamps: the
    first batch runs from the extract stage's start."""
    out: List[float] = []
    prev = extract_start
    for t in sorted(completed_at):
        out.append(t - prev)
        prev = t
    return out


# --- outputs --------------------------------------------------------------

def table_checksum(spark, path: str) -> int:
    """``bit_xor(xxhash64(*))`` over a parquet table, columns in name
    order: every row and column is read (``count()`` would let Catalyst
    prune the plan) and row order does not matter."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    cols = [F.col(c) for c in sorted(df.columns)]
    value = df.select(F.bit_xor(F.xxhash64(*cols))).collect()[0][0]
    return 0 if value is None else int(value)


# --- kernels --------------------------------------------------------------

def _markdown_envelope(ch, text: str, url: str) -> dict:
    from pdf_extractor_spark.kernels import envelope

    processed = envelope.build_processed(ch, text, url)
    return envelope.make_envelope(url.rsplit("/", 1)[-1], "processed",
                                  processed, extraction_date="")


def kernel_profile(rows: Sequence[Row],
                   levels: Sequence[str]) -> Dict[str, float]:
    """Time each public kernel over ``rows`` of ``(url, payload,
    pre_text)``, calling them as ``extract_document`` does for
    ``levels``. Returns ``kernel.<name>.{us_per_doc,calls}``."""
    from pdf_extractor_spark.kernels import chapters, doctype, envelope, \
        htmlx, lines, markdown, pdfx, textnorm

    spent = {k: 0.0 for k in KERNELS}
    calls = {k: 0 for k in KERNELS}

    def timed(name, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        spent[name] += time.perf_counter() - t0
        calls[name] += 1
        return out

    structured = not set(levels).isdisjoint(
        {"lines", "chapters", "processed", "markdown"})
    for url, payload, pre_text in rows:
        if payload:
            kind = timed("detect", doctype.detect_doctype, payload)
            if kind == doctype.DOC_PDF:
                raw = timed("pdfx", pdfx.extract_pdf_text, payload)
            elif kind == doctype.DOC_HTML:
                raw = timed("htmlx", htmlx.extract_html_text, payload)
            else:
                raw = payload.decode("utf-8", errors="replace")
        elif pre_text:
            raw = pre_text
        else:
            continue
        text = timed("textnorm", textnorm.normalize_raw_text, raw)
        if not structured:
            continue
        line_result = timed("lines", lines.process_lines, text)
        if set(levels).isdisjoint({"chapters", "processed", "markdown"}):
            continue
        ch = timed("chapters", chapters.segment_chapters,
                   line_result["lines"])
        if "markdown" in levels:
            env = timed("envelope", _markdown_envelope, ch, text, url)
            timed("markdown", markdown.convert_to_markdown, env)
        elif "processed" in levels:
            timed("envelope", envelope.build_processed, ch, text, url)
    out: Dict[str, float] = {}
    for k in KERNELS:
        out[f"kernel.{k}.us_per_doc"] = (spent[k] / calls[k] * 1e6
                                         if calls[k] else 0.0)
        out[f"kernel.{k}.calls"] = calls[k]
    return out


# --- process tree -----------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def proc_stat(pid: str) -> Optional[List[str]]:
    """Fields of ``/proc/<pid>/stat`` after the command name (state,
    ppid, pgrp, session, ...), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ")"
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> List[int]:
    """``root`` and all its live descendants."""
    children: Dict[int, List[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = proc_stat(pid)
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(pid))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (a process's ``cutime``/``cstime``), so a worker that exits is still
    counted once."""
    total = 0
    for pid in tree_pids(root):
        f = proc_stat(str(pid))
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_pss_mb(root: int) -> float:
    """Proportional set size of the tree: a page shared by several
    processes (a forked child and its parent) counts once in total."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                kb += next(int(line.split()[1]) for line in fh
                           if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return kb * 1024 / MB
