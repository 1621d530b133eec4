"""Tests for the benchmark's own helpers.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

import collections
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import workloads  # noqa: E402


# --- event log -------------------------------------------------------------

def _job_start(jid, submitted_ms, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": submitted_ms, "Stage IDs": stages}


def _task_end(sid, run_ms=100, cpu_ns=50_000_000, gc_ms=5, read=0,
              written=0, shuffle=0, spilled=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms, "Disk Bytes Spilled": spilled,
                "Input Metrics": {"Bytes Read": read},
                "Output Metrics": {"Bytes Written": written},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def _write_lines(path, events):
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def test_event_log_rolling_files_read_in_index_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    _write_lines(app / "events_10_local-1", [_task_end(0)])
    _write_lines(app / "events_2_local-1", [
        {"Event": "SparkListenerLogStart"}, _job_start(0, 1000, [0])])
    (app / "appstatus_local-1").write_text("")
    events = layers.read_event_log(str(tmp_path))
    assert [e["Event"] for e in events] == [
        "SparkListenerLogStart", "SparkListenerJobStart",
        "SparkListenerTaskEnd"]


def test_job_task_metrics_sums_tasks_and_counts_shared_stage_once():
    events = [
        _job_start(0, 1000, [0, 1]),
        _task_end(0, run_ms=200, read=2_000_000),
        _task_end(1, run_ms=300, shuffle=1_000_000, written=500_000),
        # job 1 reuses stage 1 (skipped) and runs stage 2
        _job_start(1, 2500, [1, 2]),
        _task_end(2, run_ms=400, spilled=3_000_000),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2},  # failed task
    ]
    jobs = layers.job_task_metrics(events)
    assert [j["job"] for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert j0["submitted"] == 1.0 and j1["submitted"] == 2.5
    assert j0["tasks"] == 2 and j1["tasks"] == 1
    assert j0["task_s"] == pytest.approx(0.5)
    assert j0["cpu_s"] == pytest.approx(0.1)
    assert j0["gc_s"] == pytest.approx(0.01)
    assert j0["input_mb"] == pytest.approx(2.0)
    assert j0["output_mb"] == pytest.approx(0.5)
    assert j0["shuffle_write_mb"] == pytest.approx(1.0)
    assert j1["spill_mb"] == pytest.approx(3.0)


# --- stage attribution -------------------------------------------------------

def _markers(job_dir, t0, walls):
    t = t0
    for stage, wall in zip(layers.STAGES, walls):
        t += wall
        path = os.path.join(job_dir, f"_done_{stage}")
        open(path, "w").close()
        os.utime(path, (t, t))


def test_stage_windows_follow_marker_mtimes(tmp_path):
    _markers(str(tmp_path), 1000.0, [1, 2, 0.5, 3, 1, 2])
    w = layers.stage_windows(str(tmp_path), 1000.0)
    assert list(w) == list(layers.STAGES)
    assert w["land"] == pytest.approx((1000.0, 1001.0))
    assert w["extract"] == pytest.approx((1001.0, 1003.0))
    assert w["assemble"] == pytest.approx((1007.5, 1009.5))


def test_jobs_attributed_by_submission_time(tmp_path):
    _markers(str(tmp_path), 1000.0, [1, 2, 0.5, 3, 1, 2])
    w = layers.stage_windows(str(tmp_path), 1000.0)
    jobs = [{"job": i, "submitted": t} for i, t in enumerate(
        [999.0, 1000.0, 1000.99, 1001.0, 1004.0, 1009.5, 1010.0])]
    by = layers.attribute_jobs(jobs, w)
    assert [j["job"] for j in by["land"]] == [1, 2]
    assert [j["job"] for j in by["extract"]] == [3]
    assert [j["job"] for j in by["dedup"]] == [4]
    assert by["documents"] == [] and by["assemble"] == []


def test_stage_metrics_idle_fraction_and_sums():
    windows = {"land": (0.0, 2.0)}
    job = {"tasks": 3, "task_s": 1.0, "cpu_s": 0.5, "gc_s": 0.1,
           "input_mb": 4.0, "output_mb": 2.0, "shuffle_write_mb": 1.0,
           "spill_mb": 0.0}
    m = layers.stage_metrics(windows, {"land": [job, job]},
                             {"land": 7}, slots=2)
    assert m["stage.land.jobs"] == 2 and m["stage.land.tasks"] == 6
    assert m["stage.land.task_s"] == pytest.approx(2.0)
    assert m["stage.land.idle_frac"] == pytest.approx(0.5)
    assert m["stage.land.rows_out"] == 7
    assert len(m) == len(layers.STAGE_METRICS)


def test_batch_seconds_start_at_extract_start():
    assert layers.batch_seconds(10.0, [14.0, 12.0, 17.5]) == \
        pytest.approx([2.0, 2.0, 3.5])


# --- corpora ---------------------------------------------------------------

@pytest.fixture
def small_workloads(monkeypatch):
    for name, docs in (("crawl_markdown", 40), ("text_dupes", 200)):
        monkeypatch.setitem(workloads.WORKLOADS, name,
                            dict(workloads.WORKLOADS[name], docs=docs))


def _read_dir(path):
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_same_seed_same_bytes(small_workloads, tmp_path, workload):
    a = workloads.write_corpus(str(tmp_path / "a"), workload, 7)
    b = workloads.write_corpus(str(tmp_path / "b"), workload, 7)
    c = workloads.write_corpus(str(tmp_path / "c"), workload, 8)
    assert _read_dir(a) == _read_dir(b)
    assert _read_dir(a) != _read_dir(c)
    assert "_COMPLETE" in _read_dir(a)


def test_write_corpus_reuses_completed_and_redoes_partial(small_workloads,
                                                          tmp_path):
    out = workloads.write_corpus(str(tmp_path), "text_dupes", 3)
    stamp = os.stat(os.path.join(out, "part-000.warc.gz")).st_mtime_ns
    assert workloads.write_corpus(str(tmp_path), "text_dupes", 3) == out
    assert os.stat(os.path.join(out, "part-000.warc.gz")).st_mtime_ns == stamp
    os.remove(os.path.join(out, "_COMPLETE"))
    os.remove(os.path.join(out, "part-001.warc.gz"))
    workloads.write_corpus(str(tmp_path), "text_dupes", 3)
    assert os.path.exists(os.path.join(out, "part-001.warc.gz"))


def test_text_dupes_mix_matches_recorded_shares():
    n = 2000
    recs = list(workloads.text_dupes_records(n, seed=5))
    kinds = collections.Counter(kind for _, kind, _ in recs)
    want = collections.Counter(workloads.TEXT_BLOCK)
    assert {k: v * n // len(workloads.TEXT_BLOCK)
            for k, v in want.items()} == dict(kinds)

    originals = {t for _, k, t in recs if k in ("unique", "low_quality")}
    assert len(originals) == kinds["unique"] + kinds["low_quality"]
    for i, kind, text in recs:
        words = text.split(" ")
        if kind == "exact_copy":
            assert text in originals
        elif kind == "near_copy":
            assert " ".join(words[:-1]) in originals
            assert words[-1] == f"tail5x{i}"
        elif kind == "unique":
            lo, hi = workloads.UNIQUE_WORDS
            assert lo <= len(words) <= hi
            assert all(w in workloads.STOPWORDS for w in words[::5])
        else:
            lo, hi = workloads.LOW_WORDS
            assert lo <= len(words) <= hi
            assert not set(words) & set(workloads.STOPWORDS)


def test_stopwords_match_the_curation_list():
    from pdf_extractor_spark.queries.textstats import STOPWORDS
    assert tuple(STOPWORDS["en"]) == workloads.STOPWORDS


# --- kernels ---------------------------------------------------------------

def test_level_kernels_run_only_at_structured_levels(small_workloads,
                                                     tmp_path):
    import chain

    corpus = workloads.write_corpus(str(tmp_path), "crawl_markdown", 1)
    rows = chain.warc_rows(corpus)
    assert len(rows) == 40
    raw = layers.kernel_profile(rows[:12], ("raw",))
    full = layers.kernel_profile(rows[:12], workloads.LEVELS_ALL)
    for k in ("lines", "chapters", "envelope", "markdown"):
        assert raw[f"kernel.{k}.calls"] == 0
        assert raw[f"kernel.{k}.us_per_doc"] == 0.0
        assert full[f"kernel.{k}.calls"] == 12
    assert raw["kernel.textnorm.calls"] == 12
    assert raw["kernel.pdfx.calls"] + raw["kernel.htmlx.calls"] == \
        raw["kernel.detect.calls"]


# --- checksum --------------------------------------------------------------

@pytest.fixture(scope="module")
def spark():
    from pdf_extractor_spark.session import get_spark
    s = get_spark("perfbench-test", master="local[1]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_checksum_ignores_row_order_and_sees_every_column(spark, tmp_path):
    rows = [(1, "a", 2.5), (2, "b", None), (3, "c", 1.0)]
    schema = "id long, s string, x double"

    def checksum(data, name):
        path = str(tmp_path / name)
        spark.createDataFrame(data, schema).coalesce(1).write.parquet(path)
        return layers.table_checksum(spark, path)

    base = checksum(rows, "base")
    assert checksum(list(reversed(rows)), "reversed") == base
    assert checksum([(1, "a", 2.5), (2, "b", None), (3, "c", 1.5)],
                    "changed") != base
    assert checksum(rows[:2], "fewer") != base
