"""The scale harness (tools/scale.py) stays runnable: every spec resolves
against the registry and the engine without starting Spark, the
statistics give known answers, workers import the tree under test, and
a checksum that moves across levels or arms fails the run. One tiny
end-to-end run covers the worker path."""

import ast
import importlib
import inspect
import json
import os
import subprocess
import sys

from pdf_extractor_spark.queries import (_CHANGED_THIS_ROUND,
                                         _LAST_DRIVER_ROUND, queries)
from tools import scale

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_registry_job_is_a_query():
    reg = queries()
    for name, spec in scale.SPECS.items():
        for job in spec.jobs:
            if not callable(job):
                assert job in reg, (name, job)
            assert scale.resolve(job)[0]


def test_every_engine_import_in_the_harness_resolves():
    """Builders and callables import the engine lazily (an A/B worker
    imports the ref's tree); each of those imports must still exist."""
    checked = 0
    for node in ast.walk(ast.parse(inspect.getsource(scale))):
        if isinstance(node, ast.ImportFrom) and node.module.startswith(
                ("pdf_extractor_spark", "tools")):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(mod, alias.name), (node.module, alias.name)
                checked += 1
    assert checked >= 20


def test_efficiency():
    assert scale.efficiency(10.0, 2.5, 4, 16) == 1.0
    assert scale.efficiency(8.0, 4.0, 4, 16) == 0.5
    assert scale.efficiency(3.0, 2.0, 1, 2) == 0.75


def test_ab_summary_wins_medians_iqr():
    out = scale.ab_summary([1.0, 2.0, 3.0, 4.0], [2.0, 1.0, 4.0, 5.0])
    assert out["wins"] == 3 and out["pairs"] == 4
    assert out["head"]["median_s"] == 2.5 and out["ref"]["median_s"] == 3.0
    assert out["head"]["iqr_s"] == 1.5 and out["ref"]["iqr_s"] == 2.5
    assert out["ratio"] == 0.833
    assert scale.iqr([1, 2, 3, 4, 5]) == 2.0
    assert scale.iqr([7.0]) == 0.0


def test_pair_order_alternates():
    orders = [scale.pair_order(i) for i in range(4)]
    assert orders == [("ref", "head"), ("head", "ref")] * 2


def test_worker_runs_in_the_tree_under_test(monkeypatch):
    seen = {}

    def fake_run(cmd, **kw):
        seen.update(kw, cmd=cmd)
        return subprocess.CompletedProcess(cmd, 0, stdout='{"j": 1}\n')

    monkeypatch.setattr(scale.subprocess, "run", fake_run)
    assert scale.run_worker("/some/tree", {"spec": "bpe"}) == {"j": 1}
    assert seen["env"]["PYTHONPATH"] == "/some/tree"
    assert seen["cwd"] == "/some/tree"
    assert seen["cmd"][:2] == [sys.executable, "-c"]
    assert scale.HARNESS in seen["cmd"]


def _level(runs, rows, chk):
    return {"q": {"runs": runs, "results": [[rows, chk]] * (len(runs) + 1)}}


def test_checksum_change_across_levels_fails(monkeypatch, capsys):
    rec = scale.scale_record({1: _level([2.0], 10, 5),
                              2: _level([1.0], 10, 5)}, 1, 2)
    assert rec["ok"] and rec["jobs"]["q"]["efficiency"] == 1.0
    bad = {1: _level([2.0], 10, 5), 2: _level([1.0], 10, 6)}
    assert scale.scale_record(bad, 1, 2)["mismatch"] == ["q"]

    monkeypatch.setattr(scale, "build", lambda spec, size: "/corpus")
    monkeypatch.setattr(scale, "run_worker",
                        lambda tree, task: bad[task["cores"]])
    assert scale.main(["bpe", "--lo", "1", "--hi", "2", "--reps", "1"]) == 1
    assert json.loads(capsys.readouterr().out)["ok"] is False


def test_ab_interleaves_and_fails_on_arm_checksum(monkeypatch):
    calls = []

    def fake_worker(tree, task):
        calls.append(tree)
        return _level([1.0 if tree == scale.REPO else 2.0], 10,
                      5 if len(calls) < 4 else 6)

    monkeypatch.setattr(scale, "ab_worktree", lambda ref: ("abc", "/ref"))
    monkeypatch.setattr(scale, "run_worker", fake_worker)
    rec = scale.run_ab("bpe", "/corpus", "HEAD~1", 2, 3)
    assert calls == ["/ref", scale.REPO, scale.REPO, "/ref", "/ref",
                     scale.REPO]
    assert rec["jobs"]["q"]["wins"] == 3
    assert rec["mismatch"] == ["q"] and not rec["ok"]


def test_correctness_window_bookkeeping():
    reg = queries()
    assert set(_LAST_DRIVER_ROUND) <= set(reg)
    assert set(_CHANGED_THIS_ROUND) <= set(reg)
    with open(os.path.join(REPO, "CORRECTNESS_r05.json")) as fh:
        r05 = json.load(fh)
    assert len(r05) == 50
    assert {_LAST_DRIVER_ROUND.get(n) for n in r05} == {5}


def test_tiny_run_checksums_agree_across_levels():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "scale.py"),
         "domain_cap_skew", "--lo", "1", "--hi", "2", "--reps", "1",
         "--size", "20000"],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    rec = json.loads(proc.stdout)
    job = rec["jobs"]["domain_cap"]
    assert job["1"]["rows"] == job["2"]["rows"] > 0
    assert job["1"]["checksum"] == job["2"]["checksum"]
    assert rec["ok"] and rec["mismatch"] == []
