"""Benchmark of the composed WARC→shards chain
(``pdf_extractor_spark/pipeline/compose.py::run_rehearsal``).

Run from the repository root:

    python3 perfbench/run.py --workload crawl_markdown --seed 1 \
        --seconds 10 --trace 0

The workload's corpus is written from ``--seed`` into ``.perfbench/``
(cached), then ``chain.py`` runs in its own process session with
``PYTHONPATH`` set to this checkout. With ``--trace 0`` the last stdout
line carries the ``end_to_end`` metrics of ``BENCHMARK.json``, with
``--trace 1`` its ``per_layer`` metrics. Every run appends a
self-describing record to ``.perfbench/records.jsonl``. Metric names,
units and the workload design are in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from typing import Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402

WORKER_TIMEOUT_S = 150
REAP_GRACE_S = 10


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    return 1


def load_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def session_pids(sid: int) -> List[int]:
    """Live (non-zombie) processes of session ``sid``."""
    out = []
    for pid in os.listdir("/proc"):
        f = layers.proc_stat(pid) if pid.isdigit() else None
        if f is not None and int(f[3]) == sid and f[0] != "Z":
            out.append(int(pid))
    return out


def reap_session(sid: int) -> None:
    """Wait until every process of the worker's session has ended:
    the JVM and the Python daemon (which moves to its own process group
    but stays in the session) exit once the worker is gone; stragglers
    get SIGTERM after a grace period, then SIGKILL."""
    deadline = time.time() + REAP_GRACE_S
    sig = signal.SIGTERM
    while True:
        pids = session_pids(sid)
        if not pids:
            return
        if time.time() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sig, deadline = signal.SIGKILL, time.time() + REAP_GRACE_S
        time.sleep(0.2)


def git_commit(root: str) -> Optional[str]:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_sha256(pkg: str) -> str:
    """Fingerprint of the package sources under test."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def run_worker(root: str, work: str, args, corpus: str) -> dict:
    env = dict(os.environ,
               PYTHONPATH=root,  # Spark driver and workers import this tree
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               # get_spark sizes shuffle partitions from it
               SPARK_GRAFT_CPUS="2",
               SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
               TMPDIR=os.path.join(work, "tmp"))
    cmd = [sys.executable, os.path.join(HERE, "chain.py"),
           "--workload", args.workload, "--corpus", corpus, "--work", work,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--launched-at", repr(time.time())]
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        finally:
            reap_session(proc.pid)
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"worker exited with {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def cross_run_checksums(cache: str, key: str,
                        got: Dict[str, int]) -> List[str]:
    """Compare with the first run on the same workload and seed in this
    checkout; the first run records its checksums."""
    path = os.path.join(cache, "checksums", f"{key}.json")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(got, fh)
        return []
    with open(path) as fh:
        ref = json.load(fh)
    return [f"checksum of {t} differs from an earlier run"
            for t in ref if ref[t] != got.get(t)]


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    pkg = os.path.join(root, "pdf_extractor_spark")
    if not os.path.isfile(os.path.join(pkg, "pipeline", "compose.py")):
        return fail(f"no pdf_extractor_spark package under {root}")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, root)
    from workloads import WORKLOADS, write_corpus
    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; "
                    f"choose from {sorted(WORKLOADS)}")
    cfg = WORKLOADS[args.workload]

    cache = os.path.join(root, ".perfbench")
    corpus = write_corpus(os.path.join(cache, "corpus"), args.workload,
                          args.seed)
    work = os.path.join(cache, "work")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))

    load_before = load_1m()
    try:
        res = run_worker(root, work, args, corpus)
    except (RuntimeError, subprocess.TimeoutExpired) as exc:
        return fail(str(exc))
    load_after = load_1m()

    key = f"{args.workload}-n{cfg['docs']}-s{args.seed}"
    mismatches = res["failures"] + cross_run_checksums(
        cache, key, res["checksums"])
    win = res["window"]
    measured = {
        "docs_per_s": win["docs"] / win["wall_s"],
        "cpu_s_per_kdoc": win["cpu_s"] / (win["docs"] / 1000),
        "peak_rss_mb": win["peak_rss_mb"],
        "setup_s": res["setup"]["setup_s"],
        **res.get("layers", {}),
    }
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        return fail(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
               for m in wanted}

    record = {
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "config": {"workload": args.workload, "seed": args.seed,
                   "docs": cfg["docs"], "parallelism": "local[2]",
                   "num_batches": cfg["num_batches"],
                   "levels": list(cfg["levels"]), "budget": cfg["budget"],
                   "seconds": args.seconds, "trace": args.trace,
                   "git_commit": git_commit(root),
                   "source_sha256": source_sha256(pkg)},
        "nproc": os.cpu_count(),
        "load_1m": {"before": load_before, "after": load_after},
        "setup": res["setup"],
        "runs": {"chain_wall_s": [c["wall_s"] for c in res["chains"]],
                 "docs_per_s": [c["counts"]["rows_in"] / c["wall_s"]
                                for c in res["chains"]]},
        "counts": res["chains"][-1]["counts"],
        "rows_failed_frac": res["failed_rows"] / win["docs"],
        "output_mismatch": len(mismatches),
        "mismatches": mismatches,
        "metrics": measured,
    }
    with open(os.path.join(cache, "records.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")

    for name, m in metrics.items():
        print(f"{name:32s} {m['value']:14.4f} {m['unit']}")
    print(f"{'rows_failed_frac':32s} {record['rows_failed_frac']:14.4f} "
          "fraction")
    print(f"{'output_mismatch':32s} {len(mismatches):14d} count")
    for msg in mismatches:
        print(f"  mismatch: {msg}")
    print(json.dumps({"correct": not mismatches, "attempted": win["docs"],
                      "failed": res["failed_rows"], "metrics": metrics}),
          flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
