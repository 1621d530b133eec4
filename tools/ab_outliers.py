"""Same-box A/B of the two r03→r04 bench outliers (VERDICT r04 #1).

BENCH_r03 vs BENCH_r04 showed `semantic_dedup` 1.05→2.79s and
`curation_pipeline` 1.08→3.94s — both beyond the repo's documented ~1s
cross-session noise bound, measured in DIFFERENT sessions on a noisy
shared box. This tool separates scope-growth from regression the only
honest way: run the r03 code and today's code back-to-back in one
session, on one corpus, median-of-N each.

Code-identity evidence gathered up front (recorded in BENCH/BASELINE.md):
`q_semantic_dedup` and its whole dependency chain (`_emb`,
`_trained_centroids`, `_assign`, `_cosine`, KMEANS_ITERS, SEMDEDUP_TAU)
are byte-identical between d236610 (r03 close) and HEAD, so any stable
delta there would be environmental; `q_curation_pipeline` genuinely grew
scope in r04 (benchmark-contamination stage + fused repetition/quality
rules), so its A/B quantifies the scope cost.

Usage (parent mode — builds corpora, checks out r03 into a worktree,
runs both workers, prints the verdict JSON):
    python tools/ab_outliers.py --factor 100 --vectors 50000 \
        --clusters 250 --cpus 16 --reps 5

Worker mode (internal): --worker REPO_PATH times the two queries using
the package found at REPO_PATH and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
R03_REF = "d236610"
QUERY_NAMES = ("semantic_dedup", "curation_pipeline")


def worker(repo: str, sf_dir: str, cpus: int, reps: int) -> int:
    sys.path.insert(0, repo)
    from pdf_extractor_spark.queries import queries as qreg
    from pdf_extractor_spark.session import get_spark

    spark = get_spark("ab-outliers", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 2,
                      extra={"spark.ui.showConsoleProgress": "false"})
    out = {"repo": repo, "cpus": cpus, "reps": reps}
    reg = qreg()
    for name in QUERY_NAMES:
        fn = reg[name]
        fn(spark, sf_dir).count()  # warm (workers, broadcast, page cache)
        runs = []
        for _ in range(reps):
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            runs.append(round(time.time() - t0, 3))
        out[name] = {"rows": n, "median": round(statistics.median(runs), 3),
                     "runs": runs}
        print(f"  {name} @ {os.path.basename(repo)}: "
              f"median {out[name]['median']}s runs {runs}",
              file=sys.stderr, flush=True)
    print(json.dumps(out), flush=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", help="internal: repo path to time")
    ap.add_argument("--sf-dir")
    ap.add_argument("--factor", type=int, default=100,
                    help="documents corpus = sf0.1 x factor (100 -> 500k)")
    ap.add_argument("--vectors", type=int, default=50000)
    ap.add_argument("--clusters", type=int, default=250)
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    if args.worker:
        return worker(args.worker, args.sf_dir, args.cpus, args.reps)

    sys.path.insert(0, REPO)
    sys.path.insert(0, TOOLS)
    from curation_scale_bench import build_embeddings
    from dedup_scale_bench import build_corpus

    # One directory holding BOTH tables at stress scale: the two queries
    # read {sf_dir}/documents.parquet and {sf_dir}/embeddings.parquet.
    sf_dir = f"/tmp/ab_corpus_f{args.factor}_v{args.vectors}"
    build_corpus(args.factor, sf_dir)  # writes {sf_dir}/documents.parquet
    # build_embeddings skips when its target DIR exists (which
    # build_corpus just created), so build into a sibling and link in.
    emb_dir = f"{sf_dir}_emb"
    build_embeddings(args.vectors, args.clusters, emb_dir)
    link = f"{sf_dir}/embeddings.parquet"
    if not os.path.lexists(link):
        os.symlink(f"{emb_dir}/embeddings.parquet", link)

    # r03 code, read-only worktree (detached HEAD at the r03 close).
    r03_tree = "/tmp/ab_r03_tree"
    if not os.path.exists(r03_tree):
        subprocess.run(["git", "-C", REPO, "worktree", "add", "--detach",
                        r03_tree, R03_REF], check=True)

    results = {}
    # Interleave r03 / HEAD so slow box drift hits both arms equally.
    for tag, repo in (("r03", r03_tree), ("head", REPO),
                      ("r03_b", r03_tree), ("head_b", REPO)):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", repo,
             "--sf-dir", sf_dir, "--cpus", str(args.cpus),
             "--reps", str(args.reps)],
            capture_output=True, text=True, cwd="/tmp",
            # executor-side Python workers import the arm under test too
            env={**os.environ, "PYTHONPATH": repo})
        sys.stderr.write(proc.stderr)
        if proc.returncode != 0:
            print(f"worker {tag} failed rc={proc.returncode}",
                  file=sys.stderr)
            return 1
        results[tag] = json.loads(proc.stdout.strip().splitlines()[-1])

    verdicts = {}
    for name in QUERY_NAMES:
        r03_med = min(results["r03"][name]["median"],
                      results["r03_b"][name]["median"])
        head_med = min(results["head"][name]["median"],
                       results["head_b"][name]["median"])
        ratio = round(head_med / max(r03_med, 1e-9), 2)
        verdicts[name] = {"r03_median": r03_med, "head_median": head_med,
                          "ratio": ratio}
    print(json.dumps({
        "corpus": {"sf_dir": sf_dir, "factor": args.factor,
                   "vectors": args.vectors, "clusters": args.clusters},
        "cpus": args.cpus, "reps": args.reps, "r03_ref": R03_REF,
        "verdicts": verdicts,
        "detail": {k: {q: v[q] for q in QUERY_NAMES}
                   for k, v in results.items()},
    }, indent=1), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
