"""Scaling evidence for the training-assembly operators:
badwords_filter, host_reputation, chunk_windows, shard_export.

Corpus: the round-4c full-column replicated sf0.1 documents table
(K×5,000 docs, 128 files, built once under /tmp — ``source`` and
``n_chars`` survive because host_reputation / shard_export need them).

Median of --reps per (level, query); count+checksum forcing. Results
folded into BENCH/BASELINE.md BY HAND (never run round4c's main — it
overwrites the markdown).

Usage: python tools/training_scale_bench.py [--factor 100]
           [--lo 4 --hi 16] [--reps 3] [--only name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from round4c_scale_bench import build_docs_full  # noqa: E402


def build_hotscore(n: int, path: str) -> None:
    """The select_to_budget adversary: every document has IDENTICAL
    text, hence one quality score — the boundary bucket is the whole
    corpus. 128 files, deterministic."""
    if os.path.exists(path):
        return
    from pyspark.sql import functions as F

    from pdf_extractor_spark.session import get_spark, stop_spark
    spark = get_spark("hotscore-corpus", extra={
        "spark.ui.showConsoleProgress": "false"})
    text = " ".join(["boiler"] * 50)
    (spark.range(n)
     .select(F.col("id").alias("doc_id"), F.lit(text).alias("text"),
             F.lit("en").alias("lang"), F.lit("src0").alias("source"),
             F.lit(len(text)).cast("long").alias("n_chars"))
     .repartition(128).write.parquet(f"{path}/documents.parquet"))
    stop_spark()


def budget_select_windowform(docs, budget):
    """The REJECTED boundary shape (kept here only for the A/B
    measurement): within-score prefix via Window.partitionBy(score) —
    on the hot-score corpus the single boundary bucket serializes
    onto one partition."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pdf_extractor_spark.queries.textstats import _W_ARR, _in_list
    d = (docs.filter(F.trim(F.col("text")) != "")
         .select("doc_id", F.expr(_W_ARR).alias("w")))
    per = d.select(
        "doc_id", F.size("w").cast("long").alias("n_words"),
        F.expr("aggregate(w, 0L, (acc, x) -> acc + length(x))")
        .alias("sum_len"),
        F.expr(f"size(filter(w, x -> x in ({_in_list('en')})))")
        .cast("long").alias("n_stop"))
    q = per.select(
        "doc_id", "n_words",
        (F.expr("80 * least(n_words, 50)")
         + F.expr("least(3000, (15000 * n_stop) div n_words)")
         + F.lit(3000)
         - F.expr("least(3000, (3000 * abs(sum_len - 5 * n_words))"
                  " div (5 * n_words))")).cast("long")
        .alias("quality_bp"))
    hist = q.groupBy("quality_bp").agg(
        F.sum("n_words").alias("bucket_tokens"))
    cumw = Window.orderBy(F.desc("quality_bp")) \
        .rowsBetween(Window.unboundedPreceding, -1)
    hist = hist.withColumn(
        "base", F.coalesce(F.sum("bucket_tokens").over(cumw),
                           F.lit(0)).cast("long"))
    j = q.join(F.broadcast(hist), "quality_bp")
    full = F.col("base") + F.col("bucket_tokens") <= budget
    empty = F.col("base") >= budget
    cols = ["doc_id", "n_words", "quality_bp", "kept"]
    decided = j.filter(full | empty).withColumn("kept", full) \
        .select(*cols)
    wb = Window.partitionBy("quality_bp").orderBy("doc_id") \
        .rowsBetween(Window.unboundedPreceding, -1)
    boundary = (j.filter(~full & ~empty)
                .withColumn("pe", F.col("base") + F.coalesce(
                    F.sum("n_words").over(wb), F.lit(0)))
                .withColumn("kept", F.col("pe") < budget)
                .select(*cols))
    return decided.unionByName(boundary)


def run_level(cpus: int, docs_dir: str, reps: int, only=None) -> dict:
    from pyspark.sql import functions as F

    from pdf_extractor_spark.queries.training import (q_badwords_filter,
                                                      q_chunk_windows,
                                                      q_host_reputation,
                                                      q_select_to_budget,
                                                      q_shard_export)
    from pdf_extractor_spark.session import get_spark, stop_spark

    spark = get_spark(f"training-bench-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus * 2, 8),
                      extra={"spark.ui.showConsoleProgress": "false"})
    out = {}

    def timed(name, thunk):
        if only and name not in only:
            return
        secs, n = [], None
        for _ in range(reps):
            # construction INSIDE the window (bench.py's rule): an
            # eager localCheckpoint in a query body must not escape
            # the timing (pmi_collocations measured 0.99s for a 500k
            # corpus pass before this fix caught it)
            t0 = time.time()
            df = thunk()
            row = df.agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(xxhash64(" + ", ".join(df.columns)
                       + "))").alias("chk")).collect()[0]
            secs.append(round(time.time() - t0, 2))
            n = row.n
        out[name] = {"sec": statistics.median(secs), "runs": secs,
                     "rows": n}
        print(f"local[{cpus}] {name}: {n} rows median "
              f"{out[name]['sec']}s {secs}", file=sys.stderr, flush=True)

    timed("badwords_filter", lambda: q_badwords_filter(spark, docs_dir))
    timed("host_reputation", lambda: q_host_reputation(spark, docs_dir))
    timed("chunk_windows", lambda: q_chunk_windows(spark, docs_dir))
    timed("shard_export", lambda: q_shard_export(spark, docs_dir))
    timed("select_to_budget",
          lambda: q_select_to_budget(spark, docs_dir))

    hot_dir = docs_dir + "_hotscore"
    if (not only) or any(n.startswith("budget_hotscore")
                         for n in only):
        from pdf_extractor_spark.queries.training import budget_select
        hot = spark.read.parquet(f"{hot_dir}/documents.parquet")
        hot_budget = hot.count() * 25  # half of the 50-token docs
        timed("budget_hotscore_adaptive",
              lambda: budget_select(hot, budget=hot_budget))
        timed("budget_hotscore_hier",
              lambda: budget_select(hot, budget=hot_budget,
                                    window_max=0))
        timed("budget_hotscore_window",
              lambda: budget_select_windowform(hot, budget=hot_budget))

    def pmi():
        from pdf_extractor_spark.queries.search import \
            q_pmi_collocations
        return q_pmi_collocations(spark, docs_dir)
    timed("pmi_collocations", pmi)

    def assemble_chain():
        # the assemble CLI's compute graph, IO-free: budget selection
        # -> kept semi-join -> pack hierarchy -> per-seq manifest
        from pdf_extractor_spark.queries.curation import (
            pack_manifest_body, pack_offsets)
        from pdf_extractor_spark.queries.training import budget_select
        docs = spark.read.parquet(f"{docs_dir}/documents.parquet")
        kept_ids = budget_select(docs, budget=5_000_000) \
            .filter("kept").select("doc_id")
        kept = docs.join(kept_ids, "doc_id", "left_semi")
        tok = kept.select(
            "doc_id",
            F.expr("CAST(size(filter(split(text, ' '), x -> x <> ''))"
                   " AS BIGINT)").alias("n_tokens"))
        return pack_manifest_body(pack_offsets(tok))
    timed("assemble_chain", assemble_chain)
    stop_spark()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=100)
    ap.add_argument("--lo", type=int, default=4)
    ap.add_argument("--hi", type=int, default=16)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    docs_dir = f"/tmp/r4c_scale_f{args.factor}"
    build_docs_full(args.factor, docs_dir)
    if (not args.only) or any(n.startswith("budget_hotscore")
                              for n in args.only):
        build_hotscore(5000 * args.factor, docs_dir + "_hotscore")
    os.system("sync")
    time.sleep(2)

    lo = run_level(args.lo, docs_dir, args.reps, args.only)
    hi = run_level(args.hi, docs_dir, args.reps, args.only)
    report = {"docs": 5000 * args.factor, "lo_cpus": args.lo,
              "hi_cpus": args.hi, "reps": args.reps, "queries": {}}
    for name in lo:
        eff = ((lo[name]["sec"] / hi[name]["sec"]) /
               (args.hi / args.lo)) if name in hi else None
        report["queries"][name] = {
            "rows": lo[name]["rows"],
            f"local[{args.lo}]_sec": lo[name]["sec"],
            f"local[{args.hi}]_sec": hi[name]["sec"],
            "efficiency": round(eff, 3) if eff else None,
        }
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
