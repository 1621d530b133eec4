"""One scale harness for the engine's measured claims.

    python tools/scale.py SPEC [--lo 4] [--hi 16] [--reps 3] [--size N]
    python tools/scale.py SPEC --ab REF [--hi 16] [--reps 10] [--size N]

A spec (``SPECS``) names a corpus, a default size and its jobs. The
corpus is a tuple of table builders, run once per size into a directory
under the temp dir and cached there behind a completion marker. A job is
a registry query name or an engine callable ``(spark, sf_dir) ->
DataFrame``.

Scaling mode runs each core level in a fresh worker process whose
``PYTHONPATH`` is the tree under test, so executor-side Python imports
it too. The worker makes one untimed warm-up pass over the jobs, then
``--reps`` timed runs per job. Building the DataFrame is inside the timed
window, and every run is forced by ``count`` plus
``bit_xor(xxhash64(*))``, so Catalyst cannot prune the columns being
measured. The harness prints one JSON record: per job and level the
median seconds, the run list, rows and checksum, plus the scaling
efficiency ``(t_lo / t_hi) / (hi / lo)``.

A/B mode checks REF out into a git worktree (kept under the temp dir
and reused) and runs ``--reps`` interleaved pairs at ``--hi`` cores,
alternating which arm goes first. Each arm run is a fresh worker: the
warm-up pass, then one timed run per job. Per job it reports how many
pairs the working tree won, and each arm's median, IQR and runs.

Either mode exits 1 when a job's rows or checksum differ across runs,
levels or arms.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from typing import Callable, NamedTuple, Sequence, Tuple, Union

HARNESS = os.path.abspath(__file__)
REPO = os.path.dirname(os.path.dirname(HARNESS))
MARKER = "_SCALE_DONE"

# A worker runs this file's ``_worker`` without importing it as a module,
# so the working tree's harness drives whichever tree PYTHONPATH names.
_WORKER = ("import runpy, sys; "
           "runpy.run_path(sys.argv[1])['_worker'](sys.argv[2])")


# --- corpus table builders: (spark, size, path) -> {path}/<table> ---------

DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def documents(spark, size, path, cols=DOC_COLS):
    """sf0.1's documents replicated ``size``×. Each replica's text gets a
    unique tail token, so replicas are near- but not exact duplicates:
    the adversarial regime for MinHash/SimHash banding and span
    detection. 128 files: about 8 task waves at 16 cores."""
    from pyspark.sql import functions as F

    from tools.dump_plans import SF_DIR  # the test-data root's sf0.001
    src = os.path.join(os.path.dirname(SF_DIR), "sf0.1", "documents.parquet")
    doc_id = F.col("doc_id") + F.col("rep") * 1_000_000
    big = (spark.read.parquet(src)
           .crossJoin(spark.range(size).select(F.col("id").alias("rep")))
           .withColumn("text", F.concat(F.col("text"), F.lit(" uniq"),
                                        doc_id.cast("string")))
           .withColumn("doc_id", doc_id))
    big.select(*cols).repartition(128) \
        .write.mode("overwrite").parquet(f"{path}/documents.parquet")


def documents_text(spark, size, path):
    documents(spark, size, path, cols=("doc_id", "text"))


def embeddings(spark, size, path):
    """``500 * size`` 64-dim vectors around 250 cluster centres: the
    SemDeDup shape, per-cluster size bounded."""
    import numpy as np
    import pandas as pd
    clusters = 250

    def gen(batches):
        cent = np.random.default_rng(12345).normal(size=(clusters, 64))
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            labels = (ids % clusters).astype("int32")
            rng = np.random.default_rng(int(ids[0]) + 1)
            vecs = cent[labels] + 0.35 * rng.normal(size=(len(ids), 64))
            yield pd.DataFrame({"vec_id": ids,
                                "embedding": list(vecs.astype("float32")),
                                "label": labels})

    (spark.range(500 * size).repartition(32)
     .mapInPandas(gen, "vec_id long, embedding array<float>, label int")
     .write.mode("overwrite").parquet(f"{path}/embeddings.parquet"))


def events(spark, size, path):
    """``200_000 * size`` events over ``2_000 * size`` users and a
    180-day span, typed by hash: the attribution join's input."""
    from pyspark.sql import functions as F
    users, span_s = 2_000 * size, 180 * 24 * 3600
    ev = spark.range(200_000 * size).select(
        F.col("id").alias("event_id"),
        F.expr(f"timestampadd(SECOND, cast(pmod(xxhash64(id), {span_s})"
               " as int), TIMESTAMP'2024-01-01 00:00:00')").alias("ts"),
        F.pmod(F.xxhash64(F.col("id") + 1), F.lit(users)).alias("user_id"),
        F.expr("element_at(array('view','click','signup','purchase',"
               "'error'), cast(pmod(xxhash64(id + 2), 5) as int) + 1)")
        .alias("event_type"),
        (F.pmod(F.xxhash64(F.col("id") + 3), F.lit(10000)) / 100.0)
        .alias("value"),
        F.lit('{"k": 1}').alias("props"))
    ev.repartition(128).write.mode("overwrite") \
        .parquet(f"{path}/events.parquet")


def edges(spark, size, path):
    """``50_000 * size`` hub-skewed undirected edges (a < b) over
    ``1_000 * size`` hosts: endpoint b is drawn from a random-width
    prefix, so small ids become hubs, the wedge-explosion adversary
    degree ordering exists for."""
    from pyspark.sql import functions as F
    hosts = 1_000 * size
    e = (spark.range(50_000 * size)
         .select(F.pmod(F.xxhash64("id"), F.lit(hosts)).alias("x"),
                 F.pmod(F.xxhash64(F.col("id") + 7),
                        F.pmod(F.xxhash64(F.col("id") + 13),
                               F.lit(hosts)) + 1).alias("y"))
         .filter(F.col("x") != F.col("y"))
         .select(F.least("x", "y").alias("a"),
                 F.greatest("x", "y").alias("b"))
         .distinct())
    e.repartition(128).write.mode("overwrite") \
        .parquet(f"{path}/edges.parquet")


def host_rank(spark, size, path):
    """PageRank of the corpus' link graph, materialized once per graph
    snapshot: the deployed input of the crawl-scheduler queries."""
    from pdf_extractor_spark.queries.webgraph import q_host_pagerank
    q_host_pagerank(spark, path).write.mode("overwrite") \
        .parquet(f"{path}/host_rank.parquet")


def hotscore(spark, size, path):
    """The budget-selection adversary: ``5_000 * size`` documents with
    identical text, hence one quality score; the boundary bucket is the
    whole corpus."""
    from pyspark.sql import functions as F
    text = " ".join(["boiler"] * 50)
    (spark.range(5_000 * size)
     .select(F.col("id").alias("doc_id"), F.lit(text).alias("text"),
             F.lit("en").alias("lang"), F.lit("src0").alias("source"),
             F.lit(len(text)).cast("long").alias("n_chars"))
     .repartition(128).write.mode("overwrite")
     .parquet(f"{path}/hotscore.parquet"))


def pages(spark, size, path):
    """``size`` synthetic pages (HTML, PDF, text) with one domain
    holding ~30% of the rows, generated on executors."""
    from pdf_extractor_spark.sources.pages import synth_pages_df
    synth_pages_df(spark, n=size, seed=42, skew_frac=0.3) \
        .write.mode("overwrite").parquet(f"{path}/pages.parquet")


def warc(spark, size, path):
    """``size`` synthetic pages as gzip'd WARC files under ``warc/``,
    one per contiguous id range of 128 partitions, written on executors
    (the driver-side test helper would push the crawl through one
    core)."""
    import pandas as pd
    out_dir = os.path.join(path, "warc")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    def gen(batches):
        import gzip

        from pdf_extractor_spark.sources.pages import _records_for_ids
        from pdf_extractor_spark.sources.warc import format_record
        ids = [int(i) for pdf in batches for i in pdf["id"]]
        if not ids:
            yield pd.DataFrame({"n": pd.Series([], dtype="int64")})
            return
        chunks = []
        for r in _records_for_ids(ids, 42, 0.3):
            ts_iso = r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
            if r["text"] is not None:
                body, ctype = r["text"].encode("utf-8"), "text/plain"
            else:
                body = r["html"]
                ctype = ("application/pdf" if body[:5] == b"%PDF-"
                         else "text/html")
            chunks.append(format_record(r["url"], ts_iso, body, ctype))
        name = os.path.join(out_dir, f"part-{min(ids):09d}.warc.gz")
        with open(name, "wb") as fh:
            fh.write(gzip.compress(b"".join(chunks)))
        yield pd.DataFrame({"n": [len(ids)]})

    written = (spark.range(0, size, 1, 128).mapInPandas(gen, "n long")
               .agg({"n": "sum"}).collect()[0][0])
    if written != size:
        raise RuntimeError(f"wrote {written} of {size} WARC records")


def captures(spark, size, path):
    """``size`` captures, ~30% on one host as an 8-captures/url recrawl
    flood (bytes change once, mid-stream); the rest 2 captures/url over
    2000 hosts, odd urls changing bytes on recapture. Pure SQL."""
    n_mega = int(size * 0.3)
    mu = n_mega // 8
    mega = spark.range(n_mega).selectExpr(
        f"concat('https://mega.example.com/page/', cast(id % {mu} as string),"
        " '.html') AS url",
        "timestamp_seconds(1750000000 + id) AS warc_ts",
        f"concat('mega body ', cast(id % {mu} as string), ' rev ', "
        f"cast((id div {mu}) div 4 as string)) AS text")
    ru = (size - n_mega) // 2
    rest = spark.range(size - n_mega).selectExpr(
        "concat('https://host-', cast(id % 2000 as string), "
        f"'.example.org/doc/', cast(id % {ru} as string)) AS url",
        "timestamp_seconds(1750000000 + id) AS warc_ts",
        f"concat('body ', cast(id % {ru} as string), ' rev ', "
        f"cast((id div {ru}) * ((id % {ru}) % 2) as string)) AS text")
    mega.unionByName(rest).repartition(128) \
        .write.mode("overwrite").parquet(f"{path}/pages.parquet")


def mega_host(spark, size, path):
    """``size`` short documents, half of them on one host (the
    wiki-mirror regime a host quota exists for), the rest uniform over
    1000 small hosts. Text is 3-10 tokens, so the window shuffle, not
    tokenizing, dominates."""
    from pyspark.sql import functions as F
    df = spark.range(size).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(1), (F.col("id") % 8 + 3).cast("int")),
            lambda i: F.concat(F.lit("w"), i.cast("string")))).alias("text"),
        F.lit("en").alias("lang"),
        F.when(F.col("id") % 2 == 0, F.lit("megahost"))
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 1000)
                            .cast("string"))).alias("source"))
    (df.withColumn("n_chars", F.length("text").cast("long"))
     .repartition(32).write.mode("overwrite")
     .parquet(f"{path}/documents.parquet"))


def mojibake(spark, size, path):
    """``size`` 25-token documents; one in four carries one of the
    registry query's mojibake suffixes. Materialized, so every run reads
    identical dirty bytes."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.queries.webcur import _MOJI_SUFFIXES
    branches = " ".join(
        f"WHEN doc_id % 12 = {3 * j + 1} THEN '{s}'"
        for j, s in enumerate(_MOJI_SUFFIXES[1:]))
    base = spark.range(size).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(1), F.lit(25)),
            lambda i: F.concat(F.lit("word"), i.cast("string"))))
        .alias("text"))
    (base.select("doc_id",
                 F.expr(f"concat(text, CASE {branches} ELSE '' END)")
                 .alias("dirty"))
     .repartition(32).write.mode("overwrite")
     .parquet(f"{path}/dirty.parquet"))


def corpus_size(sf_dir: str) -> int:
    """The size a cached corpus was built at."""
    with open(os.path.join(sf_dir, MARKER)) as fh:
        return json.load(fh)["size"]


# --- engine callables that are not registry queries -----------------------

def _extract(spark, sf_dir, layout):
    from pdf_extractor_spark.pipeline.extract import extract_pages
    pg = spark.read.parquet(f"{sf_dir}/pages.parquet")
    return extract_pages(layout(pg, spark.sparkContext.defaultParallelism
                                * 2), levels=("markdown",))


def extract_salted(spark, sf_dir):
    """The full per-document chain after the engine's skew defense:
    repartition by xxhash64(url)."""
    from pdf_extractor_spark.pipeline.extract import repartition_salted
    return _extract(spark, sf_dir, repartition_salted)


def extract_domain(spark, sf_dir):
    """The same chain on the adversarial layout: partitioned by url
    domain, so the hot domain lands in one partition."""
    from pyspark.sql import functions as F
    domain = F.regexp_extract("url", r"https?://([^/]+)/", 1)
    return _extract(spark, sf_dir, lambda pg, n: pg.repartition(n, domain))


def rehearsal(spark, sf_dir):
    """The composed chain (WARC → land → extract → documents → dedup →
    curation → assemble) into a fresh job directory, with a token
    budget of 60 per crawled page; its output is the selected corpus."""
    from pdf_extractor_spark.pipeline.compose import run_rehearsal
    job_dir = sf_dir + "_job"
    shutil.rmtree(job_dir, ignore_errors=True)
    run_rehearsal(spark, os.path.join(sf_dir, "warc"), job_dir,
                  budget=60 * corpus_size(sf_dir), num_batches=4)
    return spark.read.parquet(os.path.join(job_dir, "assemble", "kept"))


def triangles_synth(spark, sf_dir):
    from pdf_extractor_spark.queries.webgraph import triangle_counts
    return triangle_counts(spark.read.parquet(f"{sf_dir}/edges.parquet"))


def _ranked(spark, sf_dir, query):
    return query(spark, sf_dir,
                 rank=spark.read.parquet(f"{sf_dir}/host_rank.parquet"))


def fetch_schedule_pre(spark, sf_dir):
    from pdf_extractor_spark.queries.webgraph import q_fetch_schedule
    return _ranked(spark, sf_dir, q_fetch_schedule)


def frontier_priority_pre(spark, sf_dir):
    from pdf_extractor_spark.queries.webgraph import q_frontier_priority
    return _ranked(spark, sf_dir, q_frontier_priority)


def host_sample_weights_pre(spark, sf_dir):
    from pdf_extractor_spark.queries.webgraph import q_host_sample_weights
    return _ranked(spark, sf_dir, q_host_sample_weights)


def budget_hotscore_adaptive(spark, sf_dir, **kw):
    from pdf_extractor_spark.queries.training import budget_select
    hot = spark.read.parquet(f"{sf_dir}/hotscore.parquet")
    # half of the 50-token documents fit the budget
    return budget_select(hot, budget=corpus_size(sf_dir) * 5_000 * 25, **kw)


def budget_hotscore_hier(spark, sf_dir):
    return budget_hotscore_adaptive(spark, sf_dir, window_max=0)


def assemble_chain(spark, sf_dir):
    """The assemble stage's compute graph without its writes: budget
    selection → kept semi-join → pack offsets → per-sequence
    manifest."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.queries.curation import (pack_manifest_body,
                                                      pack_offsets)
    from pdf_extractor_spark.queries.training import budget_select
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept_ids = budget_select(docs, budget=5_000_000) \
        .filter("kept").select("doc_id")
    tok = docs.join(kept_ids, "doc_id", "left_semi").select(
        "doc_id", F.expr("CAST(size(filter(split(text, ' '), x -> x <> ''))"
                         " AS BIGINT)").alias("n_tokens"))
    return pack_manifest_body(pack_offsets(tok))


def duplicate_spans_full(spark, sf_dir):
    """Every maximal duplicated span, not the registry query's top 50."""
    from pdf_extractor_spark.queries.webcur import _span_runs
    return _span_runs(spark, sf_dir)


def recrawl_flood(spark, sf_dir):
    """The web_pipeline chain over the captures: unchanged recaptures
    of the mega-host bypass the host-quota shuffle."""
    from pdf_extractor_spark.queries.webcur import curate_pages
    return curate_pages(spark.read.parquet(f"{sf_dir}/pages.parquet"))


def all_changed(spark, sf_dir):
    """The same chain with every capture's bytes unique, so the
    mega-host's share lands in one quota-window partition: its honest
    worst case."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.queries.webcur import curate_pages
    pg = spark.read.parquet(f"{sf_dir}/pages.parquet")
    return curate_pages(pg.withColumn(
        "text", F.concat_ws(" ", "text", F.col("warc_ts").cast("string"))))


def mojibake_gated(spark, sf_dir):
    """The registry plan's repair (``q_mojibake_fix``) over the dirty
    corpus: the literal replace chain behind the two-contains()
    precheck."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.queries.webcur import _MOJIBAKE_PAIRS
    dirty = F.col("dirty")
    chain = dirty
    for bad, good in _MOJIBAKE_PAIRS:
        chain = F.replace(chain, F.lit(bad), F.lit(good))
    fixed = F.when(dirty.contains("Ã") | dirty.contains("â"), chain) \
        .otherwise(dirty)
    return spark.read.parquet(f"{sf_dir}/dirty.parquet") \
        .select("doc_id", fixed.alias("fixed"))


# --- the spec table -------------------------------------------------------

Job = Union[str, Callable]


class Spec(NamedTuple):
    corpus: Tuple[Callable, ...]
    size: int
    jobs: Tuple[Job, ...]


SPECS = {
    "extract": Spec((pages,), 64_000, (extract_salted, extract_domain)),
    "rehearsal": Spec((warc,), 2_000_000, (rehearsal,)),
    "dedup": Spec((documents,), 5, (
        "minhash_signatures", "dedup_minhash_lsh", "dedup_incremental",
        "simhash_bands", "dedup_ngram_jaccard",
        "dedup_clusters", "dedup_clusters_converged",
        "benchmark_contamination", "lsh_recall_audit")),
    "textstats": Spec((documents,), 100, (
        "lang_id", "quality_score", "token_count", "doc_fingerprint",
        "doc_winnow")),
    "curation": Spec((documents, embeddings), 100, (
        "ngram_repetition", "gopher_quality_filter", "pack_sequences",
        "temperature_sample", "boilerplate_strip", "semantic_dedup")),
    "selection": Spec((documents_text, events), 100, (
        "dsir_weights", "tfidf_keyterms", "conversion_attribution")),
    "crawlops": Spec((documents, embeddings, edges, host_rank), 100, (
        "split_divergence", "robots_filter", "host_triangles",
        "fetch_schedule", "crawl_budget", "embedding_quantize",
        triangles_synth, fetch_schedule_pre)),
    "training": Spec((documents, hotscore), 100, (
        "badwords_filter", "host_reputation", "chunk_windows",
        "shard_export", "select_to_budget", budget_hotscore_adaptive,
        budget_hotscore_hier, "pmi_collocations", assemble_chain)),
    "webcur": Spec((documents,), 20, (
        duplicate_spans_full, "span_scrub", "span_scrub_star",
        "url_canonicalize")),
    "webgraph": Spec((documents, host_rank), 20, (
        "outlinks", "anchor_texts", "host_pagerank", "host_hits",
        "host_degrees", "frontier_priority", frontier_priority_pre,
        host_sample_weights_pre, "bm25_topk", "bpe_merges", "bpe_encode")),
    "bpe": Spec((documents,), 1, ("bpe_merges", "bpe_merges_batched")),
    "webpipe_skew": Spec((captures,), 2_000_000, (recrawl_flood,
                                                  all_changed)),
    "domain_cap_skew": Spec((mega_host,), 2_000_000, ("domain_cap",)),
    "mojibake": Spec((mojibake,), 4_000_000, (mojibake_gated,)),
}


def resolve(job: Job) -> Tuple[str, Callable]:
    """(name, fn(spark, sf_dir) -> DataFrame) of one spec job."""
    if callable(job):
        return job.__name__, job
    from pdf_extractor_spark.queries import queries
    return job, queries()[job]


def corpus_dir(spec: Spec, size: int) -> str:
    names = "+".join(b.__name__ for b in spec.corpus)
    return os.path.join(tempfile.gettempdir(), f"scale_{names}_{size}")


# --- statistics -----------------------------------------------------------

def efficiency(t_lo: float, t_hi: float, lo: int, hi: int) -> float:
    """Speedup over ideal: 1.0 when ``hi/lo`` times the cores take
    ``lo/hi`` of the time."""
    return round((t_lo / t_hi) / (hi / lo), 3)


def iqr(xs: Sequence[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return round(q3 - q1, 3)


def pair_order(i: int) -> Tuple[str, str]:
    """Which arm runs first in pair ``i``: alternates, so a drift in box
    speed hits both arms alike."""
    return ("ref", "head") if i % 2 == 0 else ("head", "ref")


def ab_summary(head: Sequence[float], ref: Sequence[float]) -> dict:
    """Pairwise wins of ``head`` (faster in the same pair), each arm's
    median and IQR."""
    h_med, r_med = statistics.median(head), statistics.median(ref)
    return {"wins": sum(h < r for h, r in zip(head, ref)),
            "pairs": len(head),
            "head": {"median_s": round(h_med, 3), "iqr_s": iqr(head),
                     "runs": list(head)},
            "ref": {"median_s": round(r_med, 3), "iqr_s": iqr(ref),
                    "runs": list(ref)},
            "ratio": round(h_med / r_med, 3)}


# --- worker: one fresh process per core level or arm run ------------------

def force(df) -> Tuple[int, int]:
    """Rows and ``bit_xor(xxhash64(*))`` of ``df``: every column is
    computed, unlike ``count()``."""
    from pyspark.sql import functions as F
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(F.xxhash64(*[df[c] for c in df.columns]))
                 .alias("chk")).collect()[0]
    return row["n"], row["chk"]


def _worker(task_json: str) -> None:
    task = json.loads(task_json)
    from pdf_extractor_spark.session import get_spark
    cores, spec = task["cores"], SPECS[task["spec"]]
    spark = get_spark(f"scale-{task['spec']}-{cores}",
                      master=f"local[{cores}]",
                      shuffle_partitions=max(cores * 2, 8),
                      extra={"spark.ui.showConsoleProgress": "false"})
    sf_dir = task["sf_dir"]
    if task.get("build"):
        for build in spec.corpus:
            build(spark, task["size"], sf_dir)
        with open(os.path.join(sf_dir, MARKER), "w") as fh:
            json.dump({"size": task["size"]}, fh)
        print(json.dumps({}), flush=True)
        return
    jobs = [resolve(j) for j in spec.jobs]
    results = {name: [list(force(fn(spark, sf_dir)))] for name, fn in jobs}
    runs = {name: [] for name, _fn in jobs}
    for name, fn in jobs:
        for _ in range(task["reps"]):
            t0 = time.perf_counter()
            results[name].append(list(force(fn(spark, sf_dir))))
            runs[name].append(round(time.perf_counter() - t0, 3))
        print(f"local[{cores}] {name}: {runs[name]} s, rows/checksum "
              f"{results[name][-1]}", file=sys.stderr, flush=True)
    print(json.dumps({n: {"runs": runs[n], "results": results[n]}
                      for n in runs}), flush=True)


def worker_env(tree: str) -> dict:
    """The worker's environment: executor-side Python must import the
    tree under test, not whatever the parent's path holds."""
    return {**os.environ, "PYTHONPATH": tree}


def run_worker(tree: str, task: dict) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER, HARNESS, json.dumps(task)],
        cwd=tree, env=worker_env(tree), stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"worker {task} failed with rc={proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def build(spec_name: str, size: int) -> str:
    """The spec's corpus directory, built by a worker on first use."""
    sf_dir = corpus_dir(SPECS[spec_name], size)
    if not os.path.exists(os.path.join(sf_dir, MARKER)):
        shutil.rmtree(sf_dir, ignore_errors=True)
        os.makedirs(sf_dir)
        run_worker(REPO, {"spec": spec_name, "size": size, "cores":
                          os.cpu_count() or 4, "sf_dir": sf_dir,
                          "build": True})
    return sf_dir


# --- the two modes --------------------------------------------------------

def _agreed(results) -> Tuple[int, int, bool]:
    """A job's (rows, checksum) and whether every result agrees on it."""
    distinct = sorted({tuple(r) for r in results}, key=str)
    return (*distinct[0], len(distinct) == 1)


def scale_record(levels: dict, lo: int, hi: int) -> dict:
    """Fold the lo/hi worker outputs into the per-job record; ``ok`` is
    False when a job's rows or checksum differ across runs or levels."""
    jobs, mismatch = {}, []
    for name in levels[lo]:
        rec = {}
        for cores in (lo, hi):
            out = levels[cores][name]
            rows, chk, _same = _agreed(out["results"])
            rec[str(cores)] = {"median_s": statistics.median(out["runs"]),
                               "runs": out["runs"], "rows": rows,
                               "checksum": chk}
        rec["efficiency"] = efficiency(rec[str(lo)]["median_s"],
                                       rec[str(hi)]["median_s"], lo, hi)
        if not _agreed(levels[lo][name]["results"]
                       + levels[hi][name]["results"])[2]:
            mismatch.append(name)
        jobs[name] = rec
    return {"jobs": jobs, "mismatch": mismatch, "ok": not mismatch}


def run_scale(spec_name: str, sf_dir: str, lo: int, hi: int,
              reps: int) -> dict:
    levels = {cores: run_worker(REPO, {"spec": spec_name, "cores": cores,
                                       "sf_dir": sf_dir, "reps": reps})
              for cores in (lo, hi)}
    return {"lo": lo, "hi": hi, **scale_record(levels, lo, hi)}


def ab_worktree(ref: str) -> Tuple[str, str]:
    """(sha, path) of a detached worktree of ``ref``, made once."""
    sha = subprocess.run(["git", "-C", REPO, "rev-parse", "--verify",
                          f"{ref}^{{commit}}"], check=True, text=True,
                         stdout=subprocess.PIPE).stdout.strip()
    path = os.path.join(tempfile.gettempdir(), f"scale_ab_{sha[:12]}")
    if not os.path.exists(path):
        subprocess.run(["git", "-C", REPO, "worktree", "add", "--detach",
                        path, sha], check=True)
    return sha, path


def run_ab(spec_name: str, sf_dir: str, ref: str, cores: int,
           pairs: int) -> dict:
    sha, ref_tree = ab_worktree(ref)
    trees = {"head": REPO, "ref": ref_tree}
    outs = {"head": [], "ref": []}
    for i in range(pairs):
        for arm in pair_order(i):
            outs[arm].append(run_worker(trees[arm], {
                "spec": spec_name, "cores": cores, "sf_dir": sf_dir,
                "reps": 1}))
    jobs, mismatch = {}, []
    for name in outs["head"][0]:
        runs = {arm: [o[name]["runs"][0] for o in outs[arm]]
                for arm in outs}
        rows, chk, same = _agreed([r for arm in outs for o in outs[arm]
                                   for r in o[name]["results"]])
        jobs[name] = {**ab_summary(runs["head"], runs["ref"]),
                      "rows": rows, "checksum": chk}
        if not same:
            mismatch.append(name)
    return {"ref": ref, "sha": sha, "cores": cores, "jobs": jobs,
            "mismatch": mismatch, "ok": not mismatch}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("spec", choices=sorted(SPECS))
    ap.add_argument("--lo", type=int, default=4)
    ap.add_argument("--hi", type=int, default=16)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--size", type=int, default=None,
                    help="corpus size (default: the spec's)")
    ap.add_argument("--ab", metavar="REF",
                    help="A/B the working tree against git REF at --hi "
                         "cores over --reps interleaved pairs")
    args = ap.parse_args(argv)
    size = args.size or SPECS[args.spec].size
    sf_dir = build(args.spec, size)
    if args.ab:
        record = run_ab(args.spec, sf_dir, args.ab, args.hi, args.reps)
    else:
        record = run_scale(args.spec, sf_dir, args.lo, args.hi, args.reps)
    print(json.dumps({"spec": args.spec, "size": size, "sf_dir": sf_dir,
                      "reps": args.reps, **record}, indent=1), flush=True)
    return 0 if record["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
