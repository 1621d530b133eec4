"""Dump physical plans of the headline queries to BENCH/PLANS.md —
human-readable evidence of the plan properties the test suite pins
(pushdown, pruning, broadcast joins, partial aggregation, the single
fused MapInPandas stage, bucketed co-located joins)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def main() -> None:
    from pyspark.sql import functions as F

    from pdf_extractor_spark.pipeline.extract import extract_pages
    from pdf_extractor_spark.queries import (dedup, mdvalidate, relational,
                                             temporal)
    from pdf_extractor_spark.session import get_spark

    spark = get_spark("dump-plans", master="local[4]",
                      extra={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    pages = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"), "text", "lang")

    from pdf_extractor_spark.pipeline.extract import extract_pages_text_jvm
    from pdf_extractor_spark.queries import curation, simsearch

    sections = [
        ("Fused extraction (all 5 levels, ONE MapInPandas, zero Exchange)",
         extract_pages(pages, levels=("raw", "lines", "chapters",
                                      "processed", "markdown"))),
        ("JVM text lane (raw level, zero Python anywhere in the plan; "
         "html column pruned out of the scan)",
         extract_pages_text_jvm(pages)),
        ("Trained-IVF search (broadcast centroids; corpus joins its "
         "trained assignment; windowed top-k)",
         simsearch.q_ann_ivf_topk(spark, SF_DIR)),
        ("Predicate pushdown + column pruning (order_priority)",
         relational.q_order_priority(spark, SF_DIR)),
        ("Broadcast dimension joins (market_revenue)",
         relational.q_market_revenue(spark, SF_DIR)),
        ("MinHash-LSH star edges (one window per band bucket, no pair "
         "join)", dedup.q_dedup_minhash_lsh(spark, SF_DIR)),
        ("As-of join compiled to a pure window (no join node)",
         temporal.q_events_asof_join(spark, SF_DIR)),
        ("Two-phase salted aggregation",
         temporal.q_salted_type_counts(spark, SF_DIR)),
        ("Markdown-validator error side-output (two windows off ONE "
         "doc_id shuffle; WindowGroupLimit pushes the per-section cap)",
         mdvalidate.q_markdown_errors(spark, SF_DIR)),
        ("Zero-shuffle repetition profile (grams/distinct/mode all "
         "array expressions; only the presentation-sort exchange)",
         curation.q_ngram_repetition(spark, SF_DIR)),
        ("Hierarchical prefix-sum sequence packing (3 windows, "
         "broadcast offsets — no full-table global window)",
         curation.q_pack_sequences(spark, SF_DIR)),
        ("Cross-document boilerplate strip (tiny DF vocabulary "
         "broadcast back as LeftAnti; corpus never shuffles by word "
         "for the removal)", curation.q_boilerplate_strip(spark, SF_DIR)),
    ]

    from pdf_extractor_spark.queries import textstats
    sections.append((
        "Zero-shuffle winnowing fingerprint (shingle hashes + sliding "
        "window minima as doc-local array folds; no Generate, no "
        "aggregate, no window — only the presentation-sort exchange)",
        textstats.q_doc_winnow(spark, SF_DIR)))

    from pdf_extractor_spark.queries import webcur
    sections.extend([
        ("Exact substring dedup (DF-capped k-gram posting equi-join; "
         "pair-keyed gaps-and-islands window; span-assembly groupBy "
         "reuses the window's distribution — no second exchange)",
         webcur.q_duplicate_spans(spark, SF_DIR)),
        ("Star span scrub (per-hash min owner, equi-join back — "
         "Θ(postings), no pair join; islands = two window passes "
         "off one doc_id exchange)",
         webcur.q_span_scrub_star(spark, SF_DIR)),
        ("URL canonicalization (pure codegen string algebra; only the "
         "presentation-sort exchange; scan reads doc_id+source only)",
         webcur.q_url_canonicalize(spark, SF_DIR)),
    ])

    from pdf_extractor_spark.queries import search, webgraph
    edges = (webgraph._edges(spark, SF_DIR)
             .filter(F.col("src_host") != F.col("dst_host"))
             .select("src_host", "dst_host"))
    deg = edges.groupBy("src_host").agg(F.count("*").alias("outdeg"))
    hosts = (edges.select(F.col("src_host").alias("host"))
             .union(edges.select(F.col("dst_host").alias("host")))
             .distinct())
    rank0 = hosts.select("host", F.lit(1).cast("long").alias("rank_ppb"))
    sections.extend([
        ("Host PageRank, one iteration (the full query localCheckpoints "
         "each round; rank⋈edges broadcasts the |hosts|-row rank side, "
         "one sum keyed dst_host)",
         webgraph._pr_iterate(edges, deg, hosts, rank0, 1)),
        ("BM25 top-k (zero-explode wide aggregates: per-term tf as "
         "size(filter(w,...)) in ONE scan; 1-row stats broadcast; "
         "TakeOrderedAndProject top-k — no global window)",
         search.q_bm25_topk(spark, SF_DIR)),
    ])

    sections.extend([
        ("DSIR scoring fold (constant 512-entry broadcast map; "
         "doc-local aggregate+element_at — the corpus never shuffles; "
         "training aggregate onto <=512 keys)",
         curation.q_dsir_weights(spark, SF_DIR)),
        ("tf-idf key terms (doc-local sort+run-length term counts — "
         "no token-stream exchange; Partial WindowGroupLimit prunes "
         "to k rows per doc below the doc_id exchange)",
         search.q_tfidf_keyterms(spark, SF_DIR)),
        ("Robots longest-prefix verdict (broadcast host→rules map, "
         "int64 max fold inside the lambda; scan→project→sort, zero "
         "corpus exchange)", webcur.q_robots_filter(spark, SF_DIR)),
        ("Conversion attribution (stream-stream-shaped interval join; "
         "ONE user_id-keyed shuffle — or zero Exchange over bucketed "
         "events, see test_bucketing.py)",
         temporal.q_conversion_attribution(spark, SF_DIR)),
        ("Degree-ordered triangle counting (wedges only at each "
         "edge's low endpoint; closure via semi-join — O(m^1.5) "
         "wedge volume)", webgraph.q_host_triangles(spark, SF_DIR)),
    ])

    from pdf_extractor_spark.queries import training
    sections.extend([
        ("Budget selection, adaptive boundary (histogram snapshot "
         "classifies score buckets wholesale; normal corpus takes the "
         "within-score window — the hot-score adversary takes the "
         "doc_id-bucketed hierarchy instead, see BENCH/BASELINE.md)",
         training.q_select_to_budget(spark, SF_DIR)),
        ("C4 blocklist filter (doc-local array membership — zero "
         "shuffle, scan reads doc_id+text only)",
         training.q_badwords_filter(spark, SF_DIR)),
        ("Host-reputation rollup (one partial-agged host exchange; "
         "host table broadcasts back — docs never shuffle by host)",
         training.q_host_reputation(spark, SF_DIR)),
        ("PMI collocations over the checkpointed bigram snapshot "
         "(marginals/total broadcast; TakeOrderedAndProject top-k; "
         "zero parquet scans above the snapshot)",
         search.q_pmi_collocations(spark, SF_DIR)),
        ("Sequence-pack manifest (hierarchical offsets; doc-local "
         "explode onto overlapped sequences; seq_id partial agg)",
         curation.q_pack_manifest(spark, SF_DIR)),
    ])

    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "PLANS.md")
    with open(out, "w") as f:
        f.write("# Physical plans — headline queries\n\n"
                "Generated by tools/dump_plans.py (`.explain(\"formatted\")`"
                " at sf0.001). The properties shown here are pinned by "
                "tests/test_plans.py and tests/test_bucketing.py.\n")
        for title, df in sections:
            f.write(f"\n## {title}\n\n```\n{plan_of(df)}\n```\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
