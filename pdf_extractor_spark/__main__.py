"""CLI parity with the reference's console entry (src/cli.py:385-424,
src/__main__.py) — re-shaped for a table-in/table-out engine: instead
of one PDF at a time, each command runs over a pages/documents table.

  python -m pdf_extractor_spark extract  --input PATH --output PATH
      [--input-format parquet|warc] [--partitions N]
      [--levels raw,lines,chapters,processed,markdown] [--with-quality]
  python -m pdf_extractor_spark validate --input PATH --output PATH
  python -m pdf_extractor_spark validate-md --input PATH --output PATH
      [--text-col COL]   (reference: validate_markdown_command,
      src/__main__.py:209-211 → per-error side-output table)
  python -m pdf_extractor_spark fix-md   --input PATH --output PATH
      [--text-col COL] [--min-confidence 0.9]   (reference:
      fix_errors_in_file, advanced_validator.py:980-1106)
  python -m pdf_extractor_spark extract-resumable --input PATH --output PATH
      [--snapshot-id N] [--batches B]   (checkpoint-resumable batches:
      re-run the same command to process only the remainder)
  python -m pdf_extractor_spark convert-md --input ENV_DIR --output MD_DIR
      [--format yaml|json] [--no-toc]   (reference: markdown_convert.py:
      15-119 recursive dir mode — scan envelope files, emit one .md per
      envelope; loader markdown_converter.py:525-540)
  python -m pdf_extractor_spark curate   --input PATH --output DIR
      [--host-cap K]   (web curation: canonical-URL recrawl collapse +
      per-host quota; writes DIR/kept + the per-capture DIR/audit)
  python -m pdf_extractor_spark select   --input PATH --output DIR
      (training-data selection: gopher composite verdict ∧ DSIR
      above-mean importance; writes DIR/kept + per-doc DIR/audit)
  python -m pdf_extractor_spark synth    --output PATH --docs N

`--input` accepts any parquet with the pages schema
(url, warc_ts, html, text, lang). Outputs are parquet directories.
"""

from __future__ import annotations

import argparse
import sys


def _spark(cpus: int | None):
    from .session import get_spark
    master = f"local[{cpus}]" if cpus else None
    return get_spark("pdf-extractor-spark-cli", master=master)


def cmd_extract(args) -> int:
    from pyspark.sql import functions as F

    from .pipeline.extract import (extract_pages, extract_pages_hybrid,
                                   repartition_salted)

    spark = _spark(args.cpus)
    if getattr(args, "input_format", "parquet") == "warc":
        from .sources.warc import read_warc
        pages = read_warc(spark, args.input)
    else:
        pages = spark.read.parquet(args.input)
    if args.partitions:
        pages = repartition_salted(pages, args.partitions)
    levels = tuple(args.levels.split(","))
    if args.jvm_text_lane and levels == ("raw",):
        out = extract_pages_hybrid(pages)
    elif args.jvm_text_lane and set(levels) == {"raw", "lines"}:
        from .pipeline.extract import extract_pages_lines_hybrid
        out = extract_pages_lines_hybrid(pages)
    else:
        out = extract_pages(pages, levels=levels)
    if getattr(args, "with_quality", False):
        # gopher signals + verdict as pure projections appended to the
        # SAME extraction scan — no second pass over the corpus
        from .queries.curation import with_quality
        out = with_quality(out)
    out.write.mode("overwrite").parquet(args.output)
    back = spark.read.parquet(args.output)
    n = back.count()
    fails = back.filter(F.col("failure_reason").isNotNull()).count()
    print(f"extracted {n} docs ({fails} failures) -> {args.output}")
    return 0


def cmd_validate(args) -> int:
    from typing import Iterator

    import pandas as pd

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.input)
    text_col = "text" if "text" in docs.columns else None
    if text_col is None:
        print("input has no text column", file=sys.stderr)
        return 2

    from .kernels import validator as kval

    schema = ("url string, valid boolean, n_issues int, "
              "total_words int, unknown_words int")
    key = "url" if "url" in docs.columns else docs.columns[0]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for k, text in zip(batch[key], batch[text_col]):
                r = kval.validate_text(text or "")
                m = r.get("metrics", {})
                rows.append({
                    "url": str(k), "valid": bool(r.get("valid", True)),
                    "n_issues": len(r.get("issues", [])),
                    "total_words": int(m.get("total_words", 0)),
                    "unknown_words": int(m.get("unknown_words", 0)),
                })
            yield pd.DataFrame(rows)

    out = docs.select(key, text_col).mapInPandas(run, schema=schema)
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"validated {n} docs -> {args.output}")
    return 0


def _key_and_text(docs, text_col):
    if text_col not in docs.columns:
        return None, None
    key = "url" if "url" in docs.columns else "doc_id" \
        if "doc_id" in docs.columns else docs.columns[0]
    return key, text_col


def cmd_validate_md(args) -> int:
    """Markdown diagnostics side-output (the validate-md surface): one
    mapInPandas over kernels.mdvalidator.validate_markdown, per-error
    rows out."""
    from typing import Iterator

    import pandas as pd

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.input)
    key, text_col = _key_and_text(docs, args.text_col)
    if key is None:
        print(f"input has no {args.text_col} column", file=sys.stderr)
        return 2

    schema = ("key string, line_num int, column int, text string, "
              "suggestion string, confidence double, error_type string")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .kernels.mdvalidator import validate_markdown
        for batch in batches:
            rows = []
            for k, content in zip(batch[key], batch[text_col]):
                for e in validate_markdown(content or ""):
                    rows.append((str(k), e["line_num"], e["column"],
                                 e["text"], e["suggestion"],
                                 e["confidence"], e["error_type"]))
            yield pd.DataFrame(rows, columns=[
                "key", "line_num", "column", "text", "suggestion",
                "confidence", "error_type"])

    out = docs.select(key, text_col).mapInPandas(run, schema=schema)
    out.write.mode("overwrite").parquet(args.output)
    back = spark.read.parquet(args.output)
    from pyspark.sql import functions as F
    n = back.count()
    by_type = {r.error_type: r.n for r in
               back.groupBy("error_type")
               .agg(F.count("*").alias("n")).collect()}
    print(f"found {n} errors -> {args.output} ({by_type})")
    return 0


def cmd_fix_md(args) -> int:
    """Auto-fix pass (fix-md surface): per-doc fix_errors, corrected
    text + accounting out."""
    from typing import Iterator

    import pandas as pd

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.input)
    key, text_col = _key_and_text(docs, args.text_col)
    if key is None:
        print(f"input has no {args.text_col} column", file=sys.stderr)
        return 2
    min_conf = args.min_confidence

    schema = ("key string, fixed_text string, n_fixes_found int, "
              "n_fixes_applied int")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .kernels.advvalidator import fix_errors
        for batch in batches:
            rows = []
            for k, content in zip(batch[key], batch[text_col]):
                fixed, n_applied, fixes = fix_errors(
                    content or "", min_confidence=min_conf)
                rows.append((str(k), fixed, len(fixes), n_applied))
            yield pd.DataFrame(rows, columns=[
                "key", "fixed_text", "n_fixes_found", "n_fixes_applied"])

    out = docs.select(key, text_col).mapInPandas(run, schema=schema)
    out.write.mode("overwrite").parquet(args.output)
    back = spark.read.parquet(args.output)
    from pyspark.sql import functions as F
    agg = back.agg(F.count("*").alias("docs"),
                   F.sum("n_fixes_applied").alias("applied")).collect()[0]
    print(f"fixed {agg.applied} issues across {agg.docs} docs "
          f"-> {args.output}")
    return 0


def cmd_extract_resumable(args) -> int:
    """Checkpoint-resumable extraction (pipeline.lineage): deterministic
    url-hash batches, per-batch idempotent overwrite, lineage counts +
    failures table; re-running the same command processes only the
    remaining batches."""
    from pyspark.sql import functions as F

    from .pipeline import lineage as lin

    spark = _spark(args.cpus)
    pages = spark.read.parquet(args.input)
    levels = tuple(args.levels.split(","))
    ran = lin.run_resumable(spark, pages, args.output,
                            snapshot_id=args.snapshot_id,
                            num_batches=args.batches, levels=levels)
    lineage = lin.read_lineage(spark, args.output)
    agg = lineage.agg(F.sum("rows_out").alias("ok"),
                      F.sum("failure_count").alias("fails")).collect()[0]
    print(f"ran batches {ran} (snapshot {args.snapshot_id}); "
          f"output now {agg.ok} rows, {agg.fails} failures "
          f"-> {args.output}")
    return 0


def cmd_convert_md(args) -> int:
    """Envelope directory → one ``.md`` file per envelope (the
    reference's second CLI mode, markdown_convert.py:15-119, recursive
    dir scan :73-98). The scan is a parallel binaryFile source
    (sinks.read_envelopes); conversion + write run executor-side with
    the same shared-filesystem contract as save_envelopes."""
    import json
    import os

    from .pipeline.sinks import read_envelopes

    spark = _spark(args.cpus)
    envelopes = read_envelopes(spark, args.input, fmt=args.format)
    target = args.output
    toc = not args.no_toc
    os.makedirs(target, exist_ok=True)

    def write_partition(it) -> None:
        from .kernels.markdown import convert_to_markdown
        os.makedirs(target, exist_ok=True)  # executor-local view
        for row in it:
            env = {"filename": row.filename,
                   "output_type": row.output_type,
                   "extraction_date": row.extraction_date,
                   "content": json.loads(row.content_json)}
            stem = os.path.basename(row.path).rsplit(".", 1)[0]
            md = convert_to_markdown(env, toc=toc)
            with open(os.path.join(target, f"{stem}.md"), "w",
                      encoding="utf-8") as f:
                f.write(md)

    envelopes.foreachPartition(write_partition)
    n = envelopes.count()
    print(f"converted {n} envelopes -> {target}")
    return 0


def cmd_curate(args) -> int:
    from pyspark.sql import functions as F

    from .queries.webcur import curate_pages

    spark = _spark(args.cpus)
    pages = spark.read.parquet(args.input)
    audit = curate_pages(pages, cap=args.host_cap)
    audit.write.mode("overwrite").parquet(f"{args.output}/audit")
    audit_back = spark.read.parquet(f"{args.output}/audit")
    # The audit is per-CAPTURE (url, warc_ts) — a recrawled url has one
    # row per capture with possibly different verdicts, so the kept
    # corpus must semi-join on BOTH keys. Joining on url alone leaked
    # every unchanged_recrawl/host_quota capture of any url that had at
    # least one kept capture (ADVICE r03, high).
    kept_keys = audit_back.filter(F.col("verdict") == "kept") \
        .select("url", "warc_ts")
    (pages.join(kept_keys, ["url", "warc_ts"], "left_semi")
     .write.mode("overwrite").parquet(f"{args.output}/kept"))
    counts = {r["verdict"]: r["n"] for r in
              audit_back.groupBy("verdict")
              .agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    print(f"curated {total} captures -> {args.output}: " +
          ", ".join(f"{k}={v}" for k, v in sorted(counts.items())))
    return 0


def cmd_select(args) -> int:
    """documents table → training-data selection: gopher composite
    verdict ∧ DSIR importance selection, kept corpus + per-doc audit.
    The scoring passes are doc-local folds composed in ONE scan of the
    input (the fusion shape measured in BENCH/BASELINE.md)."""
    from pyspark.sql import functions as F

    from .queries.curation import (DSIR_BUCKETS, _W_EXPR, dsir_train,
                                   with_quality)

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.input)
    llr = dsir_train(docs).localCheckpoint()
    # BOTH signals are doc-local (gopher = array folds, DSIR = a fold
    # against the broadcast bucket map), so they land in ONE
    # projection of one scan — the first cut materialized each as its
    # own table and joined them back on doc_id, a full-corpus shuffle
    # for rows that were never apart (the quality_confusion rule).
    wmap = llr.agg(F.map_from_entries(
        F.collect_list(F.struct("b", "llr_u"))).alias("m"))
    scored = (with_quality(docs.select("doc_id", "text"))
              .crossJoin(F.broadcast(wmap))
              .withColumn("ws", F.expr(_W_EXPR))
              .select("doc_id", "verdict",
                      F.size("ws").cast("long").alias("n_tokens"),
                      F.expr(
                          "aggregate(ws, cast(0 as bigint), (acc, x) ->"
                          " acc + coalesce(element_at(m,"
                          " cast(conv(substring(md5(x), 1, 14), 16, 10)"
                          f" as bigint) % {DSIR_BUCKETS}), 0L))")
                      .alias("dsir_u")))
    # DSIR selection = above the corpus-mean weight (division-free
    # integer comparison; see q_dsir_weights)
    stats = scored.agg(F.sum("dsir_u").alias("s"),
                       F.count("*").alias("n"))
    audit = (scored.crossJoin(F.broadcast(stats))
             .select("doc_id", "verdict", "n_tokens", "dsir_u",
                     (F.col("dsir_u") * F.col("n") > F.col("s"))
                     .alias("selected"))
             .withColumn("kept", (F.col("verdict") == "kept")
                         & F.col("selected")))
    audit.write.mode("overwrite").parquet(f"{args.output}/audit")
    audit_back = spark.read.parquet(f"{args.output}/audit")
    kept_ids = audit_back.filter("kept").select("doc_id")
    (docs.join(kept_ids, "doc_id", "left_semi")
     .write.mode("overwrite").parquet(f"{args.output}/kept"))
    counts = {(r["verdict"], r["selected"]): r["n"] for r in
              audit_back.groupBy("verdict", "selected")
              .agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    kept = sum(n for (v, s), n in counts.items()
               if v == "kept" and s)
    print(f"selected {kept}/{total} docs -> {args.output}: " +
          ", ".join(f"{v}/dsir={s}: {n}"
                    for (v, s), n in sorted(counts.items())))
    return 0


def cmd_assemble(args) -> int:
    """documents table → training-ready artifacts, the last mile after
    curation: the composed chain's assemble stage
    (``pipeline.compose.assemble``) — budget-capped quality selection →
    sequence packing of the kept docs → per-sequence loader manifest →
    export-shard manifest."""
    from .pipeline.compose import assemble
    from .queries.curation import SEQ_LEN

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.input)
    rows = assemble(spark, docs, args.output, budget=args.budget).rows
    print(f"assembled {rows['kept']}/{docs.count()} docs -> {args.output}: "
          f"{rows['seq_manifest']} sequences of {SEQ_LEN} tokens, "
          f"{rows['shards']} export shards")
    return 0


def cmd_synth(args) -> int:
    from .sources.pages import synth_pages_df

    spark = _spark(args.cpus)
    synth_pages_df(spark, n=args.docs, seed=args.seed,
                   skew_frac=args.skew).write.mode("overwrite") \
        .parquet(args.output)
    print(f"wrote {args.docs} synthetic pages -> {args.output}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="pdf_extractor_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("extract", help="pages table -> extracted levels")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--with-quality", action="store_true",
                   help="append gopher quality signals + verdict "
                        "columns in the same scan")
    p.add_argument("--input-format", choices=["parquet", "warc"],
                   default="parquet",
                   help="warc: --input is a dir of .warc/.warc.gz "
                        "crawl container files")
    p.add_argument("--levels", default="raw")
    p.add_argument("--partitions", type=int, default=0)
    p.add_argument("--jvm-text-lane", action="store_true",
                   help="raw or raw,lines levels: route payload-less "
                        "rows through the pure-JVM expression lane "
                        "(lines level emits typed lines/stats columns)")
    p.add_argument("--cpus", type=int, default=None)
    p.set_defaults(fn=cmd_extract)

    p = sub.add_parser("validate", help="text table -> diagnostics table")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--cpus", type=int, default=None)
    p.set_defaults(fn=cmd_validate)

    p = sub.add_parser("validate-md",
                       help="markdown table -> per-error side-output")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--text-col", default="text")
    p.add_argument("--cpus", type=int, default=None)
    p.set_defaults(fn=cmd_validate_md)

    p = sub.add_parser("fix-md",
                       help="markdown table -> auto-fixed text table")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--text-col", default="text")
    p.add_argument("--min-confidence", type=float, default=0.9)
    p.add_argument("--cpus", type=int, default=None)
    p.set_defaults(fn=cmd_fix_md)

    p = sub.add_parser("extract-resumable",
                       help="pages table -> batched output with "
                            "checkpoint/lineage; re-run to resume")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--levels", default="raw")
    p.add_argument("--snapshot-id", type=int, default=0)
    p.add_argument("--batches", type=int, default=8)
    p.add_argument("--cpus", type=int, default=None)
    p.set_defaults(fn=cmd_extract_resumable)

    p = sub.add_parser("convert-md",
                       help="envelope dir -> one .md file per envelope")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--format", choices=["yaml", "json"], default="yaml")
    p.add_argument("--no-toc", action="store_true")
    p.add_argument("--cpus", type=int, default=None)
    p.set_defaults(fn=cmd_convert_md)

    p = sub.add_parser("curate",
                       help="pages table -> kept corpus + per-capture "
                            "audit (canonicalize, recrawl collapse, "
                            "host quota)")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--host-cap", type=int, default=10)
    p.add_argument("--cpus", type=int, default=None)
    p.set_defaults(fn=cmd_curate)

    p = sub.add_parser("select",
                       help="documents table -> training selection "
                            "(gopher verdict AND DSIR weight), kept "
                            "corpus + per-doc audit")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--cpus", type=int, default=None)
    p.set_defaults(fn=cmd_select)

    p = sub.add_parser("assemble",
                       help="documents table -> training-ready pack: "
                            "budget selection, sequence packing, "
                            "loader + shard manifests")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--budget", type=int, default=10_000,
                   help="token budget for the greedy quality fill")
    p.add_argument("--cpus", type=int, default=None)
    p.set_defaults(fn=cmd_assemble)

    p = sub.add_parser("synth", help="write a deterministic pages corpus")
    p.add_argument("--output", required=True)
    p.add_argument("--docs", type=int, default=1000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--skew", type=float, default=0.3)
    p.add_argument("--cpus", type=int, default=None)
    p.set_defaults(fn=cmd_synth)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
