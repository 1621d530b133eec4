"""The composed 100-TB-rehearsal job: raw WARC bytes → training shards.

ONE driver program chaining every major stage of the engine, each stage
reading the previous stage's materialized table (the resume boundaries)
and writing its own:

  read_warc → land (pages table, partitioned by batch)
    → extract (resumable lineage batches, `pipeline/lineage.py`)
    → documents table (doc_id = xxhash64(url))
    → dedup verdicts → kept
    → curation verdicts → kept
    → assemble: budget selection → sequence packing → loader + shard
      manifests

Commit protocol: commit metadata stays on the driver, so the chain's
Spark jobs only move data. A stage commits by writing ``_done_<stage>``,
a JSON record of

- ``params``: the chain parameters (``num_batches``, ``levels``,
  ``budget``);
- ``rows``: rows written per output table, taken from ``Observation``
  metrics on the stage's own write jobs (land records its page and
  payload counts, extract its lineage totals) — no table is re-read to
  count it;
- ``schemas``: per output table, the schema a parquet read of it
  reports (``StructType.jsonValue``): every field nullable, the
  partition column ``batch`` last for ``pages`` and extract's ``data``;
- ``wall_s``: the stage's wall seconds.

Every read of a committed table, and every read-back of a table a stage
just wrote, goes through ``spark.read.schema`` with the recorded
schema, so no read runs a schema-inference job; a record without
``schemas`` (an older job dir) cannot be resumed, and the error names
the stage. Inside extract, each batch's lineage and checkpoint rows are
driver-side commits as well (``pipeline/lineage.py``), read back on the
driver. The record is the LAST file a stage writes (renamed into place,
so it is complete or absent); perfbench/layers.py times stages by its
mtime. The chain's summary is read from the records alone. Each stage
body runs under the Spark job group ``<stage>``.

Restart semantics, end-to-end rather than per-stage (VERDICT r04 #4):

- inside the extract stage, `run_resumable` resumes at batch
  granularity (deterministic pmod(xxhash64(url)) membership, checkpoint
  row only after the batch's data lands, idempotent per-batch rewrite);
- between stages, the record commits each stage AFTER its
  overwrite-mode writes finish — a crash between write and record
  re-runs the stage, whose overwrite is idempotent, so the composed
  output is exactly-once under a kill at ANY point in the chain
  (tests/test_rehearsal_chain.py kills at three);
- a resume whose parameters differ from a committed stage's record
  raises ValueError naming the field before any work runs: a changed
  ``num_batches`` would otherwise silently drop partitions.

Every stage body is a registry body without its presentation sort
(`lsh_edges` + `propagate_min_labels`, `curation_verdicts`,
`budget_select`, `pack_offsets`, `pack_manifest_body`,
`shard_manifest`); this module adds only composition + commit
protocol. At cluster scale the records are Iceberg snapshot commits
and the per-stage parquet dirs are tables; the control flow is
unchanged.
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import Callable, Dict, Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..queries.curation import SEQ_LEN, _W_EXPR, pack_manifest_body, pack_offsets
from ..queries.dedup import CLUSTER_ROUNDS, lsh_edges, propagate_min_labels
from ..queries.textstats import curation_verdicts
from ..queries.training import TOKEN_BUDGET, budget_select, shard_manifest
from ..sources.warc import read_warc
from .extract import (extract_pages, extract_pages_hybrid,
                      extract_pages_text_jvm)
from .lineage import completed_batches, lineage_totals, run_resumable

SNAPSHOT_ID = 1  # one immutable input snapshot per job directory


class InjectedCrash(RuntimeError):
    """Raised at a configured crash point (kill/restart testing)."""


def _record_path(job_dir: str, stage: str) -> str:
    return os.path.join(job_dir, f"_done_{stage}")


def read_record(job_dir: str, stage: str) -> Optional[dict]:
    """The stage's commit record, or None if the stage is uncommitted."""
    try:
        with open(_record_path(job_dir, stage)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _commit(job_dir: str, stage: str, record: dict) -> None:
    path = _record_path(job_dir, stage)
    with open(path + ".tmp", "w") as fh:
        json.dump(record, fh, sort_keys=True)
    os.replace(path + ".tmp", path)


def _stored_schema(schema: StructType) -> StructType:
    """The schema a parquet read reports for a table written from a
    frame of ``schema``: every field nullable (the chain's tables are
    flat). A partitioned write must put its partition column last, where
    a read reports it."""
    return StructType([StructField(f.name, f.dataType, True, f.metadata)
                       for f in schema.fields])


class Tables:
    """The tables one stage writes: the record's ``rows`` and
    ``schemas``."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.rows: Dict[str, int] = {}
        self.schemas: Dict[str, StructType] = {}
        self._paths: Dict[str, str] = {}

    def write(self, table: str, df: DataFrame, path: str) -> None:
        """Overwrite-write ``df`` to ``path`` as ``table``, counting its
        rows on the write job itself (no count job)."""
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")) \
            .write.mode("overwrite").parquet(path)
        self.rows[table] = int(obs.get["n"])
        self.schemas[table] = _stored_schema(df.schema)
        self._paths[table] = path

    def read(self, table: str) -> DataFrame:
        """The written ``table`` read back through its recorded schema."""
        return self.spark.read.schema(self.schemas[table]) \
            .parquet(self._paths[table])


def dedup_verdicts_exact_first(spark: SparkSession, docs: DataFrame,
                               scratch_dir: str) -> DataFrame:
    """``q_dedup_pipeline`` verdicts computed exact-FIRST: MinHash/LSH
    runs on exact keepers only, verdicts expand back over the exact-dup
    map. Value-identical to the registry query over all docs (pinned by
    tests/test_rehearsal_chain.py::test_exact_first_matches_registry):
    identical text ⇒ identical signatures ⇒ a dup occupies exactly its
    keeper's buckets; a bucket's min doc_id is always a keeper (any
    dup's keeper has a smaller id and the same bucket), so the star
    edges between keepers — hence components and their minima, which
    are always keepers — are unchanged, round for round. Signature cost
    becomes proportional to UNIQUE docs, not the crawl.

    Keepers are unique by text, so their verdict needs only the LSH
    edges and the propagated labels (``near_dup`` when the component
    minimum is another doc) — no second exact pass and no sort.

    ``scratch_dir`` materializes the keepers table; overwrite-idempotent."""
    from pyspark.sql import Window
    # NOTE: an eager localCheckpoint of `exact` was A/B'd at 2M docs
    # and REVERTED — it measured slower at both core counts (dedup
    # stage 161→220s at local[4], 70→87s at local[16]): the
    # materialization pass costs a full scan+window of its own, and
    # the two lazy consumers' scans overlap the page cache anyway.
    exact = (docs.select("doc_id", F.md5("text").alias("th"))
             .withColumn("ek", F.min("doc_id")
                         .over(Window.partitionBy("th")))
             .select("doc_id", "ek"))
    scratch = Tables(spark)
    scratch.write("keepers",
                  docs.join(exact.filter(F.col("doc_id") == F.col("ek"))
                            .select("doc_id"), "doc_id", "left_semi"),
                  os.path.join(scratch_dir, "documents.parquet"))
    keepers = scratch.read("keepers")
    labels, _ran = propagate_min_labels(
        keepers.select("doc_id"),
        lsh_edges(keepers).select("doc_a", "doc_b"),
        rounds=CLUSTER_ROUNDS)
    kv = labels.select(F.col("doc_id").alias("ek"),
                       F.col("label").alias("kr"))
    is_dup = F.col("doc_id") != F.col("ek")
    return (exact.join(kv, "ek")
            .select("doc_id",
                    F.when(is_dup, F.lit("exact_dup"))
                    .when(F.col("kr") != F.col("ek"), F.lit("near_dup"))
                    .otherwise(F.lit("kept")).alias("verdict"),
                    F.when(is_dup, F.col("ek"))
                    .otherwise(F.col("kr")).alias("representative")))


def assemble(spark: SparkSession, docs: DataFrame, out_dir: str,
             budget: int = TOKEN_BUDGET) -> Tables:
    """documents → training-ready artifacts under ``out_dir``, the last
    mile after curation: budget-capped quality selection (``audit``) →
    the kept corpus (``kept``, a semi-join write) → sequence packing of
    the kept docs (``pack``, hierarchical prefix sum) → per-sequence
    loader manifest (``seq_manifest``) → export-shard manifest
    (``shards``). The manifest reads the offsets back from the pack
    table instead of recomputing the prefix sum. Returns the tables
    written (rows and schema per table)."""
    def path(table: str) -> str:
        return os.path.join(out_dir, table)

    out = Tables(spark)
    out.write("audit", budget_select(docs, budget=budget), path("audit"))
    kept_ids = out.read("audit").filter("kept").select("doc_id")
    out.write("kept", docs.join(kept_ids, "doc_id", "left_semi"),
              path("kept"))
    kept = out.read("kept")
    tok = kept.select(
        "doc_id", F.expr(f"CAST(size({_W_EXPR}) AS BIGINT)")
        .alias("n_tokens"))
    out.write("pack", pack_offsets(tok).select(
        "doc_id", "n_tokens", "start_offset",
        F.expr(f"start_offset div {SEQ_LEN}").alias("seq_id")),
        path("pack"))
    out.write("seq_manifest",
              pack_manifest_body(out.read("pack")),
              path("seq_manifest"))
    out.write("shards", shard_manifest(kept), path("shards"))
    return out


def _docs_table(df: DataFrame) -> DataFrame:
    """Extracted rows → the canonical documents-table shape. doc_id is
    a pure function of the url so a re-run (or a re-extracted batch)
    assigns identical ids — the property every downstream keyed stage
    and the exactly-once claim rest on."""
    return (df.filter(F.col("failure_reason").isNull())
            .select(F.xxhash64("url").alias("doc_id"),
                    "text", "lang",
                    F.col("doctype").alias("source"),
                    F.col("n_chars").cast("long").alias("n_chars")))


def run_rehearsal(spark: SparkSession, warc_dir: str, job_dir: str,
                  *, budget: int = TOKEN_BUDGET, num_batches: int = 16,
                  levels: Sequence[str] = ("raw",),
                  crash_after_extract_batches: Optional[int] = None,
                  crash_after_stage: Optional[str] = None) -> dict:
    """Run (or resume) the composed chain; returns the summary counts,
    read from the stage records.

    ``crash_after_extract_batches=k`` processes k remaining extract
    batches then raises InjectedCrash (mid-stage kill);
    ``crash_after_stage="dedup"`` raises right after that stage's
    writes land but BEFORE its commit record (the worst-case point:
    the restart must redo the stage idempotently). Resuming a job dir
    with a different ``budget``, ``num_batches`` or ``levels`` raises
    ValueError.
    """
    os.makedirs(job_dir, exist_ok=True)
    params = {"budget": budget, "num_batches": num_batches,
              "levels": list(levels)}
    records: Dict[str, dict] = {}
    sc = spark.sparkContext

    def stage(name: str, body: Callable[[Tables], None]) -> None:
        """Run ``body`` (overwrite-writes into the ``Tables`` it is
        given) under the job group ``name`` and commit its record,
        unless a record already commits the stage."""
        rec = read_record(job_dir, name)
        if rec is not None:
            for field, value in params.items():
                if rec["params"].get(field) != value:
                    raise ValueError(
                        f"cannot resume {job_dir} with {field}={value!r}: "
                        f"stage {name!r} was committed with "
                        f"{field}={rec['params'].get(field)!r}")
            if "schemas" not in rec:
                raise ValueError(
                    f"cannot resume {job_dir}: the record of stage "
                    f"{name!r} has no table schemas (written by an older "
                    f"version); start a fresh job directory")
        else:
            t0 = time.time()
            out = Tables(spark)
            sc.setJobGroup(name, f"compose stage {name}")
            try:
                body(out)
            finally:
                for key in ("spark.jobGroup.id", "spark.job.description",
                            "spark.job.interruptOnCancel"):
                    sc.setLocalProperty(key, None)
            if crash_after_stage == name:
                raise InjectedCrash(f"post-{name} pre-commit crash point")
            rec = {"stage": name, "params": params, "rows": out.rows,
                   "schemas": {t: s.jsonValue()
                               for t, s in out.schemas.items()},
                   "wall_s": round(time.time() - t0, 3)}
            _commit(job_dir, name, rec)
            print(f"stage {name}: {rec['wall_s']:.1f}s",
                  file=sys.stderr, flush=True)
        records[name] = rec

    def read(name: str, table: str, path: str) -> DataFrame:
        """Committed ``table`` of stage ``name``, read through its
        recorded schema."""
        schema = StructType.fromJson(records[name]["schemas"][table])
        return spark.read.schema(schema).parquet(path)

    # --- stage 0: land the parsed pages table ONCE. The extract stage's
    # batch-resume re-scans its source per batch; against raw WARC bytes
    # every re-scan would re-gunzip and re-frame the whole crawl in
    # Python, so the crawl is parsed exactly once into columnar form and
    # the per-batch predicate then rides a pruned parquet scan — the
    # CC-WARC → Iceberg ingest step a 100 TB deployment runs anyway.
    # The landing is PARTITIONED by the deterministic batch id, so each
    # resumable extract batch prunes to its own directory instead of
    # re-scanning the payload-heavy table num_batches times (at 2M docs
    # the unpartitioned form re-read ~4 GB per batch).
    pages_path = os.path.join(job_dir, "pages.parquet")

    def mk_land(out: Tables) -> None:
        obs = Observation()
        landed = read_warc(spark, warc_dir).withColumn(
            "batch", F.pmod(F.xxhash64("url"),
                            F.lit(num_batches)).cast("int"))
        (landed.observe(obs, F.count(F.lit(1)).alias("pages"),
                        F.count(F.when(F.length("html") > 0, 1))
                        .alias("payload"))
         .write.mode("overwrite").partitionBy("batch")
         .parquet(pages_path))
        out.rows = {k: int(v) for k, v in obs.get.items()}
        out.schemas["pages"] = _stored_schema(landed.schema)  # batch last
    stage("land", mk_land)

    # --- stage 1: pages → extracted rows (batch-resumable). Raw level
    # takes the hybrid extractor: pre-extracted-text records stay on
    # the pure-JVM lane, payload records pay the Python kernels. When
    # the landing holds no payload row at all, the Python lane is left
    # out of the plan instead of planning (and running) it empty.
    extract_dir = os.path.join(job_dir, "extract")
    data_path = os.path.join(extract_dir, "data")

    def mk_extract(out: Tables) -> None:
        extractor = None
        if tuple(levels) == ("raw",):
            extractor = (extract_pages_text_jvm
                         if records["land"]["rows"]["payload"] == 0
                         else extract_pages_hybrid)
        pages = read("land", "pages", pages_path)
        run_resumable(spark, pages, extract_dir, SNAPSHOT_ID,
                      num_batches=num_batches, levels=tuple(levels),
                      max_batches=crash_after_extract_batches,
                      extractor=extractor, batch_col="batch")
        if crash_after_extract_batches is not None and len(
                completed_batches(spark, extract_dir,
                                  SNAPSHOT_ID)) < num_batches:
            raise InjectedCrash("mid-extract crash point")
        lin = lineage_totals(extract_dir)
        out.rows = {"rows_in": lin["rows_in"], "data": lin["rows_out"],
                    "failures": lin["failure_count"]}
        # Each batch writes the extractor's columns under data/batch=<id>.
        # Every extractor returns extract_pages' columns, whose declared
        # schema analyzes in ~25 ms against ~130 ms for the JVM lane.
        out.schemas["data"] = _stored_schema(
            extract_pages(pages.drop("batch"), levels=tuple(levels))
            .schema.add(pages.schema["batch"]))
    stage("extract", mk_extract)

    # --- stage 2: documents table ---------------------------------------
    t1 = os.path.join(job_dir, "t1", "documents.parquet")
    stage("documents", lambda out: out.write(
        "documents", _docs_table(read("extract", "data", data_path)), t1))

    # --- stage 3: dedup verdicts → kept (exact-first, the FineWeb
    # stage order — see dedup_verdicts_exact_first) -----------------------
    t2 = os.path.join(job_dir, "t2", "documents.parquet")

    def mk_dedup(out: Tables) -> None:
        keepers_dir = os.path.join(job_dir, "t1_keepers")
        docs = read("documents", "documents", t1)
        out.write("dedup_verdicts",
                  dedup_verdicts_exact_first(spark, docs, keepers_dir),
                  os.path.join(job_dir, "dedup_verdicts"))
        kept = out.read("dedup_verdicts") \
            .filter(F.col("verdict") == "kept").select("doc_id")
        # kept ⊆ exact keepers, so the survivor corpus semi-joins the
        # (small) keepers table — never a third scan of the full docs.
        # The keepers are a semi-join of docs: docs' schema.
        keepers = spark.read.schema(docs.schema).parquet(
            os.path.join(keepers_dir, "documents.parquet"))
        out.write("documents", keepers.join(kept, "doc_id", "left_semi"),
                  t2)
    stage("dedup", mk_dedup)

    # --- stage 4: curation verdicts → kept -------------------------------
    t3 = os.path.join(job_dir, "t3", "documents.parquet")

    def mk_curation(out: Tables) -> None:
        docs = read("dedup", "documents", t2)
        out.write("curation_verdicts", curation_verdicts(docs),
                  os.path.join(job_dir, "curation_verdicts"))
        kept = out.read("curation_verdicts") \
            .filter(F.col("verdict") == "kept").select("doc_id")
        out.write("documents", docs.join(kept, "doc_id", "left_semi"), t3)
    stage("curation", mk_curation)

    # --- stage 5: budget selection → packing → manifests -----------------
    def mk_assemble(out: Tables) -> None:
        written = assemble(spark, read("curation", "documents", t3),
                           os.path.join(job_dir, "assemble"), budget=budget)
        out.rows, out.schemas = written.rows, written.schemas
    stage("assemble", mk_assemble)

    # --- summary: read from the stage records, no table re-read ---------
    ext, asm = records["extract"]["rows"], records["assemble"]["rows"]
    return {
        "rows_in": ext["rows_in"],
        "extracted_ok": ext["data"],
        "failures": ext["failures"],
        "after_dedup": records["dedup"]["rows"]["documents"],
        "after_curation": records["curation"]["rows"]["documents"],
        "selected": asm["kept"],
        "sequences": asm["seq_manifest"],
        "shards": asm["shards"],
    }
