"""End-to-end kill/restart proof for the composed rehearsal chain.

VERDICT r04 #4: the per-stage resume paths (lineage batches, idempotent
overwrites) were each tested alone; this test kills the COMPOSED
raw-WARC → shards chain at three distinct points — mid-extract (batch
granularity), post-dedup-pre-commit (the torn-stage worst case, writes
landed but no marker), and clean-resume — then asserts the final
artifacts are value-identical to an uninterrupted run on the same
corpus and that lineage counted every input row exactly once.
"""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pdf_extractor_spark.pipeline.compose import (InjectedCrash,
                                                  SNAPSHOT_ID,
                                                  read_record,
                                                  run_rehearsal)
from pdf_extractor_spark.pipeline.lineage import (completed_batches,
                                                  read_lineage)
from pdf_extractor_spark.sources.warc import write_warc_files

N_DOCS = 240
N_BATCHES = 6
BUDGET = 5_000  # tokens — small enough that selection actually rejects


@pytest.fixture(scope="module")
def warc_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("rehearsal_warc"))
    written = write_warc_files(d, N_DOCS, n_files=4, compress=True)
    assert written == N_DOCS
    return d


def _table_values(spark, path):
    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


FINAL_TABLES = ("dedup_verdicts", "curation_verdicts", "assemble/audit",
                "assemble/pack", "assemble/seq_manifest", "assemble/shards",
                "assemble/kept")

# every table a stage commits, by the name its record uses
COMMITTED = {
    "land": {"pages": "pages.parquet"},
    "extract": {"data": "extract/data"},
    "documents": {"documents": "t1/documents.parquet"},
    "dedup": {"dedup_verdicts": "dedup_verdicts",
              "documents": "t2/documents.parquet"},
    "curation": {"curation_verdicts": "curation_verdicts",
                 "documents": "t3/documents.parquet"},
    "assemble": {t: f"assemble/{t}" for t in (
        "audit", "kept", "pack", "seq_manifest", "shards")},
}


@pytest.fixture(scope="module")
def clean_run(spark, warc_dir, tmp_path_factory):
    """One clean chain: its job dir and the Spark job ids each stage
    ran under its job group."""
    job = str(tmp_path_factory.mktemp("clean_run"))
    tracker = spark.sparkContext.statusTracker()
    before = {s: set(tracker.getJobIdsForGroup(s)) for s in COMMITTED}
    run_rehearsal(spark, warc_dir, job, budget=BUDGET,
                  num_batches=N_BATCHES)
    return job, {s: set(tracker.getJobIdsForGroup(s)) - before[s]
                 for s in COMMITTED}


class TestRehearsalKillRestart:
    def test_killed_chain_matches_clean_run(self, spark, warc_dir,
                                            tmp_path):
        clean_dir = str(tmp_path / "clean")
        crash_dir = str(tmp_path / "crash")

        clean = run_rehearsal(spark, warc_dir, clean_dir, budget=BUDGET,
                              num_batches=N_BATCHES)

        # Kill 1: mid-extract after 2 of 6 batches.
        with pytest.raises(InjectedCrash):
            run_rehearsal(spark, warc_dir, crash_dir, budget=BUDGET,
                          num_batches=N_BATCHES,
                          crash_after_extract_batches=2)
        done = completed_batches(spark, os.path.join(crash_dir, "extract"),
                                 SNAPSHOT_ID)
        assert len(done) == 2

        # Kill 2: dedup stage's writes landed but its commit marker did
        # not — the restart must redo the stage idempotently.
        with pytest.raises(InjectedCrash):
            run_rehearsal(spark, warc_dir, crash_dir, budget=BUDGET,
                          num_batches=N_BATCHES, crash_after_stage="dedup")
        assert os.path.exists(os.path.join(crash_dir, "dedup_verdicts"))
        assert not os.path.exists(os.path.join(crash_dir, "_done_dedup"))

        # Final resume: completes the remainder only.
        crashed = run_rehearsal(spark, warc_dir, crash_dir, budget=BUDGET,
                                num_batches=N_BATCHES)

        assert crashed == clean
        for rel in FINAL_TABLES:
            assert _table_values(
                spark, os.path.join(crash_dir, rel)) == _table_values(
                spark, os.path.join(clean_dir, rel)), rel

        # Exactly-once lineage across the kill/restart: every input row
        # counted once, every batch committed once.
        lin = read_lineage(spark, os.path.join(crash_dir, "extract"))
        assert lin.agg(F.sum("rows_in")).collect()[0][0] == N_DOCS
        per_batch = lin.groupBy("batch_id").count() \
            .filter("count > 1").count()
        assert per_batch == 0
        assert sorted(completed_batches(
            spark, os.path.join(crash_dir, "extract"),
            SNAPSHOT_ID)) == list(range(N_BATCHES))

    def test_exact_first_matches_registry(self, spark, tmp_path):
        """The chain's exact-first dedup (LSH over keepers only, then
        expansion over the exact-dup map) must be VALUE-identical to
        the registry q_dedup_pipeline over all docs — the closure
        argument in dedup_verdicts_exact_first's docstring, pinned on a
        corpus with exact-dup groups, near-dup families, and exact dups
        OF near-dups."""
        import pandas as pd

        from pdf_extractor_spark.pipeline.compose import \
            dedup_verdicts_exact_first
        from pdf_extractor_spark.queries.dedup import q_dedup_pipeline

        base = ("the quick brown fox jumps over the lazy dog and then "
                "wanders home through the quiet evening fields")
        rows = []
        for i in range(40):
            fam = i % 4
            # 4 near-dup families; within each, ids i, i+4, ... carry
            # slightly varied text; every third member is an EXACT copy
            # of the family's first variant
            variant = (base + f" family {fam}"
                       + ("" if i % 3 == 0 else f" variant {i // 4}"))
            rows.append({"doc_id": i, "text": variant, "lang": "en",
                         "source": "t", "n_chars": len(variant)})
        sf = str(tmp_path / "sf")
        docs = spark.createDataFrame(pd.DataFrame(rows))
        docs.write.parquet(f"{sf}/documents.parquet")
        docs_back = spark.read.parquet(f"{sf}/documents.parquet")

        got = sorted(tuple(r) for r in dedup_verdicts_exact_first(
            spark, docs_back, str(tmp_path / "scratch")).collect())
        want = sorted(tuple(r) for r in
                      q_dedup_pipeline(spark, sf).collect())
        assert got == want

    def test_chain_funnels_monotonically(self, spark, warc_dir, tmp_path):
        job = str(tmp_path / "mono")
        c = run_rehearsal(spark, warc_dir, job, budget=BUDGET,
                          num_batches=N_BATCHES)
        assert c["rows_in"] == N_DOCS
        assert c["extracted_ok"] + c["failures"] == N_DOCS
        assert c["extracted_ok"] >= c["after_dedup"] >= c["after_curation"]
        assert c["after_curation"] >= c["selected"]
        assert c["selected"] > 0 and c["sequences"] > 0 and c["shards"] > 0
        # re-invoking a completed job is a no-op with identical summary
        assert run_rehearsal(spark, warc_dir, job, budget=BUDGET,
                             num_batches=N_BATCHES) == c

    def test_records_match_recount(self, spark, warc_dir, tmp_path):
        """Every stage record's row counts, observed on the stage's own
        writes, equal a recount of the table after a clean run, and the
        summary is read from them."""
        job = str(tmp_path / "records")
        c = run_rehearsal(spark, warc_dir, job, budget=BUDGET,
                          num_batches=N_BATCHES)

        def recount(rel):
            return spark.read.parquet(os.path.join(job, rel)).count()

        tables = {
            "documents": {"documents": "t1/documents.parquet"},
            "dedup": {"dedup_verdicts": "dedup_verdicts",
                      "documents": "t2/documents.parquet"},
            "curation": {"curation_verdicts": "curation_verdicts",
                         "documents": "t3/documents.parquet"},
            "assemble": {t: f"assemble/{t}" for t in (
                "audit", "kept", "pack", "seq_manifest", "shards")},
        }
        records = {name: read_record(job, name) for name in
                   ("land", "extract", *tables)}
        for name, rels in tables.items():
            assert records[name]["rows"] == {
                t: recount(rel) for t, rel in rels.items()}, name
        for rec in records.values():
            assert rec["params"] == {"budget": BUDGET,
                                     "num_batches": N_BATCHES,
                                     "levels": ["raw"]}
            assert rec["wall_s"] >= 0
        pages = spark.read.parquet(os.path.join(job, "pages.parquet"))
        assert records["land"]["rows"] == {
            "pages": pages.count(),
            "payload": pages.filter(F.length("html") > 0).count()}
        assert records["extract"]["rows"] == {
            "rows_in": N_DOCS,
            "data": recount("extract/data"),
            "failures": recount("extract/failures")}
        assert c["after_dedup"] == recount("t2/documents.parquet")
        assert c["selected"] == recount("assemble/kept")

    def test_resume_with_changed_params_fails_fast(self, spark, warc_dir,
                                                   tmp_path):
        """A resume with a different num_batches would silently drop
        the partitions its batch ids no longer reach; it must raise,
        naming the field, before any batch runs."""
        job = str(tmp_path / "changed")
        with pytest.raises(InjectedCrash):
            run_rehearsal(spark, warc_dir, job, budget=BUDGET,
                          num_batches=N_BATCHES,
                          crash_after_extract_batches=2)
        extract_dir = os.path.join(job, "extract")
        for field, kwargs in (
                ("num_batches", {"num_batches": N_BATCHES + 2}),
                ("budget", {"budget": BUDGET + 1}),
                ("levels", {"levels": ("raw", "lines")})):
            args = {"budget": BUDGET, "num_batches": N_BATCHES, **kwargs}
            with pytest.raises(ValueError, match=field):
                run_rehearsal(spark, warc_dir, job, **args)
        assert len(completed_batches(spark, extract_dir,
                                     SNAPSHOT_ID)) == 2


def test_stages_run_under_job_groups(clean_run):
    """Each stage body runs under its job group; land, extract and
    documents submit only the jobs that move data: no schema inference,
    and no job for the extract batch commits."""
    _, jobs = clean_run
    assert all(jobs.values()), jobs
    assert len(jobs["land"]) == 1
    assert len(jobs["extract"]) == 2 * N_BATCHES  # data + failures writes
    assert len(jobs["documents"]) == 1


def test_records_carry_read_schemas(spark, clean_run):
    """Each record's schemas equal what an inferring parquet read
    reports for every table the stage committed."""
    job, _ = clean_run
    for stage, tables in COMMITTED.items():
        schemas = read_record(job, stage)["schemas"]
        assert set(schemas) == set(tables), stage
        for table, rel in tables.items():
            assert StructType.fromJson(schemas[table]) == \
                spark.read.parquet(os.path.join(job, rel)).schema, \
                (stage, table)


def test_record_without_schemas_fails_fast(spark, warc_dir, tmp_path):
    """A record from before stage records carried schemas cannot be
    resumed; the error names the stage before any job runs."""
    job = tmp_path / "old"
    job.mkdir()
    (job / "_done_land").write_text(json.dumps({
        "stage": "land", "wall_s": 1.0,
        "params": {"budget": BUDGET, "num_batches": N_BATCHES,
                   "levels": ["raw"]},
        "rows": {"pages": N_DOCS, "payload": N_DOCS}}))
    with pytest.raises(ValueError,
                       match="stage 'land' has no table schemas"):
        run_rehearsal(spark, warc_dir, str(job), budget=BUDGET,
                      num_batches=N_BATCHES)


def test_payload_free_corpus_skips_python_lane(spark, tmp_path,
                                               monkeypatch):
    """A crawl of text/plain records only: the land record observes no
    payload row, so the raw-level extract runs the JVM text lane alone
    (the hybrid router, which would plan an empty Python lane, is never
    called), and the documents table equals the all-Python
    extraction of the same landed pages."""
    from pdf_extractor_spark.pipeline import compose
    from pdf_extractor_spark.pipeline.extract import extract_pages
    from pdf_extractor_spark.sources.warc import format_record

    warc = tmp_path / "warc"
    warc.mkdir()
    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    records = []
    for i in range(60):
        body = " ".join(words[(i * 7 + k) % len(words)]
                        for k in range(30 + i % 11))
        if i % 9 == 0:
            body = "  Caf\u00e9 \r\n\t line\n\n\n" + body + "  \n"
        if i == 5:
            body = ""
        records.append(format_record(f"http://t{i % 4}.example/{i}",
                                     "2024-01-01T00:00:00Z",
                                     body.encode("utf-8"), "text/plain"))
    (warc / "part-000.warc").write_bytes(b"".join(records))

    def no_hybrid(pages):
        raise AssertionError("payload-free input routed to the hybrid")
    monkeypatch.setattr(compose, "extract_pages_hybrid", no_hybrid)

    job = str(tmp_path / "job")
    c = run_rehearsal(spark, str(warc), job, budget=BUDGET, num_batches=3)
    assert read_record(job, "land")["rows"] == {"pages": 60, "payload": 0}
    assert c["rows_in"] == 60 and c["failures"] == 1

    pages = spark.read.parquet(os.path.join(job, "pages.parquet")) \
        .drop("batch")
    want = compose._docs_table(extract_pages(pages, levels=("raw",)))
    got = spark.read.parquet(os.path.join(job, "t1", "documents.parquet"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.select(*got.columns).collect()))
    assert StructType.fromJson(
        read_record(job, "extract")["schemas"]["data"]) == \
        spark.read.parquet(os.path.join(job, "extract", "data")).schema
