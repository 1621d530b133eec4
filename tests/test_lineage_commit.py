"""Driver-side batch commits of the resumable extract
(`pipeline/lineage.py`): the one-row lineage and checkpoint commits are
parquet files the driver writes, which Spark reads back with exactly
the declared schemas, and a commit torn before its rename leaves the
batch uncommitted, so a resume re-runs it once."""

import os

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pdf_extractor_spark.pipeline import lineage as lin
from pdf_extractor_spark.sources.pages import synth_pages_df

N_PAGES = 40
N_BATCHES = 3
SNAPSHOT = 4


class Killed(Exception):
    """Stands in for the driver dying."""


def test_spark_reads_commits_with_declared_schemas(spark, tmp_path):
    out = str(tmp_path / "out")
    pages = synth_pages_df(spark, N_PAGES, partitions=2)
    ran = lin.run_resumable(spark, pages, out, SNAPSHOT,
                            num_batches=N_BATCHES)
    assert ran == list(range(N_BATCHES))

    cp = spark.read.parquet(os.path.join(out, "_checkpoint"))
    lineage = lin.read_lineage(spark, out)
    assert cp.schema == StructType.fromDDL(lin.CHECKPOINT_SCHEMA)
    assert lineage.schema == StructType.fromDDL(lin.LINEAGE_SCHEMA)
    # completed_at is a real timestamp (per-batch timing reads it)
    assert cp.filter(F.unix_micros("completed_at") > 0).count() == N_BATCHES

    assert lin.completed_batches(spark, out, SNAPSHOT) == ran
    assert lin.completed_batches(spark, out, SNAPSHOT + 1) == []
    totals = lin.lineage_totals(out)
    assert totals["rows_in"] == N_PAGES
    assert totals["rows_out"] == lin.read_output(spark, out).count()
    assert totals["rows_out"] + totals["failure_count"] == N_PAGES
    want = lineage.agg(*(F.sum(c).alias(c) for c in totals)).collect()[0]
    assert totals == want.asDict()


def test_commit_torn_before_rename_reruns_the_batch(spark, tmp_path,
                                                    monkeypatch):
    out = str(tmp_path / "out")
    cp_dir = os.path.join(out, "_checkpoint")
    pages = synth_pages_df(spark, N_PAGES, partitions=2)
    replace, renamed = os.replace, []

    def die_on_second_checkpoint(src, dst):
        if os.path.dirname(dst) == cp_dir:
            renamed.append(dst)
            if len(renamed) == 2:
                raise Killed(dst)
        replace(src, dst)

    monkeypatch.setattr(lin.os, "replace", die_on_second_checkpoint)
    try:
        lin.run_resumable(spark, pages, out, SNAPSHOT,
                          num_batches=N_BATCHES)
        raise AssertionError("the second checkpoint commit did not die")
    except Killed:
        pass
    monkeypatch.undo()

    # the temp file is there, but neither Spark nor the driver sees it
    assert [f for f in os.listdir(cp_dir) if f.startswith(".")]
    assert lin.completed_batches(spark, out, SNAPSHOT) == [0]
    assert spark.read.parquet(cp_dir).count() == 1

    assert lin.run_resumable(spark, pages, out, SNAPSHOT,
                             num_batches=N_BATCHES) == [1, 2]
    assert not [f for f in os.listdir(cp_dir) if f.startswith(".")]
    assert lin.completed_batches(spark, out, SNAPSHOT) == [0, 1, 2]
    # the re-run batch replaced its lineage row instead of adding one
    lineage = lin.read_lineage(spark, out)
    assert sorted(r.batch_id for r in lineage.collect()) == [0, 1, 2]
    assert lin.lineage_totals(out)["rows_in"] == N_PAGES
    data = lin.read_output(spark, out)
    assert data.count() == data.select("url").distinct().count()
    assert data.count() == lin.lineage_totals(out)["rows_out"]
