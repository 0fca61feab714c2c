"""Lineage + resumable-restart tests (SURVEY.md §2.I8, north rule).

A full run and a damaged-then-resumed run must produce identical
tables: we delete the extracted output and lineage for half the
url-host buckets (simulating a mid-job crash) and restart with
resume=True.
"""

import datetime
import shutil
import threading
import time
import warnings

import pytest

from pyspark.sql import functions as F

from mdscraper_spark.config import ExtractConfig
from mdscraper_spark.jobs.kg_build import KgBuildJob
from mdscraper_spark.sources.pages import bulk_pages_df
from mdscraper_spark.sources.tables import Warehouse

N_PAGES = 30
N_BUCKETS = 8
CFG = ExtractConfig(exclude_selectors=(".ads", "#nav"))


def snapshot(tables):
    return {
        "markdown_docs": {tuple(r) for r in tables["markdown_docs"]
                          .select("url", "markdown", "status").collect()},
        "kg_edges": {tuple(r) for r in tables["kg_edges"].collect()},
        "kg_nodes": {tuple(r) for r in tables["kg_nodes"].collect()},
    }


def test_resume_after_partial_loss(spark, tmp_path):
    pages = bulk_pages_df(spark, N_PAGES)

    # reference: clean full run
    job_a = KgBuildJob(spark, str(tmp_path / "wh_a"), CFG, n_buckets=N_BUCKETS)
    want = snapshot(job_a.run(pages, run_id="full"))

    # damaged run: full run, then destroy half the extraction buckets
    job_b = KgBuildJob(spark, str(tmp_path / "wh_b"), CFG, n_buckets=N_BUCKETS)
    job_b.run(pages, run_id="first")

    lineage = spark.read.parquet(str(job_b.wh.table_path("lineage")))
    extracted_parts = sorted(
        r.part_id for r in lineage.filter(F.col("stage") == "extract")
        .select("part_id").distinct().collect())
    lost = extracted_parts[: len(extracted_parts) // 2]
    assert lost, "need at least one bucket to damage"

    for pid in lost:
        bucket_dirs = list(job_b.wh.table_path("markdown_docs")
                           .glob(f"data/snap-*/part_id={pid}"))
        assert bucket_dirs, f"no data dirs for bucket {pid}"
        for bucket_dir in bucket_dirs:
            shutil.rmtree(bucket_dir)
    kept = lineage.filter(~((F.col("stage") == "extract")
                            & F.col("part_id").isin([int(p) for p in lost])))
    kept_rows = kept.collect()
    shutil.rmtree(job_b.wh.table_path("lineage"))
    spark.createDataFrame(kept_rows, lineage.schema).write.parquet(
        str(job_b.wh.table_path("lineage")))

    # damaged buckets are really gone
    n_after_damage = job_b.wh.read_table("markdown_docs").count()
    assert n_after_damage < N_PAGES

    got = snapshot(job_b.run(pages, run_id="resume", resume=True))
    assert got == want


def test_resume_skips_completed_buckets(spark, tmp_path):
    pages = bulk_pages_df(spark, N_PAGES)
    job = KgBuildJob(spark, str(tmp_path / "wh"), CFG, n_buckets=N_BUCKETS)
    job.run(pages, run_id="r1")

    manifest_before = job.wh.manifest("markdown_docs")
    job.run(pages, run_id="r2", resume=True)
    manifest_after = job.wh.manifest("markdown_docs")
    # nothing left to extract -> no new markdown_docs snapshot committed
    assert manifest_before["snapshot_id"] == manifest_after["snapshot_id"]

    lineage = job.wh.read_table("lineage")
    extract_runs = {r.run_id for r in lineage
                    .filter(F.col("stage") == "extract").collect()}
    assert extract_runs == {"r1"}


def test_lineage_metrics_recorded(spark, tmp_path):
    pages = bulk_pages_df(spark, N_PAGES)
    job = KgBuildJob(spark, str(tmp_path / "wh"), CFG, n_buckets=N_BUCKETS)
    tables = job.run(pages, run_id="r1")
    lineage = tables["lineage"]
    stages = {r.stage for r in lineage.select("stage").distinct().collect()}
    assert stages == {"extract", "mine", "link", "graph"}
    extract_total = (lineage.filter(F.col("stage") == "extract")
                     .agg(F.sum("n_rows")).collect()[0][0])
    assert extract_total == N_PAGES
    assert all(r.wall_ms >= 0 for r in lineage.collect())


def test_lineage_counts_equal_table_recounts(spark, tmp_path):
    """Stage counts come from the writes' manifests, not from
    re-scanning the tables; they must still equal a groupBy re-count
    of each table, with one graph row carrying the node count."""
    pages = bulk_pages_df(spark, N_PAGES)
    job = KgBuildJob(spark, str(tmp_path / "wh"), CFG, n_buckets=N_BUCKETS)
    tables = job.run(pages, run_id="r1")
    got = sorted(tuple(r) for r in tables["lineage"]
                 .select("stage", "part_id", "n_rows").collect())

    def recount(stage, table):
        return [(stage, r.part_id, r.n) for r in tables[table]
                .groupBy("part_id").agg(F.count("*").alias("n")).collect()]

    want = sorted(recount("extract", "markdown_docs")
                  + recount("mine", "mentions")
                  + recount("link", "entity_links")
                  + [("graph", -1, tables["kg_nodes"].count())])
    assert got == want
    assert len(got) > 3 * 2


def test_empty_corpus_flows_through_all_stages(spark, tmp_path):
    """A corpus with zero gazetteer hits/triples must still complete:
    empty partitioned writes leave no parquet files, so read_table must
    recover the schema from the manifest (Iceberg metadata semantics),
    and the size-gated CC must handle an empty co-reference graph."""
    pages = (bulk_pages_df(spark, 5)
             .withColumn("html", F.encode(F.lit(
                 "<html><body><div class='content'><h1>T</h1>"
                 "<p>nothing relevant here</p></div></body></html>"),
                 "utf-8")))
    tables = KgBuildJob(spark, str(tmp_path / "wh"), config=CFG,
                        n_buckets=N_BUCKETS).run(pages, run_id="r-empty")
    assert tables["markdown_docs"].filter("status='ok'").count() == 5
    assert tables["mentions"].count() == 0
    assert tables["canonical_map"].count() == 0
    assert tables["kg_edges"].count() == 0
    # schema preserved for the empty tables
    assert set(tables["mentions"].columns) >= {"url", "sent_id", "surface"}


def _custom_aliases(spark):
    return spark.createDataFrame(
        [("Zorblax Corp", 900, "Zorblax Corporation", "ORG", 1.0),
         ("Quuxana Vel", 901, "Quuxana Vel", "PERSON", 1.0)],
        "alias string, entity_id long, canonical string, "
        "etype string, prior double")


def _custom_pages(spark):
    html = ("<div class='content'><p>Quuxana Vel works for Zorblax Corp."
            "</p></div>")
    return spark.createDataFrame(
        [(f"https://z.test/p{i}", datetime.datetime(2025, 6, 14),
          html.encode(), None, "en") for i in range(4)],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")


def test_custom_alias_dictionary_drives_mining_too(spark, tmp_path):
    """An injected alias dictionary must reach BOTH linking and mention
    mining — hard-coding the fixture gazetteer made custom dictionaries
    silently produce an empty KG."""
    custom = _custom_aliases(spark)
    job = KgBuildJob(spark, str(tmp_path / "wh_custom"), CFG,
                     n_buckets=4, aliases=custom)
    tables = job.run(_custom_pages(spark))
    edges = tables["kg_edges"].collect()
    assert len(edges) > 0                      # custom surfaces mined
    nodes = {r.label for r in tables["kg_nodes"].collect()}
    assert "Zorblax Corporation" in nodes      # linked + canonicalized


def test_lineage_upgrade_spark_file_then_pyarrow_appends(spark, tmp_path):
    """A lineage directory written by Spark (the format of earlier
    runs) followed by the job's pyarrow appends reads back with
    LINEAGE_SCHEMA's types (ts as TimestampType, not TimestampNTZ), and
    resume still skips the buckets the Spark-written rows mark done."""
    from pyspark.sql.types import TimestampType

    from mdscraper_spark.jobs.kg_build import LINEAGE_SCHEMA

    pages = bulk_pages_df(spark, N_PAGES)
    job = KgBuildJob(spark, str(tmp_path / "wh"), CFG, n_buckets=N_BUCKETS)
    job.run(pages, run_id="r1")
    path = job.wh.table_path("lineage")
    rows = [tuple(r) for r in spark.read.parquet(str(path)).collect()]
    shutil.rmtree(path)
    spark.createDataFrame(rows, LINEAGE_SCHEMA).write.parquet(str(path))
    assert list(path.glob("part-*-c000*.parquet"))   # Spark's file names

    manifest_before = job.wh.manifest("markdown_docs")
    job.run(pages, run_id="r2", resume=True)
    job.run(pages, run_id="r3", resume=True)
    assert job.wh.manifest("markdown_docs")["snapshot_id"] == \
        manifest_before["snapshot_id"]

    lineage = job.wh.read_table("lineage")
    assert [(f.name, f.dataType) for f in lineage.schema.fields] == \
        [(f.name, f.dataType) for f in LINEAGE_SCHEMA.fields]
    assert lineage.schema["ts"].dataType == TimestampType()
    got = lineage.collect()
    assert {r.run_id for r in got if r.stage == "extract"} == {"r1"}
    assert {r.run_id for r in got if r.stage == "graph"} == {"r1", "r2", "r3"}
    assert len(got) == len(rows) + 2 * sum(1 for r in rows
                                           if r[2] != "extract")


def _last_job_of(sc, group):
    """Run one tiny job in ``group``; returns its job id."""
    sc.setJobGroup(group, group)
    sc.parallelize([1]).count()
    return max(sc.statusTracker().getJobIdsForGroup(group))


def test_every_job_of_a_run_is_in_the_callers_job_group(spark, tmp_path):
    """The run's pool threads carry the caller's job group: every job
    launched between two marker jobs — the dictionary collect and the
    side writes included — is in the run's group, none ungrouped.
    perfbench's per-pass ``spark_jobs`` count relies on this."""
    sc = spark.sparkContext
    job = KgBuildJob(spark, str(tmp_path / "wh"), CFG, n_buckets=4,
                     aliases=_custom_aliases(spark))
    pages = _custom_pages(spark)
    group = "kg-run-group"
    first = _last_job_of(sc, "kg-run-before")
    try:
        sc.setJobGroup(group, "KgBuildJob.run")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            job.run(pages)
        last = _last_job_of(sc, "kg-run-after")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    assert len(in_group) > 5
    assert set(range(first + 1, last)) == in_group
    assert not [w for w in caught
                if "Tags will not be inherited" in str(w.message)]


def test_failed_side_write_joins_everything_and_resumes(spark, tmp_path,
                                                        monkeypatch):
    """A side write that fails while canonicalization and a slower
    sibling write run beside it: run() re-raises its error only after
    every job and thread of the run has finished and the mining pass
    is unpersisted; lineage keeps the extract rows and no later
    stage's; a resume then matches a clean run."""
    pages = bulk_pages_df(spark, N_PAGES)
    want = snapshot(KgBuildJob(spark, str(tmp_path / "wh_a"), CFG,
                               n_buckets=N_BUCKETS).run(pages))

    write_table = Warehouse.write_table

    def failing_write(self, df, name, *args, **kwargs):
        if name == "triples":
            raise RuntimeError("triples write failed")
        if name == "entity_links":
            time.sleep(2)   # still running when the error surfaces
        return write_table(self, df, name, *args, **kwargs)

    sc = spark.sparkContext
    job = KgBuildJob(spark, str(tmp_path / "wh_b"), CFG, n_buckets=N_BUCKETS)
    n_persisted = sc._jsc.getPersistentRDDs().size()
    threads = set(threading.enumerate())
    monkeypatch.setattr(Warehouse, "write_table", failing_write)
    with pytest.raises(RuntimeError, match="triples write failed"):
        job.run(pages, run_id="first")
    monkeypatch.undo()

    assert sc.statusTracker().getActiveJobsIds() == []
    assert sc._jsc.getPersistentRDDs().size() == n_persisted
    assert [t for t in threading.enumerate() if t not in threads] == []
    stages = {r.stage for r in job.wh.read_table("lineage").collect()}
    assert stages == {"extract"}

    got = snapshot(job.run(pages, run_id="resume", resume=True))
    assert got == want
