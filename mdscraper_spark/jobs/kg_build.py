"""End-to-end KG build job with per-partition lineage and resume.

Stage pipeline (SURVEY.md §3.2), driven as one batch job:

  pages -> [extract] markdown_docs          resumable per url-host bucket
        -> [mine]    mentions, triples      narrow Arrow stages
        -> [link]    entity_links           scored in the mining pass
        -> [canon]   canonical_map          driver union-find over
                                            mentioned surfaces
        -> [graph]   kg_nodes, kg_edges     driver counts; edges one
                                            shuffle agg

This class is the only place the stages are put together.  Extract is
its own public method (``extract``), which ``run`` calls first and the
CLI's ``--extract-only`` runs alone, so an extract-only run writes the
same table and lineage rows and honours resume the same way.  Mine
through graph is kg_ops.KgBuild, the composition every KG caller
shares; the job adds the writes, stage timings and lineage around it.
Canonicalization runs no Spark job: every mention surface is an alias
of the job's dictionary, so one groupBy of the mined mentions per
surface (at most |dictionary| rows) reaches the driver, which builds
canonical_map and kg_nodes (KgBuild.canonicalize); the job writes
them, and the lineage, with pyarrow (Warehouse.write_rows).

Independent Spark jobs run at the same time, from a two-thread pool
scoped to one ``run()`` (Spark schedules jobs submitted from separate
threads concurrently):

* the dictionary collect of an injected alias DataFrame runs beside
  extraction; its rows are taken after the ``markdown_docs`` commit,
  so a dictionary error still surfaces after extraction is recorded;
* after the ``mentions`` write, the ``triples`` and ``entity_links``
  writes run beside canonicalization and the ``kg_edges`` write.
  ``mentions`` goes first, alone, because its write materializes the
  persisted mining pass the other readers then share (two readers
  racing on an unmaterialized cache would each recompute it).

Every submitted callable is wrapped with
``pyspark.util.inheritable_thread_target(spark)``: a pool thread must
carry the caller's job group, local properties and session tags, or
its jobs escape the caller's accounting (``setJobGroup`` +
``statusTracker``).  Every future is joined on every path, the side
writes before ``KgBuild`` unpersists the pass, and the first error is
re-raised; no thread or Spark job outlives ``run()``.

Stage row counts in the lineage come from the writes themselves (the
warehouse manifest's ``record_counts``), never from re-scanning a
table.  Extract rows are appended as soon as extraction commits;
every later stage's rows go in one append after every write has
committed.  Each stage's ``wall_ms`` is the time of its own work,
timed in the thread that ran it, so stage walls may overlap.

Resume contract (north rule: "resumable from checkpoint with
per-partition lineage + metrics"): the expensive extraction stage is
checkpointed at url-host-bucket granularity.  A restart anti-joins the
bucket universe against lineage rows with status='ok' and re-extracts
only missing buckets; writes are dynamic-partition overwrites, so
re-running a bucket is idempotent.  Downstream stages are recomputed
from the (then complete) markdown_docs table — they are global
(one canonical map and one node count over every bucket's mentions)
and cheap relative to extraction.
"""

from __future__ import annotations

import datetime
import time
import uuid
from concurrent.futures import ThreadPoolExecutor, wait
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.util import inheritable_thread_target

from mdscraper_spark.config import ExtractConfig
from mdscraper_spark.operators import kg as kg_ops
from mdscraper_spark.operators.extract_udfs import (extract_markdown,
                                                    with_doc_path)
from mdscraper_spark.sources import fixtures
from mdscraper_spark.sources.pages import with_part_id
from mdscraper_spark.sources.tables import Warehouse, write_parquet_rows

LINEAGE_SCHEMA = StructType([
    StructField("run_id", StringType(), False),
    StructField("part_id", IntegerType(), False),
    StructField("stage", StringType(), False),
    StructField("status", StringType(), False),
    StructField("n_rows", LongType(), False),
    StructField("wall_ms", LongType(), False),
    StructField("ts", TimestampType(), False),
])

GLOBAL_PART = -1  # lineage part_id for non-bucketed (global) stages


class KgBuildJob:
    # The job runs kg_ops.KgBuild: links scored in the mining pass,
    # canonicalization on the driver, every surface keyed by the
    # rules.surface_node ids the pass writes on mentions (node_id) and
    # triples (subj_node, obj_node).  Both attributes are read only by
    # perfbench/spans.py, whose traced replay still calls
    # kg_ops.link_entities(salt=...) and kg_ops.connected_components
    # over those tables; they go when the replay does (ROADMAP item 3).
    # run() overlaps its independent Spark jobs on a pool of two threads
    # (the DAG's two side branches); see the module docstring.
    salt = None
    cc_local_solve_threshold = 2_000_000

    def __init__(self, spark: SparkSession, warehouse_path: str,
                 config: Optional[ExtractConfig] = None,
                 n_buckets: int = 16,
                 aliases: Optional[DataFrame] = None) -> None:
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_path)
        self.config = config or ExtractConfig()
        self.n_buckets = n_buckets
        self._custom_aliases = aliases is not None
        self.aliases = aliases if aliases is not None else kg_ops.alias_df(spark)

    def _dictionary(self) -> list:
        """The job's alias rows (alias, entity_id, canonical, etype,
        prior) in the order whose first etype per alias wins: fixture
        order for the default dictionary; an injected one by (alias,
        etype) ascending, nulls first as Spark sorts them.  The
        dictionary is the bounded broadcast side, so one plain collect
        is small by contract; the sort runs here, not as a Spark job."""
        if not self._custom_aliases:
            return fixtures.alias_rows()
        rows = self.aliases.select("alias", "entity_id", "canonical",
                                   "etype", "prior").collect()
        return sorted(map(tuple, rows),
                      key=lambda r: (r[0] is not None, r[0] or "",
                                     r[3] is not None, r[3] or ""))

    def _gazetteer_entries(self) -> tuple:
        """(alias, etype) tuples for mention mining, from the job's own
        alias dictionary."""
        return tuple((a, t) for a, _e, _c, t, _p in self._dictionary())

    # -- lineage -----------------------------------------------------------
    def _append_lineage(self, rows: list) -> None:
        """One pyarrow file per append (no Spark job); Spark reads it
        back next to Spark-written lineage files with the same types."""
        path = self.wh.table_path("lineage")
        path.mkdir(parents=True, exist_ok=True)
        write_parquet_rows(rows, LINEAGE_SCHEMA,
                           path / f"part-{uuid.uuid4()}.parquet")

    def _lineage(self) -> Optional[DataFrame]:
        path = self.wh.table_path("lineage")
        if not path.exists():
            return None
        return self.spark.read.parquet(str(path))

    def _stage_rows(self, run_id: str, stage: str, table: str,
                    wall_ms: int) -> list:
        """One ok lineage row per part_id the table's last write wrote,
        counted from that write's manifest."""
        now = datetime.datetime.now(datetime.timezone.utc)
        counts = self.wh.manifest(table)["record_counts"]
        return [(run_id, int(key.removeprefix("part_id=")), stage, "ok", n,
                 wall_ms, now) for key, n in counts.items()]

    # -- stages -------------------------------------------------------------
    def _submit(self, pool: ThreadPoolExecutor, fn, *args):
        """fn(*args) on the pool, its Spark jobs in the calling thread's
        job group (local properties and session tags captured now)."""
        return pool.submit(inheritable_thread_target(self.spark)(fn), *args)

    def _timed_write(self, df: DataFrame, name: str) -> int:
        """Partitioned write of one mined table; returns its wall ms."""
        t0 = time.monotonic()
        self.wh.write_table(with_part_id(df, self.n_buckets), name,
                            partition_by=("part_id",))
        return int((time.monotonic() - t0) * 1000)

    def extract(self, pages: DataFrame, run_id: str = "run-1",
                resume: bool = False) -> None:
        """[extract] stage alone: pages -> markdown_docs, partitioned by
        url-host bucket, plus its lineage rows.  With ``resume``,
        buckets already ok in lineage are skipped.  With nothing to
        extract, no snapshot is committed, except the first (empty) one,
        so later stages always find the table.  ``run`` starts with it,
        and the CLI's ``--extract-only`` runs only it."""
        pages = with_part_id(pages, self.n_buckets)

        todo = pages
        if resume:
            lineage = self._lineage()
            if lineage is not None:
                done = (lineage
                        .filter((F.col("stage") == "extract")
                                & (F.col("status") == "ok"))
                        .select("part_id").distinct())
                todo = pages.join(done, "part_id", "left_anti")

        t0 = time.monotonic()
        if (todo.limit(1).count() == 0
                and self.wh.exists("markdown_docs")):
            return
        docs = with_doc_path(extract_markdown(todo, self.config),
                             self.config)
        docs = with_part_id(docs, self.n_buckets)
        # co-locate each bucket into one task before the partitioned
        # write: one output file per (bucket, write) instead of
        # n_tasks x n_buckets small files
        docs = docs.repartition(self.n_buckets, "part_id")
        self.wh.write_table(docs, "markdown_docs", partition_by=("part_id",))
        wall_ms = int((time.monotonic() - t0) * 1000)
        # resume reads these rows: append them before any later stage
        # can fail
        self._append_lineage(self._stage_rows(
            run_id, "extract", "markdown_docs", wall_ms))

    def run(self, pages: DataFrame, run_id: str = "run-1",
            resume: bool = False) -> dict:
        with ThreadPoolExecutor(max_workers=2,
                                thread_name_prefix="kg-build") as pool:
            self._run(pool, pages, run_id, resume)
        return {name: self.wh.read_table(name) for name in (
            "markdown_docs", "mentions", "triples", "entity_links",
            "canonical_map", "kg_nodes", "kg_edges", "lineage")}

    def _run(self, pool: ThreadPoolExecutor, pages: DataFrame,
             run_id: str, resume: bool) -> None:
        # The mining gazetteer comes from the SAME dictionary the links
        # are scored against — a caller-injected dictionary must drive
        # mention detection too, or custom aliases silently produce an
        # empty KG.  Its collect is submitted first, so it overlaps
        # extraction.
        dictionary = self._submit(pool, self._dictionary)
        self.extract(pages, run_id, resume)

        docs = self.wh.read_table("markdown_docs")
        with kg_ops.KgBuild(docs, dictionary.result()) as kg:
            # materializes the persisted pass the later readers share
            mentions_ms = self._timed_write(kg.mentions, "mentions")
            side = [self._submit(pool, self._timed_write, kg.triples,
                                 "triples"),
                    self._submit(pool, self._timed_write, kg.links,
                                 "entity_links")]
            try:
                t0 = time.monotonic()
                cmap_rows, node_rows = kg.canonicalize()
                self.wh.write_rows(cmap_rows, kg_ops.CANONICAL_MAP_SCHEMA,
                                   "canonical_map")
                self.wh.write_rows(node_rows, kg_ops.KG_NODES_SCHEMA,
                                   "kg_nodes")
                self.wh.write_table(
                    kg.edges(self.wh.read_table("canonical_map")),
                    "kg_edges")
                graph_ms = int((time.monotonic() - t0) * 1000)
            finally:
                # close() unpersists the pass the side writes read
                wait(side)
            triples_ms, links_ms = (f.result() for f in side)

        self._append_lineage(
            self._stage_rows(run_id, "mine", "mentions",
                             mentions_ms + triples_ms)
            + self._stage_rows(run_id, "link", "entity_links", links_ms)
            + [(run_id, GLOBAL_PART, "graph", "ok", len(node_rows),
                graph_ms, datetime.datetime.now(datetime.timezone.utc))])
