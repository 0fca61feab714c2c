"""Incremental KG maintenance: new crawl files -> extraction + triple
mining -> MERGE-accumulated edge-support table, exactly-once.

The batch flagship rebuilds the graph from a snapshot; this is the
standing-ingest analog: each micro-batch of new pages is extracted and
mined with the SAME operators, its per-triple support counts are
summed into the warehouse's ``raw_edges`` table through
``Warehouse.merge_table`` (upsert keyed on the triple, PARTITIONED by
pred so a batch rewrites only the predicates it touches, not the
whole accumulated table).

Exactly-once is a two-layer contract: the streaming checkpoint skips
fully committed batches, and — because foreachBatch output is only
at-least-once (a crash between the table commit and the epoch log
replays the batch) — the last applied ``batch_id`` is committed INSIDE
the snapshot manifest (Iceberg snapshot-properties analog) atomically
with the data, so a replayed batch is detected and skipped instead of
double-counted.

Canonicalization stays a periodic batch job (the lambda-architecture
split for KG builds).  The stream accumulates two tables, both keyed by
what the mining pass emits: ``raw_edges`` (per-triple support sums by
(subj_node, pred, obj_node), the ``rules.surface_node`` ids) and
``raw_mentions`` (per-surface mention counts by exact surface).  Every
mention surface is an alias of the ingest dictionary, so the set of
mentioned surfaces already determines the co-reference links:
``canonicalize_accumulated`` collects the per-surface sums (at most
|dictionary| rows) and canonicalizes them on the driver with the batch
rule (``kg_ops.canonicalize_surfaces``), then maps the accumulated
support onto canonical ids.  The result equals the one-shot batch
build over every page ever ingested — pinned end-to-end (including a
mid-stream restart) by tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mdscraper_spark.config import ExtractConfig
from mdscraper_spark.kg import rules
from mdscraper_spark.operators import kg as kg_ops
from mdscraper_spark.operators.extract_udfs import extract_markdown
from mdscraper_spark.sources import fixtures
from mdscraper_spark.sources.pages import PAGES_SCHEMA
from mdscraper_spark.sources.tables import Warehouse

RAW_EDGES = "raw_edges"
RAW_MENTIONS = "raw_mentions"
EDGE_KEYS = ("subj_node", "pred", "obj_node")
MENTION_KEYS = ("bucket", "surface")
N_ACC_BUCKETS = 16


def _check_state_format(wh: Warehouse) -> None:
    """Refuse state accumulated in the older format, whose keys Spark
    ``lower()`` derived: a ``raw_coref`` table, or a raw_edges /
    raw_mentions manifest schema without today's keys.  Merging into
    it would silently mix two surface rules.  Reads manifests only."""
    stale = ["raw_coref"] if wh.exists("raw_coref") else []
    for table, keys in ((RAW_EDGES, EDGE_KEYS), (RAW_MENTIONS, MENTION_KEYS)):
        m = wh.manifest(table)
        if m and not set(keys) <= {f["name"] for f in m["schema"]["fields"]}:
            stale.append(table)
    if stale:
        raise RuntimeError(
            f"{wh.root}: accumulated table(s) {stale} have an older "
            "format — re-ingest into a fresh warehouse")


def merge_accumulate(wh: Warehouse, table: str, batch_df, keys,
                     value_col: str, batch_id: int,
                     partition_by=None, stream_id: str | None = None) -> None:
    """Sum a batch's per-key ``value_col`` into an accumulated table:
    touched keys are read back, summed with the batch, and upserted —
    a partitioned merge rewrites only the touched partitions while the
    snapshot chain keeps every prior accumulation time-travelable.

    Idempotence (foreachBatch is at-least-once): ``batch_id`` is
    committed in the snapshot's properties atomically with the data;
    a replayed batch whose id was already applied to THIS table is
    skipped, so a crash between a table commit and the streaming epoch
    log cannot double-count — each accumulated table tracks its own
    applied id, so a crash mid-batch (some tables committed, some not)
    replays into exactly the tables that missed it.

    ``stream_id`` names the streaming query whose batch ids these are
    (the checkpoint location — the Delta txnAppId pattern): batch ids
    only mean something within one checkpoint's numbering, so a
    warehouse accumulated under one checkpoint REFUSES batches from a
    different one (a fresh checkpoint restarts ids at 0 and availableNow
    re-reads every input file — silently skipping OR blindly applying
    would both corrupt the accumulation; the operator must either reuse
    the original checkpoint or start a fresh warehouse)."""
    keys = list(keys)
    partition_by = tuple(partition_by or ())
    props = {"last_batch_id": int(batch_id)}
    if stream_id is not None:
        props["stream_id"] = stream_id
    if not wh.exists(table):
        # single consumer in this branch: no checkpoint needed
        wh.write_table(batch_df, table, partition_by=partition_by,
                       properties=props)
        return
    mprops = wh.manifest(table).get("properties", {})
    prev_stream = mprops.get("stream_id")
    if (stream_id is not None and prev_stream is not None
            and prev_stream != stream_id):
        raise RuntimeError(
            f"{table} was accumulated under checkpoint "
            f"{prev_stream!r}; refusing batches numbered by "
            f"{stream_id!r} — reuse the original checkpoint or start "
            "a fresh warehouse")
    if batch_id <= mprops.get("last_batch_id", -1):
        return                      # replayed micro-batch: already in
    # materialize the (small, pre-aggregated) batch frame once, AFTER
    # the metadata-only replay checks: the merge references it several
    # times (semi-join + union) and Spark does not dedupe common
    # subtrees — but a skipped replay must not pay a cluster job
    batch_df = batch_df.localCheckpoint()
    existing = (wh.read_table(table)
                .join(batch_df.select(*keys).distinct(), keys,
                      "left_semi"))
    combined = (existing.unionByName(batch_df)
                .groupBy(*keys)
                .agg(F.sum(value_col).alias(value_col)))
    wh.merge_table(combined, table, key_cols=tuple(keys),
                   partition_by=partition_by, properties=props)


def merge_edge_support(wh: Warehouse, batch_edges,
                       batch_id: int,
                       stream_id: str | None = None) -> None:
    """Triple-support specialization of merge_accumulate (kept as the
    named surface the tests and docs pin): pred-partitioned so a batch
    rewrites only the predicates it touches."""
    merge_accumulate(wh, RAW_EDGES, batch_edges, EDGE_KEYS, "n_support",
                     batch_id, partition_by=("pred",),
                     stream_id=stream_id)


def apply_kg_batch(spark: SparkSession, batch_df, batch_id: int,
                   warehouse_path: str, stream_id: str,
                   config: ExtractConfig | None = None) -> None:
    """One micro-batch of the KG ingest half of the lambda split:
    extract + mine ``batch_df`` (pages) over the fixture dictionary and
    fold the results into the two accumulated tables.  This IS the
    foreachBatch body of ``stream_kg_update`` (module-level so the
    registry parity row ``kg_lambda_parity`` replays the identical code
    path on static splits — not a reimplementation that could drift)."""
    config = config or ExtractConfig()
    wh = Warehouse(spark, warehouse_path)
    _check_state_format(wh)
    # ONE persisted Arrow pass mines mentions + triples; both
    # accumulated tables consume it.  The matcher is the application's
    # one for the fixture dictionary: a later micro-batch reuses it
    with kg_ops.KgBuild(extract_markdown(batch_df, config),
                        kg_ops.fixture_matcher(spark)) as kg:
        # per-triple support — the edge side of the lambda split
        batch_edges = (kg.triples.groupBy(*EDGE_KEYS)
                       .agg(F.count(F.lit(1)).alias("n_support")))
        merge_edge_support(wh, batch_edges, int(batch_id),
                           stream_id=stream_id)

        # per-surface mention counts — canonical_map and kg_nodes.  No
        # natural low-cardinality partition key (unlike raw_edges's
        # pred), so a hash bucket of the surface leads the merge keys:
        # each micro-batch rewrites only the buckets it touches
        mentions = (kg.mentions.groupBy("surface")
                    .agg(F.count(F.lit(1)).alias("n_mentions"))
                    .withColumn("bucket",
                                F.pmod(F.xxhash64("surface"),
                                       F.lit(N_ACC_BUCKETS)).cast("int")))
        merge_accumulate(wh, RAW_MENTIONS, mentions, MENTION_KEYS,
                         "n_mentions", int(batch_id),
                         partition_by=("bucket",), stream_id=stream_id)


def stream_kg_update(spark: SparkSession, input_dir: str,
                     warehouse_path: str, checkpoint_dir: str,
                     config: ExtractConfig | None = None,
                     input_format: str = "parquet") -> None:
    """Drain currently-available page files into the accumulated
    raw_edges table (availableNow + checkpoint = one exactly-once
    incremental ingest per invocation).  ``input_format='warc'``
    ingests arriving Common-Crawl-style WARC shards instead of a
    parquet pages directory (same record walk as the batch source)."""
    import os

    config = config or ExtractConfig()
    # the checkpoint location IS the stream identity: batch ids are
    # only meaningful within one checkpoint's numbering
    stream_id = os.path.abspath(checkpoint_dir)
    if input_format == "warc":
        from mdscraper_spark.streaming.incremental import (
            stream_pages_from_warc)

        pages = stream_pages_from_warc(spark, input_dir)
    else:
        pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)

    def update(batch_df, batch_id) -> None:
        apply_kg_batch(spark, batch_df, int(batch_id), warehouse_path,
                       stream_id, config)

    query = (pages.writeStream
             .foreachBatch(update)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()


def canonicalize_accumulated(spark: SparkSession, warehouse_path: str):
    """The PERIODIC BATCH half of the lambda split: canonicalize the
    accumulated mentions and materialize kg_nodes / kg_edges.

    The per-surface mention sums (at most |dictionary| rows) reach the
    driver, which canonicalizes them with the batch job's rule over the
    dictionary ``apply_kg_batch`` ingests with; the accumulated triple
    support is then mapped onto canonical ids with SUM aggregation.
    Support and mention counting are associative, so the result equals
    the one-shot batch build over every page ever ingested — pinned by
    tests/test_streaming.py.

    Returns (nodes_df, edges_df); both are also written to the
    warehouse as ``kg_nodes`` / ``kg_edges`` snapshots."""
    wh = Warehouse(spark, warehouse_path)
    _check_state_format(wh)
    missing = [t for t in (RAW_EDGES, RAW_MENTIONS) if not wh.exists(t)]
    if missing:
        raise RuntimeError(
            f"no accumulated ingest in {warehouse_path} yet "
            f"(missing tables: {missing}) — run the --ingest pass first")
    rows = fixtures.alias_rows()
    n_by_surface = dict(wh.read_table(RAW_MENTIONS)
                        .select("surface", "n_mentions").collect())
    cmap_rows, node_rows = kg_ops.canonicalize_surfaces(
        n_by_surface, rules.best_links(rows), rows)
    wh.write_rows(node_rows, kg_ops.KG_NODES_SCHEMA, "kg_nodes")
    edges = kg_ops.build_kg_edges_from_support(
        wh.read_table(RAW_EDGES),
        spark.createDataFrame(cmap_rows, kg_ops.CANONICAL_MAP_SCHEMA))
    edges = edges.localCheckpoint()   # materialize before the table
    wh.write_table(edges, "kg_edges")  # write re-reads the plan
    return spark.createDataFrame(node_rows, kg_ops.KG_NODES_SCHEMA), edges
