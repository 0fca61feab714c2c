"""Structured-Streaming incremental extraction tests."""

import pathlib

from mdscraper_spark.config import ExtractConfig
from mdscraper_spark.sources.pages import PAGES_SCHEMA, bulk_pages_df
from mdscraper_spark.streaming.incremental import stream_extract

CFG = ExtractConfig(exclude_selectors=(".ads", "#nav"))


def test_incremental_stream_extract(spark, tmp_path):
    inp = str(tmp_path / "pages_in")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")

    all_pages = bulk_pages_df(spark, 20).collect()

    # batch 1: first 12 pages
    spark.createDataFrame(all_pages[:12], PAGES_SCHEMA) \
         .write.mode("append").parquet(inp)
    stream_extract(spark, inp, out, ckpt, CFG)
    got1 = {r.url for r in spark.read.parquet(out).select("url").collect()}
    assert len(got1) == 12

    # batch 2: 8 new pages + 4 re-crawled duplicates of batch-1 urls
    spark.createDataFrame(all_pages[12:] + all_pages[:4], PAGES_SCHEMA) \
         .write.mode("append").parquet(inp)
    stream_extract(spark, inp, out, ckpt, CFG)
    docs = spark.read.parquet(out).collect()
    urls = [r.url for r in docs]
    # batch-1 files are not reprocessed (checkpoint) and the re-crawled
    # urls are dropped by the state restored from the checkpoint: every
    # url extracted exactly once across both increments
    assert sorted(urls) == sorted({r[0] for r in all_pages})
    ok = [r for r in docs if r.status == "ok"]
    assert len(ok) == len(docs)
    sample = next(r for r in docs if r.url.endswith("page00000"))
    assert sample.markdown.startswith("# Report 0")


def test_stateful_host_crawl_stats(spark, tmp_path):
    from mdscraper_spark.streaming.stateful import host_crawl_stats

    inp = str(tmp_path / "pages_state_in")
    ckpt = str(tmp_path / "state_ckpt")
    all_pages = bulk_pages_df(spark, 30).collect()

    # two increments processed through the SAME checkpoint: state
    # (per-host totals) must carry across restarts
    out = str(tmp_path / "state_out")

    def run_increment(rows, epoch_tag):
        spark.createDataFrame(rows, PAGES_SCHEMA) \
             .write.mode("append").parquet(inp)
        stream = spark.readStream.schema(PAGES_SCHEMA).parquet(inp)

        def sink(batch_df, epoch_id):
            batch_df.withColumn("run", F.lit(epoch_tag)) \
                    .write.mode("append").parquet(out)

        q = (host_crawl_stats(stream).writeStream
             .foreachBatch(sink)
             .outputMode("update").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {r.url_host: r for r in
                spark.read.parquet(out)
                .filter(F.col("run") == epoch_tag).collect()}

    from pyspark.sql import functions as F
    got1 = run_increment(all_pages[:18], "r1")
    assert sum(r.n_pages_total for r in got1.values()) == 18

    got2 = run_increment(all_pages[18:], "r2")

    # totals are cumulative across increments (state restored), and the
    # second batch only counts its own rows in batch_pages
    import collections
    expect_total = collections.Counter()
    from urllib.parse import urlparse
    for r in all_pages:
        expect_total[urlparse(r[0]).netloc] += 1
    for host, row in got2.items():
        assert row.n_pages_total == expect_total[host]
        assert row.batch_pages <= row.n_pages_total


def test_incremental_kg_edge_accumulation(spark, tmp_path):
    """foreachBatch + merge_table: per-batch triple support sums into
    raw_edges exactly-once; the accumulated table equals a one-shot
    batch mine over the whole corpus, and a re-run with no new files
    changes nothing (checkpoint)."""
    from pyspark.sql import functions as F

    from mdscraper_spark.operators import kg as kg_ops
    from mdscraper_spark.operators.extract_udfs import extract_markdown
    from mdscraper_spark.sources.fixtures import alias_rows
    from mdscraper_spark.sources.tables import Warehouse
    from mdscraper_spark.streaming.kg_incremental import stream_kg_update

    inp = str(tmp_path / "kg_pages_in")
    wh_path = str(tmp_path / "kg_wh")
    ckpt = str(tmp_path / "kg_ckpt")
    all_pages = bulk_pages_df(spark, 40).collect()

    spark.createDataFrame(all_pages[:25], PAGES_SCHEMA) \
         .write.mode("append").parquet(inp)
    stream_kg_update(spark, inp, wh_path, ckpt, CFG)
    spark.createDataFrame(all_pages[25:], PAGES_SCHEMA) \
         .write.mode("append").parquet(inp)
    stream_kg_update(spark, inp, wh_path, ckpt, CFG)

    wh = Warehouse(spark, wh_path)
    got = {(r.subj, r.pred, r.obj): r.n_support
           for r in wh.read_table("raw_edges").collect()}

    # batch ground truth over the full corpus in one pass
    docs = extract_markdown(
        spark.createDataFrame(all_pages, PAGES_SCHEMA), CFG)
    gaz = tuple((a, t) for a, _e, _c, t, _p in alias_rows())
    _mentions, triples = kg_ops.split_mined(
        kg_ops.mine_kg_combined(docs, gaz))
    want = {(r.subj, r.pred, r.obj): r.n
            for r in triples
            .groupBy("subj", "pred", "obj")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want and len(got) > 0

    # no new files -> checkpoint makes the re-run a no-op
    n_snapshots = len(wh.snapshots("raw_edges"))
    stream_kg_update(spark, inp, wh_path, ckpt, CFG)
    assert {(r.subj, r.pred, r.obj): r.n_support
            for r in wh.read_table("raw_edges").collect()} == want
    assert len(wh.snapshots("raw_edges")) == n_snapshots


def test_lambda_loop_streaming_plus_canonicalize_matches_batch(
        spark, tmp_path):
    """The full lambda loop, end to end: micro-batch ingest (two
    increments through the SAME checkpoint — the second invocation IS
    a restart of the standing query), a crash-replay probe against
    every accumulated table, then the periodic batch canonicalization —
    and the final kg_nodes/kg_edges hash-match the one-shot batch build
    over every page ever ingested."""
    from pyspark.sql import functions as F

    from mdscraper_spark.operators import kg as kg_ops
    from mdscraper_spark.operators.extract_udfs import extract_markdown
    from mdscraper_spark.sources.fixtures import alias_rows
    from mdscraper_spark.sources.tables import Warehouse
    from mdscraper_spark.streaming.kg_incremental import (
        RAW_COREF, RAW_EDGES, RAW_MENTIONS, canonicalize_accumulated,
        merge_accumulate, stream_kg_update)

    inp = str(tmp_path / "lambda_pages_in")
    wh_path = str(tmp_path / "lambda_wh")
    ckpt = str(tmp_path / "lambda_ckpt")
    all_pages = bulk_pages_df(spark, 40).collect()

    # increment 1, then a mid-stream restart (same checkpoint) for
    # increment 2
    spark.createDataFrame(all_pages[:25], PAGES_SCHEMA) \
         .write.mode("append").parquet(inp)
    stream_kg_update(spark, inp, wh_path, ckpt, CFG)
    spark.createDataFrame(all_pages[25:], PAGES_SCHEMA) \
         .write.mode("append").parquet(inp)
    stream_kg_update(spark, inp, wh_path, ckpt, CFG)

    # crash-replay probe: re-applying an already-committed batch id
    # must not change ANY accumulated table (each tracks its own id)
    wh = Warehouse(spark, wh_path)
    before = {t: sorted(map(tuple, wh.read_table(t).collect()))
              for t in (RAW_EDGES, RAW_COREF, RAW_MENTIONS)}
    dummy = spark.createDataFrame(
        [("zz", "works for", "zz", 9)],
        "subj string, pred string, obj string, n_support long")
    merge_accumulate(wh, RAW_EDGES, dummy, ("subj", "pred", "obj"),
                     "n_support", batch_id=0, partition_by=("pred",))
    assert sorted(map(tuple, wh.read_table(RAW_EDGES).collect())) \
        == before[RAW_EDGES]

    # periodic batch canonicalization over the accumulated tables
    nodes, edges = canonicalize_accumulated(spark, wh_path)
    got_edges = {(r.src, r.pred, r.dst): r.n_support
                 for r in edges.collect()}
    got_nodes = {r.canon_id: (r.label, r.n_mentions)
                 for r in nodes.collect()}

    # one-shot batch build over the same 40 pages
    docs = extract_markdown(
        spark.createDataFrame(all_pages, PAGES_SCHEMA), CFG)
    gaz = tuple((a, t) for a, _e, _c, t, _p in alias_rows())
    mentions, triples = kg_ops.split_mined(
        kg_ops.mine_kg_combined(docs, gaz))
    links = kg_ops.link_entities(mentions, kg_ops.alias_df(spark))
    cmap = kg_ops.connected_components(kg_ops.coreference_edges(links))
    want_edges = {(r.src, r.pred, r.dst): r.n_support
                  for r in kg_ops.build_kg_edges(triples, cmap).collect()}
    want_nodes = {r.canon_id: (r.label, r.n_mentions)
                  for r in kg_ops.build_kg_nodes(cmap, mentions,
                                                 kg_ops.alias_df(spark))
                  .collect()}

    assert got_edges == want_edges and len(got_edges) > 0
    assert got_nodes == want_nodes and len(got_nodes) > 0
    # the canonicalization also materialized warehouse snapshots
    assert wh.exists("kg_edges") and wh.exists("kg_nodes")


def test_kg_stream_cli(spark, tmp_path, capsys):
    """spark-submit entry for the lambda loop: --ingest drains the
    available files, --canonicalize materializes the graph; combined
    invocation prints both results."""
    import json

    from mdscraper_spark.jobs.kg_stream import main
    from mdscraper_spark.sources.tables import Warehouse

    inp = str(tmp_path / "cli_pages_in")
    wh_path = str(tmp_path / "cli_wh")
    ckpt = str(tmp_path / "cli_ckpt")
    spark.createDataFrame(bulk_pages_df(spark, 15).collect(),
                          PAGES_SCHEMA).write.parquet(inp)
    main(["--input", inp, "--warehouse", wh_path,
          "--checkpoint", ckpt, "--ingest", "--canonicalize"])
    out = json.loads([l for l in capsys.readouterr().out.splitlines()
                      if l.startswith("{")][-1])
    assert out["ingested"] and out["n_edges"] > 0 and out["n_nodes"] > 0
    wh = Warehouse(spark, wh_path)
    assert wh.exists("raw_edges") and wh.exists("kg_edges")

    # second increment + snapshot expiry: the accumulated tables keep
    # only the newest snapshot, and the accumulated contents survive
    spark.createDataFrame(bulk_pages_df(spark, 25).collect()[15:],
                          PAGES_SCHEMA).write.mode("append").parquet(inp)
    before = wh.read_table("raw_edges").count()
    main(["--input", inp, "--warehouse", wh_path, "--checkpoint", ckpt,
          "--ingest", "--expire-keep", "1"])
    out2 = json.loads([l for l in capsys.readouterr().out.splitlines()
                       if l.startswith("{")][-1])
    assert "raw_edges" in out2["expired"]
    assert len(wh.snapshots("raw_edges")) == 1
    assert wh.read_table("raw_edges").count() >= before


def test_exactly_once_survives_compaction(spark, tmp_path):
    """compact() must carry snapshot properties forward: the replay
    guard reads last_batch_id/stream_id from the CURRENT manifest, and
    a maintenance compaction between micro-batches must not re-admit a
    replayed batch."""
    from mdscraper_spark.sources.tables import Warehouse
    from mdscraper_spark.streaming.kg_incremental import merge_edge_support

    wh = Warehouse(spark, str(tmp_path / "compact_wh"))
    edges = spark.createDataFrame(
        [("a", "works for", "X", 2)],
        "subj string, pred string, obj string, n_support long")
    merge_edge_support(wh, edges, batch_id=0, stream_id="/ckpt/c")
    wh.compact("raw_edges")
    props = wh.manifest("raw_edges")["properties"]
    assert props["last_batch_id"] == 0 and props["stream_id"] == "/ckpt/c"
    merge_edge_support(wh, edges, batch_id=0, stream_id="/ckpt/c")  # replay
    got = [r.n_support for r in wh.read_table("raw_edges").collect()]
    assert got == [2]                    # not double-counted


def test_cc_raises_when_rounds_exhausted(spark):
    """The distributed CC must fail loudly, not return silently split
    components, when a component's diameter exceeds the round budget."""
    import pytest

    from mdscraper_spark.operators.kg import connected_components

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(8)], "src string, dst string")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_iter=1, local_solve_threshold=0)
    # same graph with budget: one component, min label wins
    cmap = connected_components(chain, max_iter=25, local_solve_threshold=0)
    assert {r.canon_id for r in cmap.collect()} == {"n0"}


def test_merge_accumulate_refuses_foreign_stream_ids(spark, tmp_path):
    """Batch ids are only meaningful within one checkpoint's numbering:
    a warehouse accumulated under one checkpoint must refuse batches
    from a different one (a fresh checkpoint restarts ids at 0 and
    re-reads all input — skip OR apply would both corrupt)."""
    import pytest

    from mdscraper_spark.sources.tables import Warehouse
    from mdscraper_spark.streaming.kg_incremental import merge_edge_support

    wh = Warehouse(spark, str(tmp_path / "sid_wh"))
    edges = spark.createDataFrame(
        [("a", "works for", "X", 1)],
        "subj string, pred string, obj string, n_support long")
    merge_edge_support(wh, edges, batch_id=0, stream_id="/ckpt/one")
    merge_edge_support(wh, edges, batch_id=1, stream_id="/ckpt/one")
    with pytest.raises(RuntimeError, match="checkpoint"):
        merge_edge_support(wh, edges, batch_id=0, stream_id="/ckpt/two")
    # legacy caller without identity is still accepted (no claim made)
    merge_edge_support(wh, edges, batch_id=1)  # replay: skipped silently
    got = {r.n_support for r in wh.read_table("raw_edges").collect()}
    assert got == {2}


def test_expire_snapshots_rejects_keep_zero(spark, tmp_path):
    """keep_last=0 would delete every data dir while the manifest
    survives — refused loudly instead of silently emptying the table."""
    import pytest

    from mdscraper_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "exp_wh"))
    wh.write_table(spark.range(3).toDF("id"), "t")
    with pytest.raises(ValueError, match="keep_last"):
        wh.expire_snapshots("t", keep_last=0)
    assert wh.read_table("t").count() == 3


def test_kg_incremental_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch id that was
    already committed (crash between table commit and epoch log) must
    NOT double-count support — the applied id travels inside the
    snapshot manifest, atomic with the data."""
    from pyspark.sql import functions as F

    from mdscraper_spark.sources.tables import Warehouse
    from mdscraper_spark.streaming.kg_incremental import merge_edge_support

    wh = Warehouse(spark, str(tmp_path / "replay_wh"))
    edges = spark.createDataFrame(
        [("a", "works for", "X", 2), ("b", "works for", "Y", 1)],
        "subj string, pred string, obj string, n_support long")
    merge_edge_support(wh, edges, batch_id=0)
    merge_edge_support(wh, edges, batch_id=0)      # replay: skipped
    got = {(r.subj, r.obj): r.n_support
           for r in wh.read_table("raw_edges").collect()}
    assert got == {("a", "X"): 2, ("b", "Y"): 1}

    merge_edge_support(wh, edges, batch_id=1)      # genuine new batch
    got = {(r.subj, r.obj): r.n_support
           for r in wh.read_table("raw_edges").collect()}
    assert got == {("a", "X"): 4, ("b", "Y"): 2}
    # pred-partitioned: the merge is partition-scoped, not full-table
    assert wh.manifest("raw_edges")["partition_by"] == ["pred"]


def test_stream_extract_canonical_url_dedup(spark, tmp_path):
    inp = str(tmp_path / "canon_in")
    out = str(tmp_path / "canon_out")
    ckpt = str(tmp_path / "canon_ckpt")

    base = bulk_pages_df(spark, 3).collect()
    # re-spell page 0's url with tracking noise + case/slash changes:
    # same canonical identity, same content
    r0 = base[0]
    spellings = [
        r0.url + "?utm_source=feed",
        r0.url.replace("https://", "HTTPS://") + "/",
    ]
    rows = list(base) + [
        (s, r0.warc_ts, r0.html, r0.text, r0.lang) for s in spellings]
    spark.createDataFrame(rows, PAGES_SCHEMA) \
         .write.mode("append").parquet(inp)
    stream_extract(spark, inp, out, ckpt, CFG, canonical_urls=True)
    docs = spark.read.parquet(out).collect()
    # 3 distinct pages, not 5: both re-spellings collapsed onto page 0
    assert len(docs) == 3
    assert len({r.url for r in docs}) == 3
    assert all(r.status == "ok" for r in docs)


def test_stream_extract_from_warc_shards(spark, tmp_path):
    """Round 4: standing ingest straight off arriving WARC shards —
    each landed shard is processed exactly once per checkpoint, and
    the extracted markdown matches the batch run over the same pages
    byte-for-byte (one shared record walk + one shared extract op)."""
    from mdscraper_spark.operators.extract_udfs import extract_markdown
    from mdscraper_spark.sources import warc
    from mdscraper_spark.streaming.incremental import stream_extract_warc

    all_pages = bulk_pages_df(spark, 16).collect()
    shard_dir = str(tmp_path / "warc_in")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")

    warc.write_warc_shards(
        spark.createDataFrame(all_pages[:10], PAGES_SCHEMA).coalesce(1),
        shard_dir).collect()
    stream_extract_warc(spark, shard_dir, out, ckpt, CFG)
    got1 = {r.url for r in spark.read.parquet(out).select("url").collect()}
    assert got1 == {p.url for p in all_pages[:10]}

    # second shard lands; re-run drains ONLY the new file
    warc.write_warc_shards(
        spark.createDataFrame(all_pages[10:], PAGES_SCHEMA).coalesce(1),
        str(tmp_path / "warc_b2")).collect()
    import glob
    import shutil
    (b2,) = glob.glob(str(tmp_path / "warc_b2" / "*.warc"))
    shutil.copy(b2, shard_dir + "/shard-b2.warc")
    stream_extract_warc(spark, shard_dir, out, ckpt, CFG)
    docs = spark.read.parquet(out).collect()
    assert len(docs) == 16  # no re-processing of shard 1
    assert {r.url for r in docs} == {p.url for p in all_pages}

    # byte parity vs the batch path over identical pages
    batch = extract_markdown(
        spark.createDataFrame(all_pages, PAGES_SCHEMA), CFG).collect()
    want = {r.url: r.markdown for r in batch}
    assert {r.url: r.markdown for r in docs} == want


def test_kg_stream_from_warc_matches_parquet_ingest(spark, tmp_path):
    """Round 4: the standing KG ingest accepts WARC shards
    (input_format='warc') and accumulates to the SAME canonical
    nodes/edges as the parquet-pages ingest over identical pages."""
    from mdscraper_spark.sources import warc
    from mdscraper_spark.streaming.kg_incremental import (
        canonicalize_accumulated, stream_kg_update)

    all_pages = bulk_pages_df(spark, 30).collect()

    pq_in = str(tmp_path / "pages_pq")
    spark.createDataFrame(all_pages, PAGES_SCHEMA).write.parquet(pq_in)
    wh_pq = str(tmp_path / "wh_pq")
    stream_kg_update(spark, pq_in, wh_pq, str(tmp_path / "ck_pq"), CFG)
    nodes_pq, edges_pq = canonicalize_accumulated(spark, wh_pq)
    want = (sorted(map(tuple, nodes_pq.collect())),
            sorted(map(tuple, edges_pq.collect())))

    warc_in = str(tmp_path / "pages_warc")
    warc.write_warc_shards(
        spark.createDataFrame(all_pages, PAGES_SCHEMA).repartition(3),
        warc_in).collect()
    wh_w = str(tmp_path / "wh_warc")
    stream_kg_update(spark, warc_in, wh_w, str(tmp_path / "ck_w"), CFG,
                     input_format="warc")
    nodes_w, edges_w = canonicalize_accumulated(spark, wh_w)
    got = (sorted(map(tuple, nodes_w.collect())),
           sorted(map(tuple, edges_w.collect())))
    assert got == want
