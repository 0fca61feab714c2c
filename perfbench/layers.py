"""Per-layer metrics for a ``--trace 1`` run (see DRILLDOWN.md for the map
from each metric to the end-to-end metric and workload it should move)."""

from __future__ import annotations

import os
import random
from typing import Dict

import spans
from check import html_text

MIB = float(1 << 20)
PY_LAYER_SAMPLE = {"crawl_large": 16, "alias_50k": 60}

# the layer expected to dominate each workload's pass
PREDICTED_DOMINANT = {
    "crawl_large": "extract",
    "alias_50k": "mine",
}

# traced spans grouped into the layers the dominance verdict compares
SHARE_GROUPS = {
    "extract": ("operators.extract_udfs.extract_markdown",),
    "mine": ("operators.kg.mine_kg_combined",),
    "link+canon+graph+overhead": (
        "operators.kg.link_entities", "operators.kg.connected_components",
        "operators.kg.build_kg_nodes", "operators.kg.build_kg_edges",
        "jobs.kg_build.overhead"),
}


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def peak_batch_mib(pages, n_buckets: int) -> float:
    """Largest Arrow batch (url + html bytes) the extraction stage's input
    produces: the same scan, pruning and session batch size, with a probe
    function in place of the extraction UDF."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mdscraper_spark.sources.pages import with_part_id

    def probe(batches):
        for pdf in batches:
            size = int(pdf["html"].map(len).sum() + pdf["url"].str.len().sum())
            yield pd.DataFrame({"bytes": [size]})

    pruned = with_part_id(pages, n_buckets).select("url", "warc_ts", "html", "lang")
    row = pruned.mapInPandas(probe, "bytes long").agg(F.max("bytes")).first()
    return (row[0] or 0) / MIB


def table_counts(tables, corpus) -> Dict[str, float]:
    from pyspark.sql import functions as F

    from mdscraper_spark.kg import rules

    docs = tables["markdown_docs"]
    status = {r.status: r.n for r in
              docs.groupBy("status").agg(F.count("*").alias("n")).collect()}
    out = {f"extract.status.{s}": status.get(s, 0)
           for s in ("ok", "no_content", "render_empty", "error")}
    out["extract.html_mib_in"] = sum(corpus.html_sizes()) / MIB
    out["extract.markdown_mib_out"] = (
        docs.agg(F.sum("n_bytes")).first()[0] or 0) / MIB
    out["mine.sentences"] = sum(
        len(rules.split_sentences(r.markdown)) for r in
        docs.filter(F.col("status") == "ok").select("markdown").collect())
    out["mine.mentions"] = tables["mentions"].count()
    out["mine.triples"] = tables["triples"].count()
    out["link.links"] = tables["entity_links"].count()
    out["canon.components"] = (tables["canonical_map"]
                               .select("canon_id").distinct().count())
    out["graph.nodes"] = tables["kg_nodes"].count()
    out["graph.edges"] = tables["kg_edges"].count()
    return out


def per_layer(bench, timed: dict, second: dict, out_dir: str) -> dict:
    """``timed`` is the run's first (cold) pass, ``second`` the untraced pass
    after it; the traced replay runs third, so spans compare with
    ``second``."""
    corpus, spark, args = bench.corpus, bench.spark, bench.args
    n = corpus.n_pages
    untraced = second["wall"]

    tracer = spans.Tracer(spark, run_id=f"{args.workload}-seed{args.seed}")
    job = bench.job("traced")
    tables = spans.traced_build(tracer, job, bench.pages)
    root = tracer.by_name("jobs.kg_build")
    traced_wall = root["end"] - root["start"]

    metrics: Dict[str, dict] = {}
    span_wall: Dict[str, float] = {}
    for name in spans.OPERATOR_SPANS:
        span = tracer.by_name(name)
        span_wall[name] = span["end"] - span["start"]
        metrics[f"{name}.wall_s"] = _m(span_wall[name], "s")
        metrics[f"{name}.self_s"] = _m(tracer.self_s(span), "s")
        metrics[f"{name}.cpu_s"] = _m(span["cpu_s"], "s")
        metrics[f"{name}.tasks"] = _m(span["tasks"], "count")
        metrics[f"{name}.spark_jobs"] = _m(span["jobs"], "count")
    overhead = untraced - sum(span_wall.values())
    metrics["jobs.kg_build.overhead_s"] = _m(overhead, "s")
    metrics["jobs.kg_build.spark_jobs"] = _m(timed["spark_jobs"], "count")
    metrics["jobs.kg_build.first_over_second_pass"] = _m(
        timed["wall"] / untraced, "ratio")
    # the replay skips the job's lineage bookkeeping, so its wall differs
    # from the job's by more than tracing; the tracer's own time is exact
    metrics["trace.overhead_frac"] = _m(tracer.bookkeeping_s / traced_wall,
                                        "ratio")

    # Spark-free Python layers over a seeded sample of the same pages
    rng = random.Random(f"layers:{corpus.name}:{args.seed}")
    sample = rng.sample(corpus.rows, min(PY_LAYER_SAMPLE[corpus.name], n))
    py = spans.python_layers([(r[0], html_text(r[2])) for r in sample],
                             job._gazetteer_entries(), job.config)
    secs, n_py = py["seconds"], py["pages"]
    for name in spans.EXTRACT_LAYERS + ("kg.rules.split_sentences",
                                        "kg.rules.extract_triples"):
        metrics[f"{name}.us_per_page"] = _m(secs[name] / n_py * 1e6, "us")
    metrics["kg.rules.detect_mentions.us_per_sentence"] = _m(
        secs["kg.rules.detect_mentions"] / max(py["sentences"], 1) * 1e6, "us")
    metrics["kg.rules.Gazetteer.build_ms"] = _m(py["gazetteer_build_s"] * 1e3, "ms")
    python_s = sum(secs.values()) / n_py * n
    stage_cpu = sum(tracer.by_name(s)["cpu_s"] for s in (
        "operators.extract_udfs.extract_markdown", "operators.kg.mine_kg_combined"))
    metrics["operators.arrow_overhead_frac"] = _m(1.0 - python_s / stage_cpu, "ratio")

    metrics["process.py_workers_spawned"] = _m(timed["workers_spawned"], "count")
    metrics["process.cpu_s_per_kpage"] = _m(timed["cpu_s"] / n * 1e3, "s")
    metrics["process.peak_batch_mib"] = _m(
        peak_batch_mib(bench.pages, job.n_buckets), "MiB")
    for name, value in table_counts(tables, corpus).items():
        metrics[name] = _m(value, "MiB" if name.endswith("_mib_in")
                           or name.endswith("_mib_out") else "count")
    bench.drop_pass("traced")

    # which layer dominated the traced pass, against the prediction
    walls = dict(span_wall, **{"jobs.kg_build.overhead": max(overhead, 0.0)})
    shares = {g: sum(walls[s] for s in members) / untraced
              for g, members in SHARE_GROUPS.items()}
    dominant = max(shares, key=shares.get)
    predicted = PREDICTED_DOMINANT[args.workload]
    verdict = "matches" if dominant == predicted else "does NOT match"
    print("layer shares of the second (untraced) pass wall: " + ", ".join(
        f"{g}={v:.1%}" for g, v in shares.items()), flush=True)
    print(f"dominant layer on {args.workload}: {dominant}; predicted "
          f"{predicted}: {verdict}", flush=True)
    print(f"tracing overhead on {args.workload}: "
          f"{tracer.bookkeeping_s:.3f}s of span bookkeeping in a "
          f"{traced_wall:.3f}s traced replay "
          f"({tracer.bookkeeping_s / traced_wall:.1%}); traced replay vs "
          f"untraced second KgBuildJob.run {untraced:.3f}s: "
          f"{traced_wall / untraced - 1.0:+.1%}", flush=True)

    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir,
                             f"trace-{args.workload}-seed{args.seed}.json"),
                extra={"metrics": metrics, "shares": shares,
                       "dominant": dominant, "predicted": predicted,
                       "untraced_walls": [timed["wall"], second["wall"]]})
    return metrics
