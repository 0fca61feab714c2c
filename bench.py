"""Per-round benchmark harness (driver contract).

Runs the headline suite at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the
host's CPU count) and prints ONE JSON line: {"metric", "value" (total
sec), "unit": "sec", "queries": {name: sec}, "sf", plus kg-throughput
extras}.

The KG end-to-end bench is the north-star metric: pages/sec over a
pre-materialized synthetic crawl (generation is NOT timed; the
pipeline reads parquet like production reads Iceberg).  Query timings
force full computation through the noop sink so Catalyst cannot prune
the work away.

The KG timing here (run_kg_pipeline) is this suite's in-memory
KgBuild pass.  Two-parallelism scaling evidence is a different
workload: tools/scaling_bench.py times the batch job (KgBuildJob.run)
at local[N] and local[4N] and prints rows to append to
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

HEADLINE = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "latest_order_per_customer",
    "rollup_lang_source",
    "hourly_event_stats",
    "dedup_exact",
    "minhash_signatures",
    "simhash16",
    "ngram_jaccard_pairs",
    "near_dedup_groups",
    "paragraph_dedup",
    "dup_span_stats",
    "url_normalize_dedup",
    "doc_chunks",
    "cosine_topk",
    "lsh_topk",
    "ivf_topk",
    "dedup_embedding_pairs",
    "event_sessions",
    "asof_prior_click",
    "doc_token_stats",
    "doc_quality_score",
    "doc_repetition_stats",
    "benchmark_contamination",
    "extract_markdown_docs",
)


# round-5 registry additions, timed for the record but EXCLUDED from
# headline_suite_total (rounds <= 4 had no such entries, and the
# total must stay comparable round-over-round).
# CLOSED at 22 entries: tests/test_bench_contract.py's worst-case
# synthesis shows a 23rd key would push the headline line past the
# 1800-char guard (driver tail is 2000).  Later registry rows
# (kg_entity_card onward) are check_oracle/pytest-covered and timed
# ad hoc in BENCH/BASELINE.md instead of per-round here.
EXTRAS = (
    "graph_triangle_clustering",
    "doc_unigram_logprob",
    "doc_tfidf_keywords",
    "weighted_sample_docs",
    "corpus_mixture_schedule",
    "source_health_rollup",
    "kg_pmi_cooccurrence",
    "anchor_text_rollup",
    "mirror_shingle_overlap",
    "kg_component_sizes",
    "gopher_rules_filter",
    "ccnet_quality_buckets",
    "winnowing_fingerprints",
    "winnowing_shared_pairs",
    "c4_line_filter",
    "dsir_importance_weights",
    "semdedup_flags",
    "gopher_repetition_stats",
    "dup_span_scrub",
    "kg_khop_reach",
    "kg_hits",
    "doc_lexical_diversity",
)

def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def materialize_pages(spark, n_pages: int, path: str,
                      num_partitions: int | None = None) -> None:
    """Write the synthetic crawl.  num_partitions controls the FILE
    count, which caps scan parallelism downstream (one row group per
    file -> splits cannot subdivide a file): too few files quantizes a
    timed stage into idle-core waves.  Production Iceberg tables have
    abundant files/row-groups, so this is bench-corpus plumbing only."""
    from mdscraper_spark.sources.pages import bulk_pages_df

    df = bulk_pages_df(spark, n_pages, num_partitions=num_partitions)
    df.write.mode("overwrite").parquet(path)


def run_kg_pipeline(spark, pages_path: str) -> dict:
    from mdscraper_spark.config import ExtractConfig
    from mdscraper_spark.operators import kg as kg_ops
    from mdscraper_spark.operators.extract_udfs import extract_markdown
    from mdscraper_spark.sources.fixtures import alias_rows

    pages = spark.read.parquet(pages_path)
    cfg = ExtractConfig(exclude_selectors=(".ads", "#nav"))
    # the batch job's composition; its persisted mined rows feed both
    # canonicalization and the edges, so extraction runs once
    with kg_ops.KgBuild(extract_markdown(pages, cfg), alias_rows()) as kg:
        cmap_rows, _node_rows = kg.canonicalize()
        edges = kg.edges(spark.createDataFrame(
            cmap_rows, kg_ops.CANONICAL_MAP_SCHEMA))
        return {"n_edges": edges.count()}


def driver_mem(cpus: int) -> str:
    """Default driver heap for ``local[cpus]``: in local mode the driver
    heap IS the executor heap, and 8g with 32 task threads chewing HTML
    strings is GC-bound, so 1g per task thread, never below 8g."""
    return f"{max(8, cpus)}g"


def main() -> None:
    from mdscraper_spark.session import default_parallelism, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_parallelism()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", driver_mem(cpus))
    sf = float(pathlib.Path(sf_dir).name.replace("sf", "") or 0.1)

    from mdscraper_spark.queries import REGISTRY

    spark = get_spark("bench", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus,
                      extra_conf={
                          # bench-scale split sizing (see tools/scaling_bench)
                          "spark.sql.files.maxPartitionBytes":
                              str(2 * 1024 * 1024),
                          "spark.sql.files.openCostInBytes":
                              str(512 * 1024),
                      })
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict = {}
    rep_times: dict = {}     # name -> every rep's wall sec (not just min)
    rep_busy: dict = {}      # name -> host-busy fraction around each rep

    def _proc_stat():
        f = pathlib.Path("/proc/stat").read_text().splitlines()[0].split()
        vals = [int(x) for x in f[1:]]
        return vals[3], sum(vals)          # (idle, total) jiffies

    # -- KG end-to-end (north-star): pages/sec -------------------------
    n_pages = max(2000, int(100_000 * sf))
    workdir = tempfile.mkdtemp(prefix="bench_pages_")

    def timed_min(name, fn, reps: int = 2) -> float:
        """Min of `reps` timed passes: this sandbox VM's throughput
        swings several-x between identical runs (host contention), and
        min is the estimator of true capacity under additive noise.
        Every rep's wall time AND the whole-host busy fraction around
        it are recorded in the JSON (round-3 verdict item 4: three
        rounds of driver bench files were dominated by unrecorded host
        noise — the numbers must carry their own weather report)."""
        best = float("inf")
        rep_times[name], rep_busy[name] = [], []
        for _ in range(reps):
            idle0, tot0 = _proc_stat()
            t0 = time.monotonic()
            fn()
            wall = time.monotonic() - t0
            idle1, tot1 = _proc_stat()
            busy = 1.0 - (idle1 - idle0) / max(1, tot1 - tot0)
            rep_times[name].append(round(wall, 3))
            rep_busy[name].append(round(busy, 2))
            best = min(best, wall)
        return best

    try:
        pages_path = str(pathlib.Path(workdir) / "pages")
        materialize_pages(spark, n_pages, pages_path,
                          num_partitions=4 * cpus)
        run_kg_pipeline(spark, pages_path)  # warm-up (JVM + Python workers)
        kg_sec = timed_min("kg_pipeline",
                           lambda: run_kg_pipeline(spark, pages_path))
        timings["kg_pipeline"] = round(kg_sec, 3)
        pages_per_sec = round(n_pages / kg_sec, 1)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    # -- headline registry queries --------------------------------------
    for name in HEADLINE:
        fn, _sql = REGISTRY[name]
        force(fn(spark, sf_dir))  # warm-up
        # cheap queries get a third rep: on this several-x-noisy host
        # the min estimator tightens a lot for sub-second timings
        timings[name] = round(
            timed_min(name, lambda: force(fn(spark, sf_dir)), reps=3), 3)

    # -- round-5 extras: timed, excluded from the comparable total -----
    for name in EXTRAS:
        fn, _sql = REGISTRY[name]
        force(fn(spark, sf_dir))  # warm-up
        timings[name] = round(
            timed_min(name, lambda: force(fn(spark, sf_dir))), 3)

    # the round-5 extras stay out of the suite total so
    # headline_suite_total stays comparable round-over-round
    total = round(sum(v for k, v in timings.items()
                      if k not in EXTRAS), 3)
    # Weather report (per-rep walls + host-busy fraction around each
    # rep + loadavg at exit) goes on its OWN line, printed FIRST: the
    # driver keeps only the last 2000 chars of stdout and parses the
    # final line, so the headline line below must stay compact and
    # last.  (Round-4 verdict item 1: folding these diagnostics into
    # the headline line pushed it past the tail window and cost the
    # round its official number.)  busy >> what this process can use
    # alone means the minima below are still UPPER bounds on true cost
    # (shared-VM contention).
    print(json.dumps({
        "weather": {
            "rep_times": rep_times,
            "rep_host_busy": rep_busy,
            "loadavg": [round(x, 1) for x in os.getloadavg()],
        }
    }))
    headline = json.dumps({
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "kg_pages": n_pages,
        "kg_pages_per_sec": pages_per_sec,
        "cpus": cpus,
    })
    # hard guard: the driver tail is 2000 chars; leave headroom for the
    # trailing newline and any stray log line.  tests/test_bench_contract.py
    # enforces the same 1800 bound against a worst-case-width synthesis
    # of the real HEADLINE+EXTRAS lists, so growth trips CI before it
    # trips a live run.
    assert len(headline) < 1800, f"headline line too long: {len(headline)}"
    print(headline)


if __name__ == "__main__":
    main()
