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

The KG timing is the batch job itself: ``KgBuildJob.run`` into a
fresh warehouse (extraction, mining, canonicalization and every table
write), timed by ``timed_run``, the pass timer tools/scaling_bench.py
uses too; perfbench times the same job.  Two-parallelism scaling
evidence is tools/scaling_bench.py: the job at local[N] and local[4N],
printed as rows to append to BENCH/BASELINE.md.
"""

from __future__ import annotations

import functools
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


# bench-scale split sizing: at 100 TB the default 128 MB splits give
# ample scan tasks; at bench scale they would collapse the scan to a
# handful of tasks
SPLIT_CONF = {"spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
              "spark.sql.files.openCostInBytes": str(512 * 1024)}


def _cpu_line() -> str:
    with open("/proc/stat") as f:
        return f.readline()


def busy_fraction(before: str, after: str) -> float:
    """Share of the host's CPU time spent busy between two /proc/stat
    ``cpu`` lines.  idle and iowait both count as idle: a CPU waiting
    on I/O runs nothing."""
    d = [int(b) - int(a) for a, b in zip(before.split()[1:],
                                         after.split()[1:])]
    return 1.0 - (d[3] + d[4]) / max(1, sum(d))


def timed(fn) -> tuple:
    """(wall_sec, host_busy_fraction, fn()) of one call of ``fn``."""
    cpu0 = _cpu_line()
    t0 = time.monotonic()
    out = fn()
    wall = time.monotonic() - t0
    return wall, busy_fraction(cpu0, _cpu_line()), out


def stage_walls(lineage_rows, run_id: str) -> dict:
    """Per-stage wall seconds of one run from its lineage rows: the max
    ``wall_ms`` over the run's rows of each stage (every bucket row of
    a stage carries the stage's wall), ``graph`` reported as
    ``canon+graph``; rows of other runs are ignored."""
    out: dict = {}
    for r in lineage_rows:
        if r["run_id"] == run_id:
            stage = "canon+graph" if r["stage"] == "graph" else r["stage"]
            out[stage] = max(out.get(stage, 0), r["wall_ms"])
    return {k: round(v / 1000, 2) for k, v in out.items()}


def timed_run(spark, pages_path: str, workdir: str) -> tuple:
    """(wall_sec, host_busy_fraction, stage_walls) for one
    ``KgBuildJob.run`` into a fresh warehouse under ``workdir``."""
    from mdscraper_spark.config import ExtractConfig
    from mdscraper_spark.jobs.kg_build import KgBuildJob

    warehouse = tempfile.mkdtemp(prefix="wh_", dir=workdir)
    job = KgBuildJob(spark, warehouse,
                     ExtractConfig(exclude_selectors=(".ads", "#nav")))
    pages = spark.read.parquet(pages_path)
    wall, busy, tables = timed(lambda: job.run(pages, run_id="bench"))
    stages = stage_walls(tables["lineage"].collect(), "bench")
    shutil.rmtree(warehouse, ignore_errors=True)
    return wall, busy, stages


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
                      shuffle_partitions=2 * cpus, extra_conf=SPLIT_CONF)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict = {}
    rep_times: dict = {}     # name -> every rep's wall sec (not just min)
    rep_busy: dict = {}      # name -> host-busy fraction around each rep

    def timed_min(name, timed_pass, reps: int = 2) -> float:
        """Min wall of `reps` calls of ``timed_pass``, each returning
        (wall_sec, host_busy_fraction, ...): a shared host's throughput
        swings several-x between identical runs (host contention), and
        min is the estimator of true capacity under additive noise.
        Every rep's wall time AND the whole-host busy fraction around
        it are recorded in the JSON (round-3 verdict item 4: three
        rounds of bench results were dominated by unrecorded host
        noise — the numbers must carry their own weather report)."""
        passes = [timed_pass() for _ in range(reps)]
        rep_times[name] = [round(p[0], 3) for p in passes]
        rep_busy[name] = [round(p[1], 2) for p in passes]
        return min(p[0] for p in passes)

    def query_pass(fn):
        return lambda: timed(lambda: force(fn(spark, sf_dir)))

    # -- KG end-to-end (north-star): pages/sec -------------------------
    n_pages = max(2000, int(100_000 * sf))
    workdir = tempfile.mkdtemp(prefix="bench_pages_")
    try:
        pages_path = str(pathlib.Path(workdir) / "pages")
        materialize_pages(spark, n_pages, pages_path,
                          num_partitions=4 * cpus)
        kg_pass = functools.partial(timed_run, spark, pages_path, workdir)
        kg_pass()  # warm-up (JVM + Python workers)
        kg_sec = timed_min("kg_pipeline", kg_pass)
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
        timings[name] = round(timed_min(name, query_pass(fn), reps=3), 3)

    # -- round-5 extras: timed, excluded from the comparable total -----
    for name in EXTRAS:
        fn, _sql = REGISTRY[name]
        force(fn(spark, sf_dir))  # warm-up
        timings[name] = round(timed_min(name, query_pass(fn)), 3)

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
