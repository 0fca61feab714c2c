"""Two-parallelism scaling evidence (north rule: efficiency >= 0.8
from N to 4N).

With no cluster at hand, the batch job (``KgBuildJob.run``, the same
job perfbench times) runs at local[N] and local[4N] on the SAME
pre-materialized input, with N = nproc // 4 (local[1] and local[4] on
a 4-core host; hosts under 4 cores cannot run the pair); we report
pages/sec at each level plus
  eff = throughput_4N / (4 * throughput_N)
and print the result as markdown table rows (to append to
BENCH/BASELINE.md by hand) and as one JSON line.

Measurement honesty on a noisy shared VM (observed: identical reps
varying 4x in burned cpu-seconds from host contention):
* levels are run INTERLEAVED round-robin, so slow host phases hit all
  levels instead of biasing whichever level ran during them;
* per level per round: fresh session, one discarded warm-up pass
  (JIT + python-worker pool), one timed pass, each into a fresh
  warehouse; MIN across rounds (on a several-x-noisy box, min
  estimates true capacity);
* the stage columns are the timed pass's own lineage: per stage, the
  max ``wall_ms`` of its rows.  The job runs independent writes at the
  same time, so the stage walls overlap and need not sum to the pass;
* host busy fraction from /proc/stat is sampled around every timed
  pass and reported, so external load is visible in the evidence;
* the corpus is 128 parquet files: one row group per file caps scan
  splits, and too few files quantizes a stage into idle-core waves
  (observed: 11 splits -> 2.65x, not 4x, from 2 to 8 cores);
* a Spark-free multiprocessing control runs the same per-page
  extraction at the same worker counts — the box's own parallel
  ceiling (turbo downclock, shared memory bus), i.e. what ANY
  software could reach here; Spark/control is the honest
  cluster-scaling predictor.

Usage: python tools/scaling_bench.py [n_pages] [n_rounds]
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from bench import driver_mem, materialize_pages  # noqa: E402

CONTROL_PAGES = 16_000


def levels(n_cpus: int) -> tuple:
    """(N, 4N) parallelism levels for an ``n_cpus`` host, N = n_cpus // 4."""
    if n_cpus < 4:
        raise SystemExit(f"scaling_bench needs at least 4 CPUs for an "
                         f"N -> 4N pair; this host has {n_cpus}")
    n = n_cpus // 4
    return (n, 4 * n)


def _control_work(args):
    lo, hi = args
    from mdscraper_spark.config import ExtractConfig
    from mdscraper_spark.extract.pipeline import extract_page
    from mdscraper_spark.sources.fixtures import bulk_page_row

    cfg = ExtractConfig(exclude_selectors=(".ads", "#nav"))
    n_ok = 0
    for i in range(lo, hi):
        row = bulk_page_row(i)
        n_ok += extract_page(row[0], row[2].decode(), cfg).status == "ok"
    return n_ok


def hardware_control(procs: int, n: int = CONTROL_PAGES) -> float:
    """Spark-free multiprocessing control at `procs` workers; pages/sec."""
    import multiprocessing as mp

    chunks = [(i * n // procs, (i + 1) * n // procs) for i in range(procs)]
    with mp.Pool(procs) as pool:
        pool.map(_control_work, [(0, 10)] * procs)  # import warm-up
        t0 = time.monotonic()
        pool.map(_control_work, chunks)
        dt = time.monotonic() - t0
    return n / dt


def _cpu_totals():
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    idle = vals[3] + vals[4]          # idle + iowait
    return sum(vals), idle


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


def timed_run(spark, pages_path: str, workdir: str):
    """(wall_sec, host_busy_fraction, stage_walls) for one
    ``KgBuildJob.run`` into a fresh warehouse under ``workdir``."""
    from mdscraper_spark.config import ExtractConfig
    from mdscraper_spark.jobs.kg_build import KgBuildJob

    warehouse = tempfile.mkdtemp(prefix="wh_", dir=workdir)
    job = KgBuildJob(spark, warehouse,
                     ExtractConfig(exclude_selectors=(".ads", "#nav")))
    pages = spark.read.parquet(pages_path)
    tot0, idle0 = _cpu_totals()
    t0 = time.monotonic()
    tables = job.run(pages, run_id="scale")
    wall = time.monotonic() - t0
    tot1, idle1 = _cpu_totals()
    busy = 1.0 - (idle1 - idle0) / max(1, tot1 - tot0)
    stages = stage_walls(tables["lineage"].collect(), "scale")
    shutil.rmtree(warehouse, ignore_errors=True)
    return wall, busy, stages


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    n_cpus = os.cpu_count() or 1
    pair = levels(n_cpus)
    lo, hi = pair
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", driver_mem(hi))

    from mdscraper_spark.session import get_spark

    workdir = tempfile.mkdtemp(prefix="scaling_bench_")
    pages_path = str(pathlib.Path(workdir) / "pages")

    # split-size tuned to the bench corpus so the scan parallelizes:
    # at 100 TB the default 128 MB splits give ample tasks; at bench
    # scale they would collapse the scan to a handful of tasks.
    conf = {"spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(512 * 1024)}

    gen = get_spark("gen", master=f"local[{n_cpus}]",
                    shuffle_partitions=2 * n_cpus, extra_conf=conf)
    gen.sparkContext.setLogLevel("ERROR")
    materialize_pages(gen, n_pages, pages_path, num_partitions=128)
    gen.stop()

    passes = {c: [] for c in pair}    # (wall, busy, stages) per round
    try:
        for rnd in range(n_rounds):
            for cpus in pair:
                spark = get_spark(f"scale-{cpus}-r{rnd}",
                                  master=f"local[{cpus}]",
                                  shuffle_partitions=2 * cpus,
                                  extra_conf=conf)
                spark.sparkContext.setLogLevel("ERROR")
                timed_run(spark, pages_path, workdir)   # warm-up, discarded
                wall, busy, stages = timed_run(spark, pages_path, workdir)
                passes[cpus].append((wall, busy, stages))
                print(f"round {rnd} local[{cpus}]: {wall:.2f}s "
                      f"(host busy {busy:.0%}) stages {stages}", flush=True)
                spark.stop()
        controls = {c: round(hardware_control(c), 1) for c in pair}
        for c in pair:
            print(f"control[{c}]: {controls[c]} pages/s", flush=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    results = {}
    for cpus in pair:
        # MIN across rounds: on a shared VM whose throughput swings
        # several-x, min is the estimator of true capacity (every
        # slowdown is additive noise); all passes stay visible.
        best = min(passes[cpus], key=lambda p: p[0])
        results[cpus] = {
            "wall_sec_min": round(best[0], 2),
            "wall_sec_all": [round(p[0], 2) for p in passes[cpus]],
            "host_busy": [round(p[1], 2) for p in passes[cpus]],
            "pages_per_sec": round(n_pages / best[0], 1),
            "stages": best[2],
            "control_pages_per_sec": controls[cpus],
        }

    def eff(lo, hi, key="pages_per_sec"):
        return round(results[hi][key] / ((hi / lo) * results[lo][key]), 3)

    def norm_eff(lo, hi):
        return round(eff(lo, hi) / eff(lo, hi, "control_pages_per_sec"), 3)

    report = {
        "n_pages": n_pages,
        "n_rounds": n_rounds,
        "levels": results,
        "scaling_efficiency_n_to_4n": eff(lo, hi),
        "hardware_ceiling_n_to_4n": eff(lo, hi, "control_pages_per_sec"),
        "normalized_efficiency_n_to_4n": norm_eff(lo, hi),
    }

    # markdown rows for BENCH/BASELINE.md, printed (appended by hand)
    print("| parallelism | pages | rounds | min wall s | all passes | "
          "host busy | pages/sec | extract s | mine s | link s | "
          "canon+graph s | control pages/sec |")
    print("|---|---|---|---|---|---|---|---|---|---|---|---|")
    for cpus in pair:
        r = results[cpus]
        walls = " | ".join(str(r["stages"][k]) for k in (
            "extract", "mine", "link", "canon+graph"))
        print(f"| local[{cpus}] | {n_pages} | {n_rounds} | "
              f"{r['wall_sec_min']} | {r['wall_sec_all']} | "
              f"{r['host_busy']} | {r['pages_per_sec']} | {walls} | "
              f"{r['control_pages_per_sec']} |")
    print("\nStage walls come from the min-wall pass's lineage and "
          "overlap: the job writes triples and entity_links while "
          "canon+graph runs, so they need not sum to the pass wall.\n")
    print("| pair | raw Spark eff | hardware ceiling (control) | "
          "software-attributable eff |")
    print("|---|---|---|---|")
    print(f"| N={lo} -> 4N={hi} | {report['scaling_efficiency_n_to_4n']} | "
          f"{report['hardware_ceiling_n_to_4n']} | "
          f"**{report['normalized_efficiency_n_to_4n']}** |")
    print(json.dumps(report))


if __name__ == "__main__":
    main()
