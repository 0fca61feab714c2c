#!/usr/bin/env python3
"""KG-build benchmark: ``KgBuildJob.run`` over generated pages tables.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_large --seed 1 --seconds 30 --trace 0

One run is one process, shaped like one batch submission of the job: cold
Spark set-up, input generation, then the timed pass, which is the first
``KgBuildJob.run`` of the process on a fresh warehouse, then the output
check.  The timed window is that one pass (``--seconds`` is the expected
length of it; see DRILLDOWN.md, "Why one cold pass").  Progress, one
weather line per pass and one line per phase go to stdout; the last stdout
line is the JSON result.

With ``--trace 1`` the timed pass is followed by a second, untraced pass, a
traced replay of the job's stages, a Spark-free timing of the Python
layers and an Arrow batch-size probe; the result then holds the per-layer
metrics, and the spans are written to ``perfbench/out/``.

Exit codes: 0 ok, 1 output check failed (result still printed), 2 usage
or environment error (no result printed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, "out")

# local[P]: 3 task slots on the 4-core host leave a core to the driver JVM
# and driver Python, which carry most of the job's per-stage work
MASTER = "local[3]"


def fail(msg: str):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Bench:
    def __init__(self, args, work: str) -> None:
        import gen
        import host

        self.args = args
        self.work = work
        self.gen, self.host = gen, host
        self.spark = None
        self.watch = host.WorkerWatch()
        self.urls = self.expected = None  # check sample, filled after a pass

    # -- set-up ------------------------------------------------------------
    def setup(self) -> float:
        """Process start -> session ready -> one tiny fixed extraction job."""
        from mdscraper_spark.config import ExtractConfig
        from mdscraper_spark.operators.extract_udfs import extract_markdown
        from mdscraper_spark.session import get_spark
        from mdscraper_spark.sources import fixtures
        from mdscraper_spark.sources.pages import PAGES_SCHEMA

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            app_name="perfbench", master=MASTER,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-wh"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        tiny = self.spark.createDataFrame(
            [fixtures.bulk_page_row(i) for i in range(8)], PAGES_SCHEMA)
        (extract_markdown(tiny, ExtractConfig()).write.format("noop")
         .mode("overwrite").save())
        return self.host.process_age_s()

    def load_inputs(self) -> None:
        self.corpus = self.gen.WORKLOADS[self.args.workload](self.args.seed)
        pages_dir = os.path.join(self.work, "pages")
        self.gen.write_pages(self.corpus, pages_dir)
        self.pages = self.spark.read.parquet(pages_dir)
        self.aliases = None
        if self.corpus.alias_rows is not None:
            alias_dir = os.path.join(self.work, "aliases")
            self.gen.write_aliases(self.corpus.alias_rows, alias_dir)
            self.aliases = self.spark.read.parquet(alias_dir)
        print(f"corpus {json.dumps(self.corpus.summary(), sort_keys=True)}",
              flush=True)

    # -- passes ------------------------------------------------------------
    def job(self, tag: str):
        from mdscraper_spark.jobs.kg_build import KgBuildJob

        wh = os.path.join(self.work, f"wh-{tag}")
        shutil.rmtree(wh, ignore_errors=True)
        return KgBuildJob(self.spark, wh, aliases=self.aliases)

    def drop_pass(self, tag: str) -> None:
        shutil.rmtree(os.path.join(self.work, f"wh-{tag}"), ignore_errors=True)

    def run_pass(self, tag: str) -> dict:
        """One untraced ``KgBuildJob.run`` plus its output check (the check
        runs after the clock stops)."""
        from check import collect, problems, reference, sample_urls
        from spans import spark_jobs_tasks

        job = self.job(tag)
        sc = self.spark.sparkContext
        weather = self.host.Weather(self.watch)
        workers0 = self.watch.n_seen()
        self.watch.reset_peaks()
        cpu0 = self.host.tree_cpu_s()
        sc.setJobGroup(f"pass-{tag}", "KgBuildJob.run")
        t0 = time.monotonic()
        try:
            tables = job.run(self.pages, run_id=f"pass-{tag}")
            error = None
        except Exception as exc:  # a failed pass is counted, not fatal
            tables, error = None, f"{type(exc).__name__}: {exc}"
        wall = time.monotonic() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        out = {"wall": wall, "cpu_s": self.host.tree_cpu_s() - cpu0,
               "peak_mib": self.watch.peak_mib(),
               "workers_spawned": self.watch.n_seen() - workers0,
               "spark_jobs": spark_jobs_tasks(sc, f"pass-{tag}")[0]}
        print(weather.line(tag, wall), flush=True)

        if self.expected is None:
            self.urls = sample_urls(self.corpus, self.args.seed)
            self.expected = reference(self.corpus, self.urls)
        bad = [error] if error else problems(
            collect(tables, self.urls), self.corpus, self.expected)
        out["notes"] = [f"pass {tag}: {b}" for b in bad]
        self.drop_pass(tag)
        return out

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers under it)
        to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def end_to_end(bench: Bench, setup_s: float, timed: dict) -> dict:
    return {
        "pages_per_s": {"value": bench.corpus.n_pages / timed["wall"],
                        "unit": "pages/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_py_worker_mib": {"value": timed["peak_mib"], "unit": "MiB"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import mdscraper_spark  # noqa: F401  (the program under test)
        import gen
    except ImportError as exc:
        fail(f"cannot import the program under test from {ROOT}: {exc}")
    if args.workload not in gen.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; "
             f"choose from {sorted(gen.WORKLOADS)}")
    if args.seconds <= 0:
        fail("--seconds must be positive")

    work_root = os.path.join(HERE, ".work")
    for stale in os.listdir(work_root) if os.path.isdir(work_root) else ():
        if not os.path.exists(f"/proc/{stale}"):  # left by a killed run
            shutil.rmtree(os.path.join(work_root, stale), ignore_errors=True)
    work = os.path.join(work_root, str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's Python workers import the program from the checkout, and
    # every temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    bench = Bench(args, work)

    def phase(name: str) -> None:
        print(f"phase {name} done at {bench.host.process_age_s():.2f}s",
              flush=True)

    try:
        with bench.watch:
            setup_s = bench.setup()
            phase("setup")
            bench.load_inputs()
            phase("inputs")
            timed = bench.run_pass("timed")
            passes = [timed]
            phase("timed")
            if args.trace:
                import layers
                second = bench.run_pass("second")
                passes.append(second)
                metrics = layers.per_layer(bench, timed, second, OUT_DIR)
                phase("trace")
            else:
                metrics = end_to_end(bench, setup_s, timed)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    phase("close")

    n = bench.corpus.n_pages
    notes = [note for p in passes for note in p["notes"]]
    for note in notes:
        print(f"CHECK FAILED {note}", flush=True)
    result = {"correct": not notes, "attempted": n * len(passes),
              "failed": n * sum(bool(p["notes"]) for p in passes),
              "metrics": metrics}
    print(json.dumps(result, sort_keys=True), flush=True)
    return 0 if not notes else 1


if __name__ == "__main__":
    sys.exit(main())
