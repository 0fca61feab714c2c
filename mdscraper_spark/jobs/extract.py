"""spark-submit entry point (reference CLI parity, G3/G5).

Every reference flag (/root/reference/mdscraper/cli.py:12-52) maps to
an ExtractConfig field; the per-file/per-URL modes become table-scale
modes over the pages table:

* ``--url URL``       — EP1 (scraper.py:915-916): the single pages row
  with that url.
* ``--url-file FILE`` — EP2 (scraper.py:753-767): text file of urls,
  blank lines dropped, broadcast-semi-joined into the pages scan.
* ``--site SEED``     — EP3 (scraper.py:769-785): extract the seed
  page, harvest its in-content links onto the seed's scheme://host
  root (with --exclude-pages globs), then semi-join the harvested
  work-list back into pages and extract those.

Launch:

    spark-submit --py-files dist/mdscraper_spark.zip \\
        mdscraper_spark/jobs/extract.py \\
        --input /path/to/pages_parquet --warehouse /path/to/warehouse \\
        --no-images --exclude-selectors .ads #nav \\
        --run-id run-42 --resume

Config precedence matches the reference (defaults < --settings file <
CLI flags; scraper.py:184-191), including the debug->verbose-9
promotion quirk (scraper.py:161-164).  --save-settings dumps the
resolved config as block-style YAML named ``mdscrapper_{ts}.yaml``
(sic — the reference's typo'd prefix, utils.py:154-189 +
scraper.py:204-215) and exits.  With --debug, pages whose content
detection failed are dumped to a ``debug_html`` warehouse table — the
table-scale analog of the reference's debug_html.html dump
(scraper.py:406-411).
"""

from __future__ import annotations

import argparse
import dataclasses
import datetime
import json
import pprint
import sys


def create_cli_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        description="mdscraper-spark: extract Markdown + build the KG "
                    "from a pages table")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="pages parquet/Iceberg path")
    src.add_argument("--synthesize", type=int, metavar="N",
                     help="generate N deterministic synthetic pages")
    p.add_argument("--format", default="table", choices=("table", "warc"),
                   dest="input_format",
                   help="--input format: 'table' (parquet/Iceberg pages "
                        "table, default) or 'warc' (directory of "
                        "Common-Crawl-style WARC/1.0 response shards)")
    mode = p.add_mutually_exclusive_group()
    mode.add_argument("--url", default=None,
                      help="process the single pages row with this url")
    mode.add_argument("--url-file", default=None,
                      help="text file of urls (one per line) to process")
    mode.add_argument("--site", default=None, metavar="SEED_URL",
                      help="harvest the seed page's links and process the "
                           "harvested urls")
    p.add_argument("--warehouse", required=True, help="output warehouse dir")
    p.add_argument("--output", default=None,
                   help="output name mode: %%TITLE (default), %%URL, or a "
                        "fixed filename used verbatim")
    p.add_argument("--outdir", default=None,
                   help="output directory prefix for derived doc paths and "
                        "--save-settings")
    p.add_argument("--content", "-c", nargs="*", default=None,
                   help="additional div id/class names for the main content")
    p.add_argument("--no-images", "-i", action="store_true")
    p.add_argument("--no-links", action="store_true")
    p.add_argument("--prepend-source-link", action="store_true")
    p.add_argument("--root-url", "-r", default=None)
    p.add_argument("--exclude-pages", "-p", nargs="*", default=None,
                   help="page-name globs to drop from link harvests")
    p.add_argument("--exclude-selectors", "-s", nargs="*", default=None,
                   help="CSS selectors to strip before rendering")
    p.add_argument("--extra-heading-space", metavar="LEVELS", default=None)
    p.add_argument("--settings", help="YAML/JSON config file")
    p.add_argument("--save-settings", action="store_true",
                   help="dump resolved config as YAML and exit")
    p.add_argument("--debug", "-d", action="store_true",
                   help="print resolved options; dump failed-detection "
                        "pages' HTML to the debug_html table")
    p.add_argument("--verbose", "-v", action="count", default=0,
                   help="runtime information; repeat to increase level")
    p.add_argument("--run-id", default=None)
    p.add_argument("--resume", action="store_true",
                   help="skip url-host buckets already ok in lineage")
    p.add_argument("--n-buckets", type=int, default=256)
    p.add_argument("--extract-only", action="store_true",
                   help="stop after markdown_docs (no KG back end)")
    p.add_argument("--master", default=None)
    return p


def load_settings_file(path: str) -> dict:
    """YAML-first, JSON-fallback (reference utils.py:124-152)."""
    import yaml

    with open(path, "r", encoding="utf-8") as fh:
        try:
            data = yaml.safe_load(fh)
        except yaml.YAMLError:
            fh.seek(0)
            data = json.load(fh)
    if not isinstance(data, dict):
        raise ValueError("Config file content must be a dictionary")
    return data


def save_settings_file(config, outdir: str = "") -> str:
    """Block-style YAML dump named mdscrapper_{YYYYmmdd_HHMM}.yaml in
    outdir (reference utils.py:154-189 create_config_file +
    generate_filename, scraper.py:204-215 — typo'd prefix preserved)."""
    import os

    import yaml

    stamp = datetime.datetime.now().strftime("%Y%m%d_%H%M")
    out = os.path.join(outdir or "", f"mdscrapper_{stamp}.yaml")
    cfg = {k: (list(v) if isinstance(v, tuple) else v)
           for k, v in dataclasses.asdict(config).items()}
    with open(out, "w", encoding="utf-8") as fh:
        yaml.dump(cfg, fh, default_flow_style=False)
    print(f"Config file created successfully: {out}")
    return out


def main(argv=None) -> None:
    args = create_cli_parser().parse_args(argv)

    from mdscraper_spark.config import resolve_config

    cli_opts = {}
    for key in ("content", "no_images", "no_links", "prepend_source_link",
                "root_url", "exclude_pages", "exclude_selectors",
                "extra_heading_space", "output", "outdir", "debug"):
        val = getattr(args, key)
        if val not in (None, False):
            cli_opts[key] = tuple(val) if isinstance(val, list) else val
    if args.verbose:
        cli_opts["verbose"] = args.verbose
    file_opts = load_settings_file(args.settings) if args.settings else None
    config = resolve_config(cli_opts, file_opts)

    if config.debug:
        # scraper.py:161-166: debug prints the resolved options
        print("Options:")
        pprint.pprint(dataclasses.asdict(config))

    if args.save_settings:
        save_settings_file(config, config.outdir)
        return

    from pyspark.sql import functions as F

    from mdscraper_spark.jobs.kg_build import KgBuildJob
    from mdscraper_spark.session import get_spark
    from mdscraper_spark.sources.pages import bulk_pages_df

    spark = get_spark("mdscraper-spark-extract", master=args.master)
    if args.input and args.input_format == "warc":
        from mdscraper_spark.sources.warc import read_warc

        pages = read_warc(spark, args.input)
    else:
        pages = (spark.read.parquet(args.input) if args.input
                 else bulk_pages_df(spark, args.synthesize))

    if args.url:
        pages = pages.filter(F.col("url") == args.url)
    elif args.url_file:
        from mdscraper_spark.operators.links import url_file_source

        urls = url_file_source(spark, args.url_file).select("url").distinct()
        pages = pages.join(F.broadcast(urls), "url", "left_semi")
    elif args.site:
        pages = _site_worklist(spark, pages, args.site, config)

    if config.verbose > 0:
        print(f"Fetching and parsing pages into {args.warehouse}...")

    run_id = args.run_id or datetime.datetime.now().strftime("run-%Y%m%d%H%M%S")
    job = KgBuildJob(spark, args.warehouse, config, n_buckets=args.n_buckets)
    if args.extract_only:
        job.extract(pages, run_id, args.resume)
    else:
        job.run(pages, run_id=run_id, resume=args.resume)

    if config.debug:
        _dump_debug_html(job.wh, pages)

    counts = {name: job.wh.read_table(name).count()
              for name in ("markdown_docs",) + (
                  () if args.extract_only else
                  ("mentions", "triples", "entity_links", "kg_nodes",
                   "kg_edges"))}
    if config.verbose > 0:
        docs = job.wh.read_table("markdown_docs")
        kb = (docs.agg(F.sum(F.octet_length("markdown"))).first()[0] or 0) / 1024.0
        print(f"Successfully saved to {args.warehouse} ({kb:.2f} KB)")
    if config.verbose > 1:
        sample = (job.wh.read_table("markdown_docs")
                  .filter(F.col("status") == "ok")
                  .select("markdown").orderBy("url").first())
        if sample and sample[0]:
            preview = sample[0][:300]
            print("\n--- Markdown Content Preview ---\n")
            print(preview + ("..." if len(sample[0]) > 300 else ""))
            print("\n--- End of Preview ---")
    print(json.dumps({"run_id": run_id, "tables": counts}))


def _site_worklist(spark, pages, seed_url: str, config):
    """EP3 site mode (scraper.py:769-785): extract the seed page,
    harvest links rewritten onto the seed's scheme://host, semi-join
    the harvested urls back into the pages scan.  The work-list comes
    from ONE seed page, so it broadcasts.

    site_root parity quirk (scraper.py:779): the reference builds it
    from ``urlparse(...).hostname`` — lowercased, PORT DROPPED — so a
    seed on a non-default port harvests urls that won't match the
    pages table.  Pinned as reference behavior; because the failure
    mode here is a silent empty run, a non-empty harvest that matches
    zero pages raises instead."""
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from mdscraper_spark.operators.extract_udfs import extract_markdown
    from mdscraper_spark.operators.links import site_seed_urls

    seed_page = pages.filter(F.col("url") == seed_url)
    if seed_page.limit(1).count() == 0:
        raise SystemExit(
            f"--site {seed_url}: seed url not found in the pages table "
            "— nothing to harvest (check for a typo; the match is "
            "exact)")
    seed_docs = extract_markdown(seed_page, config)
    parsed = urlparse(seed_url)
    site_root = f"{parsed.scheme}://{parsed.hostname}"
    work = site_seed_urls(seed_docs, site_root, config.exclude_pages)
    # ONE pass over the seed extraction: the harvest comes from a
    # single page, so collect it once and drive both the zero-match
    # guard and the work-list filter from the local list (an isin
    # filter pushes down into the pages scan; no extra Spark actions
    # re-running the extraction UDF)
    harvested = sorted({r.harvested_url for r in work.collect()})
    matched = pages.filter(F.col("url").isin(harvested))
    if harvested and matched.limit(1).count() == 0:
        raise SystemExit(
            f"--site {seed_url}: harvested urls match no pages rows "
            f"(sample: {harvested[:3]}); note the reference's site_root "
            "drops the port and lowercases the host (scraper.py:779)")
    return matched


def _dump_debug_html(wh, pages) -> None:
    """Table-scale analog of the reference's debug_html.html dump
    (scraper.py:406-411): every page whose content detection failed,
    with its HTML, lands in the debug_html table for inspection."""
    from pyspark.sql import functions as F

    failed = (wh.read_table("markdown_docs")
              .filter(F.col("status") == "no_content")
              .select("url", "status"))
    dump = pages.join(failed, "url", "left_semi").select("url", "html")
    wh.write_table(dump, "debug_html")
    n = sum(wh.manifest("debug_html")["record_counts"].values())
    print(f"Saved HTML of {n} failed-detection pages to debug_html")


if __name__ == "__main__":
    main()
