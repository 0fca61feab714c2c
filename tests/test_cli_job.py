"""CLI surface tests (G3/G5 parity)."""

import json

import pytest

from mdscraper_spark.jobs.extract import create_cli_parser, load_settings_file


def test_parser_mutually_exclusive_source():
    p = create_cli_parser()
    with pytest.raises(SystemExit):
        p.parse_args(["--warehouse", "w"])  # no source
    with pytest.raises(SystemExit):
        p.parse_args(["--input", "a", "--synthesize", "5", "--warehouse", "w"])


def test_parser_full_flag_surface():
    p = create_cli_parser()
    a = p.parse_args([
        "--synthesize", "10", "--warehouse", "w",
        "--content", "zone-a", "zone-b", "--no-images", "--no-links",
        "--prepend-source-link", "--root-url", "https://x/docs",
        "--exclude-pages", "skip*", "--exclude-selectors", ".ads", "#nav",
        "--extra-heading-space", "2,3", "--resume", "--n-buckets", "64",
        "--run-id", "r9",
    ])
    assert a.synthesize == 10 and a.content == ["zone-a", "zone-b"]
    assert a.exclude_selectors == [".ads", "#nav"]


def test_settings_yaml_and_json(tmp_path):
    y = tmp_path / "cfg.yaml"
    y.write_text("no_images: true\nextra_heading_space: 'all'\n")
    assert load_settings_file(str(y)) == {"no_images": True,
                                          "extra_heading_space": "all"}
    j = tmp_path / "cfg.json"
    j.write_text(json.dumps({"no_links": True}))
    assert load_settings_file(str(j)) == {"no_links": True}
    bad = tmp_path / "bad.yaml"
    bad.write_text("- just\n- a list\n")
    with pytest.raises(ValueError):
        load_settings_file(str(bad))


def test_save_settings_yaml_roundtrip(tmp_path, monkeypatch):
    """B5: block-style YAML, reference's typo'd mdscrapper_{ts}.yaml
    name (utils.py:154-189, scraper.py:204-215), written into outdir,
    re-loadable by the settings reader."""
    monkeypatch.chdir(tmp_path)
    from mdscraper_spark.jobs.extract import main
    main(["--synthesize", "1", "--warehouse", "w", "--no-images",
          "--save-settings"])
    files = list(tmp_path.glob("mdscrapper_*.yaml"))
    assert len(files) == 1
    text = files[0].read_text()
    assert "no_images: true" in text      # block style, not JSON/flow
    cfg = load_settings_file(str(files[0]))
    assert cfg["no_images"] is True and cfg["verbose"] == 0

    outdir = tmp_path / "sub"
    outdir.mkdir()
    main(["--synthesize", "1", "--warehouse", "w", "--outdir", str(outdir),
          "--save-settings"])
    assert list(outdir.glob("mdscrapper_*.yaml"))


def test_debug_promotes_silent_verbose_to_9():
    """G4 quirk (scraper.py:161-164): debug promotes verbose 0 -> 9,
    but an explicit verbose level wins."""
    from mdscraper_spark.config import resolve_config

    assert resolve_config({"debug": True}).verbose == 9
    assert resolve_config({"debug": True, "verbose": 2}).verbose == 2
    assert resolve_config({}).verbose == 0
    # promotion also applies when debug arrives via the settings file
    assert resolve_config(None, {"debug": True}).verbose == 9


def test_output_naming_modes():
    """B2/G5 (scraper.py:800-837): %TITLE with %URL fallback, %URL,
    and fixed names used verbatim (no sanitize, no .md suffix)."""
    from mdscraper_spark.extract.pipeline import (derive_output_name,
                                                  output_path)

    md = "# My: Page?\n\nbody"
    assert derive_output_name("https://x/a/b.html", md, "%TITLE") == "My_ Page_"
    assert derive_output_name("https://x/a/b.html", "no title", "%TITLE") == "b.html"
    assert derive_output_name("https://x/a/b.html", md, "%URL") == "b.html"
    assert derive_output_name("https://x/a/b.html", md, "fixed:name.md") == "fixed:name.md"
    assert output_path("slug", "%TITLE", "out") == "out/slug.md"
    assert output_path("slug", "%URL", "") == "slug.md"
    assert output_path("fixed:name.md", "fixed:name.md", "out") == "out/fixed:name.md"


CONTENT = ('<html><head><title>T{i}</title></head><body><div class="content">'
           '<h1>Page {i}</h1><p>text {i}</p></div></body></html>')
SEED = ('<html><head><title>Seed</title></head><body><div class="content">'
        '<a href="/p1.html">One</a><a href="https://site.test/p2.html">Two</a>'
        '<a href="/skip-me.html">Skip</a></div></body></html>')


def _pages_parquet(spark, tmp_path):
    import datetime

    rows = [("https://site.test/index.html", SEED)]
    for i, path in enumerate(("p1.html", "p2.html", "skip-me.html",
                              "other.html")):
        rows.append((f"https://site.test/{path}", CONTENT.format(i=i)))
    rows.append(("https://elsewhere.test/x.html", CONTENT.format(i=9)))
    ts = datetime.datetime(2025, 6, 14)
    df = spark.createDataFrame(
        [(u, ts, h.encode(), None, "en") for u, h in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    path = str(tmp_path / "pages_pq")
    df.write.parquet(path)
    return path


def _docs_urls(spark, warehouse):
    from mdscraper_spark.sources.tables import Warehouse

    wh = Warehouse(spark, warehouse)
    return {r.url for r in wh.read_table("markdown_docs").collect()}


def test_site_mode_end_to_end(spark, tmp_path):
    """EP3 (scraper.py:769-785): seed harvest -> glob exclusion ->
    semi-join into pages -> extraction of ONLY the harvested urls."""
    from mdscraper_spark.jobs.extract import main

    pq = _pages_parquet(spark, tmp_path)
    wh_path = str(tmp_path / "wh_site")
    main(["--input", pq, "--warehouse", wh_path,
          "--site", "https://site.test/index.html",
          "--exclude-pages", "skip*", "--extract-only", "--n-buckets", "4"])
    assert _docs_urls(spark, wh_path) == {"https://site.test/p1.html",
                                          "https://site.test/p2.html"}


def test_site_mode_missing_seed_fails_loudly(spark, tmp_path):
    """A typo'd seed url must not complete as a silent empty run."""
    import pytest

    from mdscraper_spark.jobs.extract import main

    pq = _pages_parquet(spark, tmp_path)
    with pytest.raises(SystemExit, match="seed url not found"):
        main(["--input", pq, "--warehouse", str(tmp_path / "wh_miss"),
              "--site", "https://no-such-host.test/index.html",
              "--extract-only", "--n-buckets", "4"])


def test_url_and_url_file_modes(spark, tmp_path):
    from mdscraper_spark.jobs.extract import main

    pq = _pages_parquet(spark, tmp_path)
    wh1 = str(tmp_path / "wh_url")
    main(["--input", pq, "--warehouse", wh1,
          "--url", "https://site.test/p1.html",
          "--extract-only", "--n-buckets", "4"])
    assert _docs_urls(spark, wh1) == {"https://site.test/p1.html"}

    url_file = tmp_path / "urls.txt"
    url_file.write_text("https://site.test/p2.html\n\n"
                        "https://elsewhere.test/x.html\n")
    wh2 = str(tmp_path / "wh_file")
    main(["--input", pq, "--warehouse", wh2, "--url-file", str(url_file),
          "--extract-only", "--n-buckets", "4"])
    assert _docs_urls(spark, wh2) == {"https://site.test/p2.html",
                                      "https://elsewhere.test/x.html"}

    # a url matching no page still leaves a readable, empty markdown_docs
    wh3 = str(tmp_path / "wh_none")
    main(["--input", pq, "--warehouse", wh3,
          "--url", "https://site.test/no-such-page.html",
          "--extract-only", "--n-buckets", "4"])
    assert _docs_urls(spark, wh3) == set()


def test_debug_dumps_failed_detection_html(spark, tmp_path, capsys):
    """scraper.py:406-411 analog: --debug lands no_content pages' HTML
    in the debug_html table; options are printed."""
    import datetime

    from mdscraper_spark.jobs.extract import main
    from mdscraper_spark.sources.tables import Warehouse

    ts = datetime.datetime(2025, 6, 14)
    rows = [
        ("https://site.test/good.html", CONTENT.format(i=1)),
        ("https://site.test/bare.html",
         "<html><body><p>no container here</p></body></html>"),
    ]
    df = spark.createDataFrame(
        [(u, ts, h.encode(), None, "en") for u, h in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    pq = str(tmp_path / "pages_dbg")
    df.write.parquet(pq)

    wh_path = str(tmp_path / "wh_dbg")
    main(["--input", pq, "--warehouse", wh_path, "--debug",
          "--extract-only", "--n-buckets", "4"])
    out = capsys.readouterr().out
    assert "Options:" in out

    wh = Warehouse(spark, wh_path)
    dumped = wh.read_table("debug_html").collect()
    assert [r.url for r in dumped] == ["https://site.test/bare.html"]
    assert b"no container here" in bytes(dumped[0].html)


def test_outdir_and_output_produce_doc_path_column(spark, tmp_path):
    """B2 wired end-to-end: markdown_docs carries the derived doc_path
    (outdir-joined, mode-dependent suffix)."""
    from mdscraper_spark.jobs.extract import main
    from mdscraper_spark.sources.tables import Warehouse

    pq = _pages_parquet(spark, tmp_path)
    wh_path = str(tmp_path / "wh_paths")
    main(["--input", pq, "--warehouse", wh_path,
          "--url", "https://site.test/p1.html", "--output", "%URL",
          "--outdir", "out/md", "--extract-only", "--n-buckets", "4"])
    wh = Warehouse(spark, wh_path)
    row = wh.read_table("markdown_docs").first()
    assert row.doc_path == "out/md/p1.html.md"

    wh2_path = str(tmp_path / "wh_fixed")
    main(["--input", pq, "--warehouse", wh2_path,
          "--url", "https://site.test/p1.html", "--output", "notes.md",
          "--extract-only", "--n-buckets", "4"])
    row2 = Warehouse(spark, wh2_path).read_table("markdown_docs").first()
    assert row2.doc_path == "notes.md"      # fixed name verbatim, no outdir


def test_site_mode_zero_match_raises_instead_of_silent_empty(spark, tmp_path):
    """Reference parity pins site_root to scheme://hostname (port
    dropped, scraper.py:779); when that makes the harvest match no
    pages rows the job must fail loudly, not extract nothing."""
    import datetime

    import pytest as _pytest

    from mdscraper_spark.jobs.extract import main

    ts = datetime.datetime(2025, 6, 14)
    rows = [("https://site.test:8443/index.html", SEED),
            ("https://site.test:8443/p1.html", CONTENT.format(i=1))]
    df = spark.createDataFrame(
        [(u, ts, h.encode(), None, "en") for u, h in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    pq = str(tmp_path / "pages_port")
    df.write.parquet(pq)
    with _pytest.raises(SystemExit, match="match no pages rows"):
        main(["--input", pq, "--warehouse", str(tmp_path / "wh_port"),
              "--site", "https://site.test:8443/index.html",
              "--extract-only", "--n-buckets", "4"])


def test_doc_path_join_semantics(spark):
    """os.path.join parity: trailing-slash outdir doesn't double the
    slash; an absolute fixed name discards outdir (scraper.py:826-831)."""
    from pyspark.sql import Row

    from mdscraper_spark.config import ExtractConfig
    from mdscraper_spark.operators.extract_udfs import with_doc_path

    docs = spark.createDataFrame(
        [Row(doc_slug="slug", status="ok"),
         Row(doc_slug="x", status="no_content")])

    def path_of(cfg):
        rows = with_doc_path(docs, cfg).orderBy("doc_slug").collect()
        return rows[0].doc_path, rows[1].doc_path

    ok, failed = path_of(ExtractConfig(outdir="out/md/"))
    assert ok == "out/md/slug.md" and failed is None
    ok, _ = path_of(ExtractConfig(output="/abs/notes.md", outdir="out"))
    assert ok == "/abs/notes.md"          # absolute fixed name wins
    ok, _ = path_of(ExtractConfig(output="notes.md", outdir="out"))
    assert ok == "out/notes.md"


def test_warc_input_format_matches_parquet_run(spark, tmp_path):
    """--format warc (round 4): the job reads Common-Crawl-style WARC
    shards and produces the SAME markdown_docs rows as the parquet run
    over identical pages (text/lang are NULL in a WARC capture, so the
    comparison is on url+markdown — the byte contract surface)."""
    from mdscraper_spark.jobs.extract import main
    from mdscraper_spark.sources import warc
    from mdscraper_spark.sources.tables import Warehouse

    pq = _pages_parquet(spark, tmp_path)
    shard_dir = str(tmp_path / "warc_in")
    warc.write_warc_shards(spark.read.parquet(pq), shard_dir).collect()

    wh_w = str(tmp_path / "wh_warc")
    main(["--input", shard_dir, "--format", "warc", "--warehouse", wh_w,
          "--extract-only", "--n-buckets", "4"])
    wh_p = str(tmp_path / "wh_pq")
    main(["--input", pq, "--warehouse", wh_p,
          "--extract-only", "--n-buckets", "4"])

    def docs(wh):
        return sorted((r.url, r.markdown, r.status)
                      for r in Warehouse(spark, wh)
                      .read_table("markdown_docs").collect())

    got, want = docs(wh_w), docs(wh_p)
    assert got == want and len(got) == 6


def test_extract_only_resume_then_full_resume_extracts_once(spark, tmp_path,
                                                           capsys):
    """--extract-only runs the job's own extract stage: it records
    extract lineage and honours --resume, so a later full --resume run
    on the same warehouse extracts nothing again, and markdown_docs
    equals one straight run's.  The row counts each run prints come
    from the manifests and equal the tables' own counts."""
    from pyspark.sql import functions as F

    from mdscraper_spark.jobs.extract import main
    from mdscraper_spark.sources.tables import Warehouse

    pq = _pages_parquet(spark, tmp_path)
    wh_two = str(tmp_path / "wh_two_step")

    def printed_counts(argv):
        capsys.readouterr()
        main(argv)
        last = capsys.readouterr().out.strip().splitlines()[-1]
        return json.loads(last)["tables"]

    counts = printed_counts(["--input", pq, "--warehouse", wh_two,
                             "--extract-only", "--resume", "--run-id", "r1",
                             "--n-buckets", "4"])
    assert counts == {"markdown_docs": 6}
    counts = printed_counts(["--input", pq, "--warehouse", wh_two,
                             "--resume", "--run-id", "r2",
                             "--n-buckets", "4"])
    wh = Warehouse(spark, wh_two)
    assert counts == {name: wh.read_table(name).count() for name in (
        "markdown_docs", "mentions", "triples", "entity_links", "kg_nodes",
        "kg_edges")}
    wh_one = str(tmp_path / "wh_straight")
    main(["--input", pq, "--warehouse", wh_one, "--run-id", "s",
          "--n-buckets", "4"])

    lineage = Warehouse(spark, wh_two).read_table("lineage")
    extract_runs = {r.run_id for r in lineage
                    .filter(F.col("stage") == "extract").collect()}
    assert extract_runs == {"r1"}
    assert lineage.filter(F.col("run_id") == "r2").count() > 0

    def docs(wh):
        table = Warehouse(spark, wh).read_table("markdown_docs")
        return sorted(map(tuple, table.select(*sorted(table.columns))
                          .collect()))

    got, want = docs(wh_two), docs(wh_one)
    assert got == want and len(got) == 6
