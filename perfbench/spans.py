"""Layer attribution from outside the program.

Two instruments, both built only from calls into the repo's public
functions:

* ``Tracer`` + ``traced_build``: the ``KgBuildJob.run`` stage order
  replayed operator by operator.  Each operator call, with its output
  forced to a warehouse write the way the job does it, is one span (name,
  start, end, parent, run id) carrying the process-tree CPU seconds and
  the Spark jobs/tasks it launched (``setJobGroup`` + ``statusTracker``).
  Spans stay in memory until ``Tracer.dump``.
* ``python_layers``: a Spark-free, single-process pass that times each
  Python layer of ``extract_page`` and of mining over a page sample.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional, Sequence

import host

OPERATOR_SPANS = (
    "operators.extract_udfs.extract_markdown",
    "operators.kg.mine_kg_combined",
    "operators.kg.link_entities",
    "operators.kg.connected_components",
    "operators.kg.build_kg_nodes",
    "operators.kg.build_kg_edges",
)


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self.bookkeeping_s = 0.0  # time spent recording spans, not in them

    def _group(self, span: dict) -> str:
        return f"{self.run_id}:{span['id']}"

    @contextmanager
    def span(self, name: str) -> Iterator[dict]:
        t_enter = time.monotonic()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": parent["id"] if parent else None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(self._group(rec), name)
        cpu0 = host.tree_cpu_s()
        rec["start"] = time.monotonic()
        self.bookkeeping_s += rec["start"] - t_enter
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            rec["cpu_s"] = host.tree_cpu_s() - cpu0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent), parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["jobs"], rec["tasks"] = spark_jobs_tasks(self.sc, self._group(rec))
            self.bookkeeping_s += time.monotonic() - rec["end"]

    def children(self, span: dict) -> List[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_s(self, span: dict) -> float:
        """Duration minus the union of the child spans inside it."""
        covered, cursor = 0.0, span["start"]
        for child in sorted(self.children(span), key=lambda s: s["start"]):
            lo, hi = max(child["start"], cursor), min(child["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return (span["end"] - span["start"]) - covered

    def by_name(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def dump(self, path: str, extra: Optional[dict] = None) -> None:
        doc = {"spans": [dict(s, self_s=self.self_s(s)) for s in self.spans]}
        doc.update(extra or {})
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)


def spark_jobs_tasks(sc, group: str):
    """(jobs, completed tasks) that ran under one job group."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    tasks = 0
    for job_id in job_ids:
        info = tracker.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else ()):
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(job_ids), tasks


def traced_build(tracer: Tracer, job, pages):
    """``KgBuildJob.run``'s stage order (fresh warehouse, no resume) with a
    span around every operator call and its forced write."""
    from mdscraper_spark.operators import kg as kg_ops
    from mdscraper_spark.operators.extract_udfs import (extract_markdown,
                                                        with_doc_path)
    from mdscraper_spark.sources.pages import with_part_id

    wh, n = job.wh, job.n_buckets
    with tracer.span("jobs.kg_build"):
        pages = with_part_id(pages, n)
        with tracer.span("operators.extract_udfs.extract_markdown"):
            docs = with_part_id(with_doc_path(extract_markdown(pages, job.config),
                                              job.config), n)
            wh.write_table(docs.repartition(n, "part_id"), "markdown_docs",
                           partition_by=("part_id",))
        docs = wh.read_table("markdown_docs")
        gaz_entries = job._gazetteer_entries()
        with tracer.span("operators.kg.mine_kg_combined"):
            mined = kg_ops.mine_kg_combined(docs, gaz_entries).persist()
            mentions, triples = kg_ops.split_mined(mined)
            wh.write_table(with_part_id(mentions, n), "mentions",
                           partition_by=("part_id",))
            wh.write_table(with_part_id(triples, n), "triples",
                           partition_by=("part_id",))
            mined.unpersist()
        mentions, triples = wh.read_table("mentions"), wh.read_table("triples")
        with tracer.span("operators.kg.link_entities"):
            links = kg_ops.link_entities(mentions, job.aliases, salt=job.salt)
            wh.write_table(with_part_id(links, n), "entity_links",
                           partition_by=("part_id",))
        links = wh.read_table("entity_links")
        with tracer.span("operators.kg.connected_components"):
            cmap = kg_ops.connected_components(
                kg_ops.coreference_edges(links),
                local_solve_threshold=job.cc_local_solve_threshold)
            wh.write_table(cmap, "canonical_map")
        cmap = wh.read_table("canonical_map")
        with tracer.span("operators.kg.build_kg_nodes"):
            wh.write_table(kg_ops.build_kg_nodes(cmap, mentions, job.aliases),
                           "kg_nodes")
        with tracer.span("operators.kg.build_kg_edges"):
            wh.write_table(kg_ops.build_kg_edges(triples, cmap), "kg_edges")
    return {name: wh.read_table(name) for name in (
        "markdown_docs", "mentions", "triples", "entity_links",
        "canonical_map", "kg_nodes", "kg_edges")}


# ---------------------------------------------------------------------------
# Spark-free Python layers
# ---------------------------------------------------------------------------

EXTRACT_LAYERS = (
    "htmlcore.dom.parse_html",
    "extract.pipeline.find_content_container",
    "extract.pipeline.strip",
    "mdrender.render.render_markdown",
    "extract.pipeline.finish_markdown",
)


def python_layers(pages: Sequence[tuple], gaz_entries: tuple, config) -> dict:
    """Time each Python layer over (url, html_text) pages in this process.

    The extraction steps follow ``extract_page``'s order; each page's
    result is compared with ``extract_page`` so the timed sequence cannot
    drift from the real one unnoticed.  Returns summed seconds per layer
    plus page/sentence counts.
    """
    from mdscraper_spark.extract import pipeline as pl
    from mdscraper_spark.htmlcore.dom import parse_html
    from mdscraper_spark.kg import rules
    from mdscraper_spark.mdrender.render import render_markdown

    clock = time.perf_counter
    secs: Dict[str, float] = {k: 0.0 for k in EXTRACT_LAYERS}
    secs.update({"extract.pipeline.other": 0.0, "kg.rules.split_sentences": 0.0,
                 "kg.rules.detect_mentions": 0.0, "kg.rules.extract_triples": 0.0})

    re.purge()  # a pattern compiled earlier in this process would be reused
    t0 = clock()
    gaz = rules.Gazetteer(gaz_entries)
    build_s = clock() - t0

    n_sentences = 0
    for url, html in pages:
        t0 = clock()
        root = parse_html(html)
        t1 = clock()
        content, _stage, _name = pl.find_content_container(root, config)
        t2 = clock()
        pl.harvest_links(content)
        t3 = clock()
        pl.process_exclude_selectors(content, config.exclude_selectors)
        if config.no_images:
            pl.remove_images(content)
        if config.no_links:
            pl.remove_links(content)
        else:
            pl.make_urls_relative(content, config.root_url)
        t4 = clock()
        title = pl.extract_page_title(root)
        t5 = clock()
        rendered = render_markdown(content)
        t6 = clock()
        markdown = pl.finish_markdown(
            rendered, title, url if config.prepend_source_link else None,
            config.extra_heading_space)
        t7 = clock()
        pl.derive_output_name(url, markdown, config.output)
        t8 = clock()
        sentences = rules.split_sentences(markdown)
        t9 = clock()
        rules.detect_mentions(sentences, gaz)
        t10 = clock()
        rules.extract_triples(sentences)
        t11 = clock()
        secs["htmlcore.dom.parse_html"] += t1 - t0
        secs["extract.pipeline.find_content_container"] += t2 - t1
        secs["extract.pipeline.strip"] += t4 - t3
        secs["mdrender.render.render_markdown"] += t6 - t5
        secs["extract.pipeline.finish_markdown"] += t7 - t6
        secs["extract.pipeline.other"] += (t3 - t2) + (t5 - t4) + (t8 - t7)
        secs["kg.rules.split_sentences"] += t9 - t8
        secs["kg.rules.detect_mentions"] += t10 - t9
        secs["kg.rules.extract_triples"] += t11 - t10
        n_sentences += len(sentences)
        if pl.extract_page(url, html, config).markdown != markdown:
            raise AssertionError(f"layered extraction diverged on {url}")
    return {"seconds": secs, "pages": len(pages), "sentences": n_sentences,
            "gazetteer_build_s": build_s}
