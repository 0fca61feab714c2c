"""Output check for one KG-build pass.

The pass's tables are compared with the repo's single-threaded references
on a seeded sample of pages, and with the generator's planted truth on the
whole corpus:

* every page has a markdown_docs row with status ``ok``;
* sampled markdown is byte-identical to ``extract.pipeline.extract_page``;
* sampled mentions and triples equal ``kg.oracle.run_oracle``;
* planted-triple precision and recall are both >= MIN_PR.

``problems()`` works on plain Python rows so it can be tested without Spark;
``collect()`` pulls those rows out of a pass's tables.
"""

from __future__ import annotations

import random
from collections import Counter
from typing import Dict, List, Sequence

from mdscraper_spark.config import ExtractConfig
from mdscraper_spark.kg.oracle import run_oracle
from mdscraper_spark.sources import fixtures

MIN_PR = 0.95
SAMPLE_PAGES = {"crawl_large": 6, "alias_50k": 16}


def html_text(html: bytes) -> str:
    # the same decode the extraction UDF applies
    return bytes(html).decode("utf-8", errors="replace")


def sample_urls(corpus, seed: int) -> List[str]:
    rng = random.Random(f"check:{corpus.name}:{seed}")
    k = min(SAMPLE_PAGES[corpus.name], corpus.n_pages)
    return sorted(r[0] for r in rng.sample(corpus.rows, k))


def reference(corpus, urls: Sequence[str]) -> dict:
    """Single-threaded expected rows for the sampled urls."""
    wanted = set(urls)
    pages = [(r[0], html_text(r[2])) for r in corpus.rows if r[0] in wanted]
    alias_rows = (corpus.alias_rows if corpus.alias_rows is not None
                  else fixtures.alias_rows())
    out = run_oracle(pages, alias_rows, ExtractConfig())
    return {
        "markdown": {row[0]: row[1] for row in out["markdown_docs"]},
        "mentions": sorted(out["mentions"]),
        "triples": sorted(out["triples"]),
    }


def collect(tables: dict, urls: Sequence[str]) -> dict:
    """The rows ``problems()`` inspects, pulled from one pass's tables."""
    from pyspark.sql import functions as F

    docs = tables["markdown_docs"]
    in_sample = F.col("url").isin(list(urls))
    return {
        "status": {r.status: r.n for r in docs.groupBy("status")
                   .agg(F.count("*").alias("n")).collect()},
        "markdown": {r.url: r.markdown for r in
                     docs.filter(in_sample).select("url", "markdown").collect()},
        "mentions": sorted(tuple(r) for r in tables["mentions"].filter(in_sample)
                           .select("url", "sent_id", "span_start", "span_end",
                                   "surface", "mtype").collect()),
        "triples_sample": sorted(tuple(r) for r in tables["triples"]
                                 .filter(in_sample)
                                 .select("url", "sent_id", "subj", "pred",
                                         "obj", "conf").collect()),
        "triples_all": [tuple(r) for r in tables["triples"]
                        .select("url", "subj", "pred", "obj").collect()],
    }


def planted_pr(planted: Dict[str, list], triples_all: Sequence[tuple]):
    """(precision, recall) of extracted (url, subj, pred, obj) rows against
    the planted relations, as multisets."""
    truth = Counter((url, *t) for url, ts in planted.items() for t in ts)
    got = Counter(triples_all)
    hit = sum((truth & got).values())
    precision = hit / max(sum(got.values()), 1)
    recall = hit / max(sum(truth.values()), 1)
    return precision, recall


def problems(observed: dict, corpus, expected: dict) -> List[str]:
    """Human-readable mismatches; an empty list means the pass is correct."""
    out = []
    status = dict(observed["status"])
    if status != {"ok": corpus.n_pages}:
        out.append(f"status histogram {status} != all {corpus.n_pages} ok")
    for url, md in expected["markdown"].items():
        if observed["markdown"].get(url) != md:
            out.append(f"markdown differs from extract_page for {url}")
    if observed["mentions"] != expected["mentions"]:
        out.append(f"sampled mentions differ from run_oracle "
                   f"({len(observed['mentions'])} vs "
                   f"{len(expected['mentions'])} rows)")
    if observed["triples_sample"] != expected["triples"]:
        out.append(f"sampled triples differ from run_oracle "
                   f"({len(observed['triples_sample'])} vs "
                   f"{len(expected['triples'])} rows)")
    precision, recall = planted_pr(corpus.planted, observed["triples_all"])
    if precision < MIN_PR or recall < MIN_PR:
        out.append(f"planted-triple P/R {precision:.4f}/{recall:.4f} "
                   f"below {MIN_PR}")
    return out
