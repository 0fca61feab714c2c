"""Seeded input generators for the KG-build benchmark (pure Python + pyarrow).

Each workload is a pages table (the schema of
``mdscraper_spark.sources.pages.PAGES_SCHEMA``) written as parquet, plus an
optional alias dictionary table.  The same (workload, seed) always yields
the same bytes; no Spark is involved, so generation never touches the
program under test beyond reading its fixture vocabulary.

Workloads:

* ``crawl_large``: crawl-like page sizes.  Page j of n gets a target size
  drawn log-uniformly in [10, 200] KiB, stratified over the n pages (so the
  corpus total barely moves between seeds), and is filled with article
  paragraphs that carry planted relations, interleaved with the bodies of
  the repo's ``realistic-*`` / ``hostile-*`` extraction fixtures.
* ``alias_50k``: small bulk-style articles whose planted organisations come
  from a seeded 50,000-alias dictionary (the fixture aliases plus
  prefix-sharing synthetic ones and their upper-case variants), so mention
  detection dominates.
"""

from __future__ import annotations

import datetime
import math
import os
import random
import re
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from mdscraper_spark.sources import fixtures

KIB = 1024
REFERENCE_TS = datetime.datetime(2025, 6, 14, tzinfo=datetime.timezone.utc)

PAGES_ARROW_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])

ALIAS_ARROW_SCHEMA = pa.schema([
    pa.field("alias", pa.string(), nullable=False),
    pa.field("entity_id", pa.int64(), nullable=False),
    pa.field("canonical", pa.string(), nullable=False),
    pa.field("etype", pa.string(), nullable=False),
    pa.field("prior", pa.float64(), nullable=False),
])

# Fixture bodies that can be spliced into a larger page without changing
# how the surrounding article paragraphs extract: 60 copies interleaved
# with articles keep the page at status 'ok' with every planted relation
# mined.  Frozen here (not re-derived at run time) so the corpus does not
# change when the extractor or the fixture set does.  The six realistic-/
# hostile- cases left out (comment-edge, doctype-meta, eof-midtag,
# eof-rawtext, pi-bogus, tag-litter) swallow the markup that follows them.
SPLICE_FIXTURES: Tuple[str, ...] = (
    "hostile-annotation-layer", "hostile-article-first",
    "hostile-attr-edge", "hostile-attr-soup", "hostile-autolinks",
    "hostile-base-href", "hostile-bidi-shaping", "hostile-block-compose",
    "hostile-block-in-cell", "hostile-block-link", "hostile-blocks-in-pre",
    "hostile-body-metadata", "hostile-bom-plaintext",
    "hostile-br-containers", "hostile-br-hr", "hostile-br-seams",
    "hostile-cascade-ambiguity", "hostile-cascade-siblings",
    "hostile-case-tags", "hostile-cdata-body", "hostile-cell-asymmetry",
    "hostile-charref-nosemi", "hostile-charref-planes",
    "hostile-class-on-td", "hostile-class-vs-article",
    "hostile-code-interior", "hostile-code-lang",
    "hostile-code-span-algebra", "hostile-comments",
    "hostile-component-embeds", "hostile-cond-comments",
    "hostile-container-seams", "hostile-content-in-cell",
    "hostile-ctrl-chars", "hostile-custom-elements", "hostile-data-uri",
    "hostile-dd-interior", "hostile-deep-tables", "hostile-doc-anchors",
    "hostile-election-order", "hostile-em-adjacency", "hostile-empty-rows",
    "hostile-entities", "hostile-entity-collision",
    "hostile-entity-fence-cr", "hostile-entity-runs", "hostile-eof-attr",
    "hostile-exclude-all-interior", "hostile-fence-bytes-widgets",
    "hostile-fence-comment-misnest", "hostile-fence-flatten",
    "hostile-foreign", "hostile-form-table", "hostile-forms",
    "hostile-formula-colgroup", "hostile-frameset", "hostile-head-content",
    "hostile-header-boundary", "hostile-heading-edge",
    "hostile-heading-hash", "hostile-heading-interior",
    "hostile-id-vs-article", "hostile-iframe-noscript", "hostile-img-edge",
    "hostile-img-only-title", "hostile-implicit-close",
    "hostile-indic-scripts", "hostile-inline-empty",
    "hostile-inline-litter", "hostile-inline-oddities",
    "hostile-inline-semantics", "hostile-inline-tail",
    "hostile-inline-wrap-block", "hostile-integration-points",
    "hostile-invisible-chars", "hostile-lazy-img",
    "hostile-legacy-remnants", "hostile-legacy-tail", "hostile-link-edge",
    "hostile-link-titles", "hostile-linktext-interior",
    "hostile-list-compose", "hostile-list-edge", "hostile-list-indent-attr",
    "hostile-list-pre-linkblock", "hostile-map-area",
    "hostile-marker-width", "hostile-md-injection", "hostile-md-metachars",
    "hostile-media-elements", "hostile-media-links", "hostile-misnest",
    "hostile-nested-links", "hostile-newline-soup",
    "hostile-noncandidate-class", "hostile-object-fallback",
    "hostile-ordered-continuation", "hostile-ordinal-caption",
    "hostile-orphan-cells", "hostile-orphan-structural",
    "hostile-phantom-columns", "hostile-pre-code",
    "hostile-pre-newline-loose", "hostile-qa-macro", "hostile-quote-blocks",
    "hostile-quote-dl", "hostile-quote-preservation", "hostile-quote-table",
    "hostile-rawtext-markup", "hostile-rawtext-tails",
    "hostile-render-empty", "hostile-row-headers-dl", "hostile-ruby-anno",
    "hostile-script-cdata", "hostile-select-form", "hostile-self-exclude",
    "hostile-semantic-divless", "hostile-semantic-page", "hostile-soft-404",
    "hostile-srcdoc-iframe", "hostile-strike-fragments",
    "hostile-table-pipes", "hostile-table-recovery",
    "hostile-table-sections", "hostile-table-span", "hostile-tagsoup",
    "hostile-template-slot", "hostile-title-edge", "hostile-title-edges",
    "hostile-url-soup", "hostile-value-sequence", "hostile-ws-unicode",
    "hostile-xml-prolog", "realistic-ar-rtl", "realistic-blog",
    "realistic-consent-overlay", "realistic-docs", "realistic-forum-thread",
    "realistic-news", "realistic-newsletter", "realistic-product",
    "realistic-wiki", "realistic-zh-article",
)

_REL_TEMPLATES = (
    ("{p} works for {o}.", "works_for", "p", "o"),
    ("{p} founded {o}.", "founded", "p", "o"),
    ("{p} is the CEO of {o}.", "ceo_of", "p", "o"),
    ("{o} acquired {o2}.", "acquired", "o", "o2"),
    ("{o} is based in {c}.", "based_in", "o", "c"),
)

_FILLER = (
    "The quarterly report was released on schedule.",
    "Markets reacted with cautious optimism.",
    "Analysts expect steady growth next year.",
    "The announcement drew wide attention.",
    "Several projects remain under review.",
)

Triple = Tuple[str, str, str]


@dataclass
class Corpus:
    """One generated workload: pages rows, planted truth, alias rows."""

    name: str
    rows: List[tuple] = field(default_factory=list)   # (url, ts, html, text, lang)
    planted: Dict[str, List[Triple]] = field(default_factory=dict)
    alias_rows: Optional[List[tuple]] = None  # None: the fixture dictionary
    n_files: int = 8

    @property
    def n_pages(self) -> int:
        return len(self.rows)

    def html_sizes(self) -> List[int]:
        return [len(r[2]) for r in self.rows]

    def summary(self) -> dict:
        sizes = self.html_sizes()
        return {
            "pages": self.n_pages,
            "html_bytes_mean": round(sum(sizes) / len(sizes), 1),
            "html_bytes_min": min(sizes),
            "html_bytes_max": max(sizes),
            "aliases": len(self.alias_rows if self.alias_rows is not None
                           else fixtures.alias_rows()),
            "files": self.n_files,
        }


# ---------------------------------------------------------------------------
# shared article template
# ---------------------------------------------------------------------------

def article_sentences(rng: random.Random, people: Sequence[str],
                      orgs: Sequence[str],
                      cities: Sequence[str]) -> Tuple[List[str], List[Triple]]:
    """One short article: 1-3 planted relations among 2-4 filler lines."""
    person = people[rng.randrange(len(people))]
    o_idx = rng.randrange(len(orgs))
    org = orgs[o_idx]
    org2 = orgs[(o_idx + 1 + rng.randrange(len(orgs) - 1)) % len(orgs)]
    city = cities[rng.randrange(len(cities))]
    names = {"p": person, "o": org, "o2": org2, "c": city}
    sentences, planted = [], []
    for _ in range(1 + rng.randrange(3)):
        tmpl, pred, subj, obj = _REL_TEMPLATES[rng.randrange(len(_REL_TEMPLATES))]
        sentences.append(tmpl.format(**names))
        planted.append((names[subj], pred, names[obj]))
    for _ in range(2 + rng.randrange(3)):
        sentences.append(_FILLER[rng.randrange(len(_FILLER))])
    rng.shuffle(sentences)
    return sentences, planted


def _paragraphs(sentences: Sequence[str]) -> str:
    return "\n".join(f"<p>{s}</p>" for s in sentences)


def _page(i: int, title: str, body: str) -> str:
    return (f"<html>\n<head><title>Report {i}</title></head>\n<body>\n"
            f'<nav id="nav"><a href="/home">Home</a></nav>\n'
            f'<div class="ads">advertisement {i}</div>\n'
            f'<div id="article_content">\n<h1>{title}</h1>\n{body}\n'
            f"<h2>Notes</h2>\n<p>Compiled automatically for record {i}.</p>\n"
            f"</div>\n</body>\n</html>\n")


def _url(rng: random.Random, i: int, n_hosts: int = 100) -> str:
    # Zipf(1.2) hosts, as in the repo's bulk pages: hub domains skew buckets
    weights = [1.0 / ((k + 1) ** 1.2) for k in range(n_hosts)]
    host = rng.choices(range(n_hosts), weights)[0]
    return f"https://host{host:03d}.test/page{i:06d}"


def _row(url: str, i: int, html: str) -> tuple:
    return (url, REFERENCE_TS + datetime.timedelta(seconds=i),
            html.encode("utf-8"), None, fixtures.LANG_CYCLE[i % 4])


def _fixture_people_orgs_cities() -> Tuple[List[str], List[str], List[str]]:
    people = [fixtures.person_name(k) for k in range(fixtures.N_PEOPLE)]
    orgs = [fixtures.org_name(k) for k in range(fixtures.N_ORGS)]
    cities = [fixtures.city_name(k) for k in range(10)]
    return people, orgs, cities


_BODY_RE = re.compile(r"<body[^>]*>(.*)</body>", re.S | re.I)


def splice_bodies() -> List[str]:
    """Inner <body> markup of each splice fixture, in SPLICE_FIXTURES order."""
    out = []
    for case_id in SPLICE_FIXTURES:
        html = fixtures.FIXTURE_CASES[case_id]
        m = _BODY_RE.search(html)
        out.append((m.group(1) if m else html).strip())
    return out


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def crawl_large(seed: int, n_pages: int = 40) -> Corpus:
    """Crawl-sized pages: stratified log-uniform 10-200 KiB targets."""
    rng = random.Random(f"crawl_large:{seed}")
    people, orgs, cities = _fixture_people_orgs_cities()
    bodies = splice_bodies()
    # stratified log-uniform: one draw per 1/n quantile slice, then shuffled
    span = math.log(200 / 10)
    targets = [int(10 * KIB * math.exp(span * (j + rng.random()) / n_pages))
               for j in range(n_pages)]
    rng.shuffle(targets)
    corpus = Corpus("crawl_large", n_files=12)
    for i, target in enumerate(targets):
        url = _url(rng, i)
        chunks: List[str] = []
        planted: List[Triple] = []
        size = 0
        while size < target:
            sentences, triples = article_sentences(rng, people, orgs, cities)
            chunks.append(_paragraphs(sentences))
            planted.extend(triples)
            chunks.append(bodies[rng.randrange(len(bodies))])
            size += len(chunks[-2]) + len(chunks[-1])
        html = _page(i, f"Crawl page {i}", "\n".join(chunks))
        corpus.rows.append(_row(url, i, html))
        corpus.planted[url] = planted
    return corpus


def alias_dictionary(seed: int, n_aliases: int = 50_000) -> List[tuple]:
    """The fixture aliases plus seeded synthetic organisations.

    A synthetic organisation is a fixture name head (``Quantum Dynamics``)
    plus a number; numbers come in prefix chains (``... 123``,
    ``... 1234``, ``... 12345``), so many aliases share prefixes.  Each
    also gets its upper-case variant.  Numbers start at 100, above every
    fixture organisation's, so no synthetic name repeats a fixture one.
    """
    rows = list(fixtures.alias_rows())
    n_new = (n_aliases - len(rows)) // 2
    heads = sorted({" ".join(fixtures.org_name(k).split()[:2])
                    for k in range(fixtures.N_ORGS)})
    rng = random.Random(f"alias_50k:dict:{seed}")
    names: List[str] = []
    seen = set()
    while len(names) < n_new:
        head = heads[rng.randrange(len(heads))]
        chain = [rng.randrange(100, 10_000)]
        for _ in range(rng.randrange(3)):
            chain.append(chain[-1] * 10 + rng.randrange(10))
        for number in chain:
            name = f"{head} {number}"
            if name not in seen and len(names) < n_new:
                seen.add(name)
                names.append(name)
    next_eid = 1 + max(r[1] for r in rows)
    for off, canon in enumerate(names):
        rows.append((canon, next_eid + off, canon, "ORG", 1.0))
        rows.append((canon.upper(), next_eid + off, canon, "ORG", 0.5))
    return rows


def alias_50k(seed: int, n_pages: int = 120) -> Corpus:
    """Bulk-style articles naming organisations from a 50k-alias dictionary."""
    aliases = alias_dictionary(seed)
    rng = random.Random(f"alias_50k:pages:{seed}")
    people, _fixture_orgs, cities = _fixture_people_orgs_cities()
    orgs = sorted({r[2] for r in aliases if r[3] == "ORG"})
    corpus = Corpus("alias_50k", alias_rows=aliases, n_files=8)
    for i in range(n_pages):
        url = _url(rng, i)
        sentences, planted = article_sentences(rng, people, orgs, cities)
        # the title names an org too, as the repo's bulk pages do
        html = _page(i, f"Report {i}: {planted[0][0]}", _paragraphs(sentences))
        corpus.rows.append(_row(url, i, html))
        corpus.planted[url] = planted
    return corpus


WORKLOADS = {"crawl_large": crawl_large, "alias_50k": alias_50k}


# ---------------------------------------------------------------------------
# parquet output
# ---------------------------------------------------------------------------

def write_pages(corpus: Corpus, path: str) -> None:
    """Write the pages rows as ``corpus.n_files`` parquet files under path."""
    os.makedirs(path, exist_ok=True)
    n = corpus.n_pages
    per_file = -(-n // corpus.n_files)
    for f in range(corpus.n_files):
        chunk = corpus.rows[f * per_file:(f + 1) * per_file]
        cols = list(zip(*chunk)) if chunk else [[]] * 5
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=t.type)
             for c, t in zip(cols, PAGES_ARROW_SCHEMA)],
            schema=PAGES_ARROW_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


def write_aliases(rows: List[tuple], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=t.type)
         for c, t in zip(cols, ALIAS_ARROW_SCHEMA)],
        schema=ALIAS_ARROW_SCHEMA)
    pq.write_table(table, os.path.join(path, "aliases.parquet"))
